package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheScope, SparkEntry}

/** `batch`: a fixed set of the headline queries over the bundled
  * TPC-H-style tables, in a fixed order, each run after the
  * operator cache is released (blocking, so that the clean-up lands
  * outside the timed operation). A query is materialised by the checksum
  * aggregation, which reads every column of every row as a noop write
  * would and yields the row count and checksum checked against the pins.
  * A run makes [[Passes]] identical passes; the first is the warm-up
  * (class loading, JIT and code generation) and is not measured. */
object Batch {

  /** The batch query set, in the order every pass runs it: queries the
    * curation roadmap targets first (MinHash and SimHash dedup, BM25
    * retrieval) and vector retrieval. */
  val Queries: Seq[String] = Seq(
    "q_dedup_minhash_lsh", "q_dedup_simhash", "q_bm25_topk", "q_sim_bruteforce_topk")

  /** Retrieval queries, lexical and vector: requests of kind `search`,
    * whose summed cost in a pass is `search_cpu_s`. */
  val Search: Seq[String] = Seq("q_bm25_topk", "q_sim_bruteforce_topk")

  /** Passes per run, the first of them the warm-up. */
  val Passes = 2

  val Tables: Seq[String] = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** Row count and an order-insensitive checksum: the sum over rows of
    * a 64-bit hash of the row, with floating values rounded to 6 places
    * so the last bits of a parallel sum cannot move it. */
  def checksum(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(col(s"`${f.name}`"), x => round(x, 6))
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def run(ctx: Ctx, pins: Map[String, (Long, String)]): Unit = {
    val all = SparkEntry.queries
    for (pass <- 0 until Passes) {
      val measured = pass > 0
      if (pass == 1) ctx.startWindow()
      def op[A](kind: String, name: String)(body: => A): Option[(A, Cost)] =
        ctx.op(if (measured) kind else "warmup", name)(body)
      var total = Cost.Zero
      CacheScope.releaseAll(blocking = true)
      op("ingest", "batch.load")(Tables.foreach(t =>
        ctx.spark.read.parquet(s"${ctx.dataDir}/$t.parquet").write.format("noop").mode("overwrite").save())
      ).foreach { case (_, c) =>
        total += c
        if (measured) ctx.add("ingest", c)
      }
      var search = Cost.Zero
      Queries.foreach { name =>
        CacheScope.releaseAll(blocking = true)
        val kind = if (Search.contains(name)) "search" else "query"
        op(kind, s"query.$name")(checksum(all(name)(ctx.spark, ctx.dataDir))).foreach { case (sum, c) =>
          ctx.check(pins.get(name).contains(sum), s"$name: rows/checksum $sum, pinned ${pins.get(name)}")
          total += c
          if (measured) {
            ctx.add("step", c)
            ctx.add(s"query.${name}_s", c.wallMs / 1000)
            if (Search.contains(name)) search += c
          }
        }
      }
      CacheScope.releaseAll(blocking = true)
      if (measured) {
        ctx.add("search", search)
        ctx.add("cycle", total)
      }
    }
  }
}

/** The pinned batch outputs: one `name rows checksum` line per query. A
  * failed check prints the observed pair; a deliberate change of a
  * query's semantics updates this file by hand. */
object Pins {
  def read(f: File): Map[String, (Long, String)] =
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, c) = l.split("\\s+")
        n -> ((r.toLong, c))
      }.toMap
      finally src.close()
    }
}
