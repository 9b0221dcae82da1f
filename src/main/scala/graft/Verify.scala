package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (not used by the driver): comma-separated query
    // names — dump only those, for fast local iteration on one oracle
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var slowest = ("", 0.0)
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // dump the measured-slowest queries FIRST (round 16): the r15 dump
    // spent 40 of its 331 s on q_recommend_charts alone; front-loading
    // the known-expensive names means any future dump-budget squeeze
    // truncates only the cheap tail, never the queries that cost the
    // most to re-dump. The order is (dumpFirst index, name):
    // SparkEntry.queries is a hash map, so its own iteration order is
    // not a specification.
    val dumpFirst = Seq("q_recommend_charts", "q_coret_umap", "q_coret_tsne",
      "q_coret_lda", "q_scagnostics", "q_coret_dbscan")
    val ordered = attempted.toSeq.sortBy { case (name, _) =>
      val i = dumpFirst.indexOf(name); (if (i >= 0) i else dumpFirst.size, name)
    }
    ordered.foreach { case (name, fn) =>
      val tq = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - tq) / 1e9
      if (sec > slowest._2) slowest = (name, sec)
      // operators persist self-join inputs; don't let ~160 queries
      // accumulate pinned cache OR registry refs in one session.
      // releaseFrames (NOT releaseAll): frames and their tracked
      // strong refs drop per query, while CodebookCache survives —
      // cross-query fit reuse is the point of a gate session (the ANN
      // queries share their deterministic IVF fits here)
      graft.CacheScope.releaseFrames()
      spark.catalog.clearCache()
    }
    System.err.println(s"[verify] codebook fit reuse: ${CodebookCache.hits} hits")
    val dumpSec = (System.nanoTime() - t0) / 1e9
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure-loud gate record (VERDICT r6 item 3): an empty driver
    // correctness artifact must be distinguishable from "Verify never
    // ran". attempted/succeeded/failed counts + the failing names.
    // dump_total_sec / slowest make a Spark-side gate-cost regression
    // visible in the artifact (the DuckDB-side twin is check.py's
    // total_oracle_sec) — the r6/r7 correctness windows expired with
    // no in-artifact evidence of where the time went.
    val manifest =
      s"""{"attempted": ${attempted.size}, "succeeded": ${attempted.size - failed.size}, "failed": ${failed.size}, "failed_queries": ${failed.sorted.map(q).mkString("[", ",", "]")}, "dump_total_sec": ${math.round(dumpSec)}, "slowest_query": ${q(slowest._1)}, "slowest_sec": ${math.round(slowest._2)}, "epoch_sec": ${System.currentTimeMillis() / 1000}}"""
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    System.err.println(s"[verify] manifest: $manifest")
    spark.stop()
  }
}
