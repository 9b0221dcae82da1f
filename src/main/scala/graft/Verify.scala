package graft
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each [[SparkEntry.registry]] query's
  * result → parquet, plus oracle_sql.json (`{name: sql}`) for the
  * driver's DuckDB compare and manifest.json, the run's record. */
object Verify {
  /** The [[Query.DumpFirst]] entries, then the rest, each in declaration
    * order: the costliest dumps go first, so a dump-budget squeeze
    * truncates only the cheap tail. */
  private[graft] def dumpOrder(qs: Seq[Query]): Seq[Query] = {
    val (first, rest) = qs.partition(_.roles(Query.DumpFirst))
    first ++ rest
  }

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
    val attempted = dumpOrder(SparkEntry.registry).filter(q => only.forall(_.contains(q.name)))
    attempted.foreach { q =>
      val name = q.name
      val tq = System.nanoTime()
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
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
    val mapper = new ObjectMapper()
    val oracles = mapper.createObjectNode()
    SparkEntry.registry.foreach(q => oracles.put(q.name, q.oracle))
    mapper.writeValue(new java.io.File(s"$outDir/oracle_sql.json"), oracles)
    // Failure-loud gate record (VERDICT r6 item 3): an empty driver
    // correctness artifact must be distinguishable from "Verify never
    // ran". attempted/succeeded/failed counts + the failing names.
    // dump_total_sec / slowest make a Spark-side gate-cost regression
    // visible in the artifact (the DuckDB-side twin is check.py's
    // total_oracle_sec) — the r6/r7 correctness windows expired with
    // no in-artifact evidence of where the time went.
    // pinned_sf001: the oracles check.py skips off the sf0.01 fixture
    val manifest = mapper.createObjectNode()
    def names(field: String, ns: Seq[String]): Unit = {
      val a = manifest.putArray(field); ns.foreach(n => a.add(n))
    }
    manifest.put("attempted", attempted.size)
      .put("succeeded", attempted.size - failed.size)
      .put("failed", failed.size)
    names("failed_queries", failed.sorted.toSeq)
    manifest.put("dump_total_sec", math.round(dumpSec))
      .put("slowest_query", slowest._1)
      .put("slowest_sec", math.round(slowest._2))
      .put("epoch_sec", System.currentTimeMillis() / 1000)
    names("pinned_sf001", SparkEntry.registry.filter(_.roles(Query.PinnedSf001)).map(_.name))
    mapper.writeValue(new java.io.File(s"$outDir/manifest.json"), manifest)
    System.err.println(s"[verify] manifest: $manifest")
    spark.stop()
  }
}
