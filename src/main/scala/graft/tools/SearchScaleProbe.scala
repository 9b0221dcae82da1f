package graft.tools

import graft.{Engine, LocalSession}
import graft.sources.Tables

/** End-to-end scale rehearsal of the §3.2 search pipeline at non-toy
  * scale: one `Engine.search` over sf0.1 lineitem (~600k rows, the
  * 1000× step from EngineSpec's 60-row fixture). Evidence-beats-
  * assertion for the claim that the recommender path survives scale:
  * every chart-frame collect is maxChartRows-bounded and every
  * rank/nominalize routes through the windowRankMaxRows scale path,
  * so wall-clock should grow with the profiled scan, not with chart
  * assembly. Usage: runMain graft.tools.SearchScaleProbe [sfDir]
  */
object SearchScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-search-scale")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")

    spark.range(1000000).selectExpr("sum(id)").collect() // codegen warm-up

    // the reference's spreadsheet shape: a handful of nominal dims +
    // numeric measures; lineitem's mixed-dtype slice exercises the
    // dim-cluster, nominalize, rank and chart-assembly paths at once
    val df = Tables.lineitem(spark, dir).select(
      "l_returnflag", "l_linestatus", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val nRows = df.count()

    // both profiler paths: exact distinct (default — one aggregation
    // over the rows exploded into one cell per column, grouped by
    // column index) and the documented 100 TB path (HLL distinct +
    // boundary re-count)
    for ((label, cfg) <- Seq(
        ("exact-nd", graft.EngineConfig.default),
        ("approx-nd", graft.EngineConfig.default.copy(approxDistinct = true)))) {
      val engine = new Engine(spark, cfg)
      val t0 = System.nanoTime()
      val (pdf, prof) = engine.profile(df)
      val tProfile = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val rec = graft.CacheScope.withCached {
        engine.search(df, profiled = Some((pdf, prof)))
      }
      val tSearch = (System.nanoTime() - t1) / 1e9
      println(f"[search-scale] cfg=$label rows=$nRows vis=${rec.visList.size} " +
        f"profile=$tProfile%.1f s search=$tSearch%.1f s " +
        f"total=${tProfile + tSearch}%.1f s graph_bytes=${rec.graphJson.length}")
    }
    spark.stop()
  }
}
