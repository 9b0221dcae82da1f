package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

import graft.operators.{CoreT, TStep}
import graft.plans.Lineage
import graft.streaming.StreamingDemo

class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def table = Seq.tabulate(60) { i =>
    (s"row$i", if (i % 3 == 0) "x" else "y", i * 1.0, 2.0 * i + 1, 100.0 - i)
  }.toDF("name", "grp", "a val", "b val", "c val")

  test("Engine.search runs the full pipeline with beautify") {
    val engine = new Engine(spark)
    val rec = engine.search(table)
    assert(rec.visList.nonEmpty)
    assert(rec.graphJson.contains("\"vis_list\""))
  }

  test("Engine.addTransform / addVisualization extend a lineage") {
    val engine = new Engine(spark)
    val base = Lineage.toJson(Seq(TStep("select",
      inCols = Seq("a val", "b val", "c val"), outMode = "new_table")))
    val (df2, json2) = engine.addTransform(table, base,
      TStep("sum", inCols = Seq("a val", "b val"), outMode = "append", outName = Some("ab")))
    assert(df2.columns.contains("ab"))
    assert(Lineage.fromJson(json2).size == 2)
    val vis = engine.addVisualization(table, base, "kmeans")
    assert(vis.isDefined)
    assert(vis.get.columns.contains("Category by KMeans"))
  }

  test("addVisualization rebuilds a sampled-fit embedding chart (search/addV routing parity)") {
    // a chart search recommended through the sampled tsne/umap path
    // must rebuild through the SAME path: 3000 rows is past umap's
    // exact-fit driver cap (2000), so without the routing the rebuild
    // of a recommended chart would throw
    val big = Seq.tabulate(3000) { i =>
      (s"row$i", i * 1.0, math.sin(i * 0.01) * 50, 100.0 - i * 0.03)
    }.toDF("name", "a val", "b val", "c val")
    val engine = new Engine(spark, EngineConfig(searchEmbedSampleFit = true))
    val base = Lineage.toJson(Seq(TStep("select",
      inCols = Seq("a val", "b val", "c val"), outMode = "new_table")))
    val vis = engine.addVisualization(big, base, "umap")
    assert(vis.isDefined)
    assert(vis.get.columns.toSeq.containsSlice(Seq("UMAP-1", "UMAP-2")))
    assert(vis.get.count() == 3000)
    CacheScope.releaseAll()
  }

  test("refines take the search's rank route") {
    // 50 keyed rows: past a 10-row rank bound the rank step takes the
    // zipWithIndex route (no Window in the plan), under the default
    // bound the window; the search's route plans the same
    val keyed = Seq.tabulate(50)(i => (s"row$i", (i * 7 % 13).toDouble, i * 1.0, 2.0 * i))
      .toDF("name", "a val", "b val", "c val")
    val rank = TStep("rank", inCols = Seq("a val"))
    def windowed(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst { case w: Window => w }.isDefined
    for ((cfg, window) <- Seq(EngineConfig(windowRankMaxRows = 10) -> false,
                              EngineConfig.default -> true)) {
      val engine = new Engine(spark, cfg)
      val (pdf, prof) = engine.profile(keyed)
      val (refined, _) = engine.addTransform(pdf, Lineage.toJson(Nil), rank,
        profiled = Some((pdf, prof)))
      assert(windowed(refined) == window, cfg)
      val searched = CoreT.transform(pdf, "null_num", Seq(rank), prof.keyColumn.toSeq,
        CoreT.route(prof, cfg)).get
      assert(windowed(searched) == window, cfg)
    }
  }

  test("buildChart assembles bar/scatter data from channel lineages") {
    val engine = new Engine(spark)
    val selNum = Lineage.toJson(Seq(TStep("select",
      inCols = Seq("a val", "b val"), outMode = "new_table")))
    val selCat = Lineage.toJson(Seq(TStep("select",
      inCols = Seq("grp"), outMode = "new_table")))

    val bar = engine.buildChart(table, "sum_bar",
      Map("x" -> (selCat, "null_nom1"), "y" -> (selNum, "null_num"))).get
    assert(bar.columns.toSeq == Seq("grp", "SUM(a val)", "SUM(b val)"))
    assert(bar.count() == 2) // x and y groups

    val count = engine.buildChart(table, "count_bar",
      Map("x" -> (selCat, "null_nom1"))).get
    val counts = count.as[(String, Long)].collect().toMap
    assert(counts == Map("x" -> 20L, "y" -> 40L))

    val selThree = Lineage.toJson(Seq(TStep("select",
      inCols = Seq("a val", "b val", "c val"), outMode = "new_table")))
    val scatter = engine.buildChart(table, "cat_scatter",
      Map("xy" -> (selThree, "pca"), "color" -> (selCat, "null_nom1"))).get
    assert(scatter.columns.toSet == Set("name", "PC1", "PC2", "grp"))
    assert(scatter.count() == 60)
  }

  test("reference-parity config applies the 400-row source cap") {
    val big = (1 to 1000).map(i => (s"r$i", i * 1.0, 2.0 * i, 3.0 * i))
      .toDF("name", "a", "b", "c")
    val engine = new Engine(spark, EngineConfig.referenceParity)
    val (pdf, prof) = engine.profile(big)
    assert(prof.rows == 400 && pdf.count() == 400)
  }

  test("search handles a timestamp-bearing real table (lineitem sf0.001)") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001").limit(800)
    val rec = new Engine(spark).search(li, charts = Seq("bar", "line"))
    assert(rec.visList.nonEmpty)
  }

  test("search handles a keyless table with date strings") {
    val df = Seq.tabulate(40) { i =>
      (f"${i % 12 + 1}%d/15/2020", if (i % 2 == 0) "a" else "b", i * 1.0, i * 3.0, 10.0 + i)
    }.toDF("when", "cat", "m1 v", "m2 v", "m3 v")
    val engine = new Engine(spark)
    val (pdf, prof) = engine.profile(df)
    assert(prof.keyColumn.contains("defaultindex")) // synthetic key
    assert(prof.column("when").get.logicalType == LogicalType.Date)
    val rec = engine.search(df, charts = Seq("bar"))
    assert(rec.visList.nonEmpty)
  }

  test("sessionize (batch): gap splits sessions, counts events") {
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val events = Seq(
      (1L, ts(0, 0), 1.0), (1L, ts(0, 10), 1.0), (1L, ts(0, 20), 1.0),
      (1L, ts(2, 0), 1.0), // > 30 min gap → new session
      (2L, ts(1, 0), 1.0)
    ).toDF("user_id", "ts", "value")
    val sessions = StreamingDemo.sessionize(events, gapMinutes = 30)
      .select($"user_id", $"n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(sessions(1L) == Seq(1L, 3L)) // two sessions: 3 events + 1 event
    assert(sessions(2L) == Seq(1L))
  }
}
