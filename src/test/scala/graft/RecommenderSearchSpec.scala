package graft

import graft.operators.TStep
import graft.plans.{Lineage, Recommender}
import graft.profiler.Profiler

/** Round-5 search-pipeline guarantees: tsne/umap participate in the
  * default search at reference scale (the reference's default tlist
  * includes both — main.py:91, T.py:16,44,180), the cost gate and the
  * off-switch work, and tpath execution failures are reported instead
  * of silently swallowed. */
class RecommenderSearchSpec extends SparkSpec {
  import spark.implicits._

  /** Reference-scale fixture (≤ searchEmbedMaxRows): a key, two numeric
    * columns with distinct shapes — enough for 2-dim xy channels. */
  private def fixture = (1 to 60).map { i =>
    (s"id$i", i * 1.0, math.sin(i * 0.5) * 20 + 30, 120.0 - 2.0 * i)
  }.toDF("name", "a v", "b v", "c v")

  private def embedChannels(rec: graft.plans.Recommendation): Seq[String] =
    rec.visList.flatMap(_.channels.values).filter(v =>
      v.startsWith("tsne") || v.startsWith("umap"))

  test("default search at reference scale emits tsne/umap-channel scatters") {
    val (pdf, profile) = Profiler.profile(fixture)
    assert(profile.rows <= EngineConfig.default.searchEmbedMaxRows)
    val rec = Recommender.recommend(pdf, profile, spark, charts = Seq("scatter"))
    assert(embedChannels(rec).nonEmpty,
      s"no tsne/umap channel in ${rec.visList.map(_.channels)}")
    // and they are real 2-d embeddings feeding xy, not colors
    assert(rec.visList.exists(c => c.channels.get("xy").exists(v =>
      v.startsWith("tsne") || v.startsWith("umap"))))
  }

  test("searchEmbedTs=false restores the exclusion; row bound gates by cost") {
    val (pdf, profile) = Profiler.profile(fixture)
    val off = Recommender.recommend(pdf, profile, spark,
      EngineConfig(searchEmbedTs = false), charts = Seq("scatter"))
    assert(embedChannels(off).isEmpty)
    // shrinking the row bound below the table size excludes embeddings
    // only when the sampled-fit fallback is also off (round 7 default:
    // above the bound the search switches to the sampled fit instead)
    val bounded = Recommender.recommend(pdf, profile, spark,
      EngineConfig(searchEmbedMaxRows = 10, searchEmbedSampleFit = false),
      charts = Seq("scatter"))
    assert(embedChannels(bounded).isEmpty)
  }

  test("searchEmbedSampleFit: 10k-row search emits embedding scatters via sampled fit") {
    // 10k rows — 25× the exact-fit bound. By DEFAULT (round 7), search
    // must still recommend tsne/umap xy scatters, fitted on a bounded
    // digest sample and transformed distributed (CoreT.embedSampled);
    // with the flag off, the reference's hard scale exclusion stands.
    val big = (1 to 10000).map { i =>
      (s"id$i", i * 1.0, math.sin(i * 0.05) * 20 + 30, 120.0 - 0.02 * i)
    }.toDF("name", "a v", "b v", "c v")
    val (pdf, profile) = Profiler.profile(big)
    assert(profile.rows > EngineConfig.default.searchEmbedMaxRows)
    assert(EngineConfig.default.searchEmbedSampleFit,
      "sampled fit must be the default — a default-off flag makes the " +
        "public search API silently driver-bound above 400 rows")
    val rec = Recommender.recommend(pdf, profile, spark, charts = Seq("scatter"))
    assert(rec.visList.exists(c => c.channels.get("xy").exists(v =>
      v.startsWith("tsne") || v.startsWith("umap"))),
      s"no sampled-fit embedding scatter in ${rec.visList.map(_.channels)}")
    val off = Recommender.recommend(pdf, profile, spark,
      EngineConfig(searchEmbedSampleFit = false), charts = Seq("scatter"))
    assert(embedChannels(off).isEmpty,
      "searchEmbedSampleFit=false must restore the reference's scale exclusion")
    CacheScope.releaseAll()
  }

  test("slist: explicit default set scores identically; a subset changes scores only") {
    val (pdf, profile) = Profiler.profile(fixture)
    def run(slist: Option[Set[String]]) =
      Recommender.recommend(pdf, profile, spark,
        EngineConfig(searchEmbedTs = false), charts = Seq("scatter"), slist = slist)
    val default = run(None)
    // explicitly enabling exactly the engine's default metric set must
    // reproduce the default scores bit for bit (mean-of-enabled identity)
    val explicit = run(Some(Set("sca_outlying", "sca_skewed", "sca_striated",
      "sca_stringy", "sca_straight", "sca_clumpy", "sca_monotonic", "sca_cdm")))
    assert(default.visList.map(c => c.signature -> c.score).sortBy(_._1) ==
      explicit.visList.map(c => c.signature -> c.score).sortBy(_._1))
    // a strict metric subset changes scores (and may therefore rotate
    // which charts survive the per-family top-k): on the signatures
    // both runs kept, the scores must differ
    val subset = run(Some(Set("sca_monotonic")))
    val ds = default.visList.map(c => c.signature -> c.score).toMap
    val ss = subset.visList.map(c => c.signature -> c.score).toMap
    val shared = ds.keySet & ss.keySet
    assert(shared.nonEmpty)
    assert(shared.exists(sig => ds(sig) != ss(sig)),
      s"single-metric slist left every shared score unchanged: $shared")
  }

  test("tpath execution failure is reported once per coreT, search still completes") {
    val (pdf, profile) = Profiler.profile(fixture)
    // sabotage: the profile promises columns the frame no longer has,
    // so every tpath select throws at execution time
    val broken = pdf.withColumnRenamed("a v", "gone")
      .withColumnRenamed("b v", "gone2").withColumnRenamed("c v", "gone3")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val rec = Recommender.recommend(broken, profile, spark,
      onExecutionFailure = (t, fp, _) => failures.add((t, fp)))
    // forgiving like the reference: no charts, but no crash either
    assert(rec.visList.isEmpty)
    val reported = failures.toArray(Array.empty[(String, String)])
    assert(reported.nonEmpty, "failures were swallowed silently")
    // at most one report per core T (log flooding guard)
    val perT = reported.groupBy(_._1).values.map(_.length)
    assert(perT.forall(_ == 1), reported.mkString(", "))
    // but the result counts every failed execution
    assert(rec.failedTpaths >= reported.length, s"${rec.failedTpaths} < ${reported.length}")
  }

  test("survivor data equals the key-join of the replayed channels, capped at maxChartRows") {
    val (pdf, profile) = Profiler.profile(fixture)
    val maxChartRows = 4000
    val rec = Recommender.recommend(pdf, profile, spark, maxChartRows = maxChartRows)
    assert(rec.visList.map(_.chartType.split("_").last).toSet == Set("scatter", "line", "bar"),
      rec.visList.map(_.chartType).toString)
    assert(rec.failedTpaths == 0)
    val engine = new Engine(spark)
    val key = profile.keyColumn.toSeq
    def rowSet(rows: Seq[Map[String, Any]]): Set[Seq[(String, Any)]] =
      rows.map(_.toSeq.sortBy(_._1)).toSet
    rec.visList.foreach { c =>
      assert(c.data.nonEmpty, s"${c.signature}: no data")
      // each channel replayed from its "coreT | fingerprint" description
      val frames = c.channels.toSeq.map { case (ch, desc) =>
        val Array(coreT, fp) = desc.split(" \\| ", 2)
        val frame = engine.addVisualization(pdf, Lineage.toJson(stepsOf(fp)), coreT,
          profiled = Some((pdf, profile))).getOrElse(fail(s"${c.signature}: $ch did not replay"))
        (frame, c.columns(ch))
      }
      val (joined, cols) = frames.tail.foldLeft(frames.head) { case ((l, acc), (r, rc)) =>
        val (j, renamed) = Recommender.joinOnKey(key)(l, r, rc)
        (j, acc ++ renamed)
      }
      val expected = joined.select((key ++ cols).distinct.map(joined.col): _*)
        .limit(maxChartRows).collect().map(r => r.schema.fieldNames.zip(r.toSeq).toMap).toSeq
      assert(c.data.size <= maxChartRows)
      assert(rowSet(c.data) == rowSet(expected), s"${c.signature}: data differs from the replay")
    }
  }

  /** Inverse of TPathCandidate.fingerprint: steps
    * `op#inType#inCols#outMode#outName` joined by " - ". */
  private def stepsOf(fp: String): Seq[TStep] =
    if (fp.isEmpty) Nil
    else fp.split(" - ").toSeq.map { s =>
      val Array(op, inType, inCols, outMode, outName) = s.split("#", -1)
      TStep(op, inType, inCols.split(",").toSeq.filter(_.nonEmpty), outMode,
        Some(outName).filter(_.nonEmpty))
    }
}
