package graft

import graft.operators.{CoreT, Rank, TBasic, TStep}

class TBasicSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, 10.0, 2.0, "a"),
    (2L, 5.0, 0.0, "b"),
    (3L, 0.0, 0.0, "a"),
    (4L, -3.0, 4.0, "c")
  ).toDF("k", "x", "y", "cat")

  test("rowSum / rowMul / rowSub compose as expressions") {
    val r = TBasic(df, TStep("sum", inCols = Seq("x", "y"), outName = Some("s")))
      .select("k", "s").as[(Long, Double)].collect().toMap
    assert(r == Map(1L -> 12.0, 2L -> 5.0, 3L -> 0.0, 4L -> 1.0))

    val m = TBasic(df, TStep("mul", inCols = Seq("x", "y"), outName = Some("m")))
      .select("k", "m").as[(Long, Double)].collect().toMap
    assert(m == Map(1L -> 20.0, 2L -> 0.0, 3L -> 0.0, 4L -> -12.0))

    val s = TBasic(df, TStep("sub", inCols = Seq("x", "y"), outName = Some("d")))
      .select("k", "d").as[(Long, Double)].collect().toMap
    assert(s == Map(1L -> 8.0, 2L -> 5.0, 3L -> 0.0, 4L -> -7.0))
  }

  test("rowDiv follows reference semantics: 0/0→0, x/0→±inf, null→0") {
    val d = Seq((1L, Some(10.0), Some(2.0)), (2L, Some(5.0), Some(0.0)),
      (3L, Some(0.0), Some(0.0)), (4L, Some(-3.0), Some(0.0)),
      (5L, None: Option[Double], Some(2.0))).toDF("k", "a", "b")
    val r = TBasic(d, TStep("div", inCols = Seq("a", "b"), outName = Some("q")))
      .select("k", "q").as[(Long, Double)].collect().toMap
    assert(r(1L) == 5.0)
    assert(r(2L) == Double.PositiveInfinity)
    assert(r(3L) == 0.0)
    assert(r(4L) == Double.NegativeInfinity)
    assert(r(5L) == 0.0)
  }

  test("rank method=first ascending, ties broken by key") {
    val d = Seq((1L, 5.0), (2L, 1.0), (3L, 5.0), (4L, 0.5)).toDF("k", "v")
    val r = TBasic(d, TStep("rank", inCols = Seq("v")), carryCols = Seq("k"))
      .select("k", "rank v").as[(Long, Long)].collect().toMap
    assert(r == Map(4L -> 1L, 2L -> 2L, 1L -> 3L, 3L -> 4L))
  }

  test("zipWithIndexRank matches window rank semantics") {
    val d = (1 to 100).map(i => (i.toLong, (i % 10).toDouble)).toDF("k", "v")
    val a = TBasic(d, TStep("rank", inCols = Seq("v")), carryCols = Seq("k"))
      .select($"k", $"rank v".as("r")).as[(Long, Long)].collect().toMap
    val b = Rank.zipWithIndexRank(d, "v", Seq("k"), "r")
      .select("k", "r").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("rank via TBasic switches to the zipWithIndex path above the row threshold, same results") {
    val d = (1 to 200).map(i => (i.toLong, (i % 13).toDouble)).toDF("k", "v")
    val windowed = TBasic(d, TStep("rank", inCols = Seq("v")), carryCols = Seq("k"))
      .select($"k", $"rank v").as[(Long, Long)].collect().toMap
    val scaled = TBasic(d, TStep("rank", inCols = Seq("v")), carryCols = Seq("k"),
      CoreT.Route(approxRows = 200L, windowRankMaxRows = 100L)) // force the scale path
      .select($"k", $"rank v").as[(Long, Long)].collect().toMap
    assert(windowed == scaled)
  }

  test("nominalize assigns 0-based codes by sorted distinct values") {
    val r = TBasic(df, TStep("nominalize", inCols = Seq("cat"), outName = Some("code")))
      .select("cat", "code").distinct().as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }

  test("nominalize scale path: zipWithIndex codes == window codes, no Window, no hint") {
    // above windowMaxRows the code table is ranked by the
    // range-partitioned zipWithIndex path (the nominal rule bounds
    // distinct values at ~5% of ROWS — corpus-scaled, so neither the
    // single-partition window nor a forced broadcast survives scale);
    // both paths must assign identical codes
    val wide = spark.range(2000).selectExpr("id", "concat('c', id % 137) AS cat")
    def codesOf(approxRows: Long) = graft.operators.TBasic
      .nominalize(wide, "cat", "code", approxRows = approxRows)
      .select("cat", "code").distinct().as[(String, Long)].collect().toMap
    // routing keys on a DISTINCT bound, not raw rows: in the mid band
    // (1M rows) the bound is MEASURED (approx_count_distinct → 137 →
    // window path); above the band (10M rows) the measurement itself
    // would be a corpus scan, so the scale path is taken outright
    val small = codesOf(approxRows = 1000000L)  // window + broadcast path
    val large = codesOf(approxRows = 10000000L) // zipWithIndex path
    assert(small.size == 137 && small == large)
    // and the scale path's plan carries neither a Window nor a hint
    val scaled = graft.operators.TBasic
      .nominalize(wide, "cat", "code", approxRows = 10000000L)
    val analyzed = scaled.queryExecution.analyzed
    import org.apache.spark.sql.catalyst.plans.logical.{ResolvedHint, Window => LWindow}
    assert(analyzed.collect { case h: ResolvedHint => h }.isEmpty,
      "scale path must not force a broadcast of the corpus-scaled code table")
    assert(analyzed.collect { case w: LWindow => w }.isEmpty,
      "scale path must not plan a single-partition window")
  }

  test("nominalize mid-band routing measures cardinality — a near-unique column scales") {
    // the old heuristic ASSUMED distinct ≤ rows/20 (the nominal rule),
    // but 'nominalize' steps run on arbitrary spec-named columns: a
    // near-unique column in the mid band (windowMaxRows < rows ≤
    // 20·windowMaxRows) must be routed by the MEASURED distinct count,
    // not funneled through a single-partition window sort
    import org.apache.spark.sql.catalyst.plans.logical.{ResolvedHint, Window => LWindow}
    val nearUnique = spark.range(2000).selectExpr("id", "concat('u', id) AS cat")
    val scaled = graft.operators.TBasic.nominalize(
      nearUnique, "cat", "code", approxRows = 2000L, windowMaxRows = 100L)
    val analyzed = scaled.queryExecution.analyzed
    assert(analyzed.collect { case w: LWindow => w }.isEmpty,
      "a measured near-unique mid-band column must take the scale path")
    assert(analyzed.collect { case h: ResolvedHint => h }.isEmpty)
    // value parity with the window path on the same frame
    val viaWindow = graft.operators.TBasic
      .nominalize(nearUnique, "cat", "code")
      .select("cat", "code").distinct().as[(String, Long)].collect().toMap
    val viaScale = scaled
      .select("cat", "code").distinct().as[(String, Long)].collect().toMap
    assert(viaWindow.size == 2000 && viaWindow == viaScale)
    // and a caller-supplied profiled estimate overrides the measurement
    val forced = graft.operators.TBasic.nominalize(
      nearUnique, "cat", "code", approxRows = 2000L, windowMaxRows = 100L,
      distinctEstimate = 50L)
    assert(forced.queryExecution.analyzed
      .collect { case w: LWindow => w }.nonEmpty,
      "a trusted small distinctEstimate keeps the window path")
  }

  test("select by dtype family and output modes") {
    val num = TBasic(df, TStep("select", inType = "num"))
    assert(num.columns.toSeq == Seq("k", "x", "y"))
    val newt = TBasic(df, TStep("sum", inCols = Seq("x", "y"),
      outMode = "new_table", outName = Some("s")), carryCols = Seq("k"))
    assert(newt.columns.toSeq == Seq("k", "s"))
    val repl = TBasic(df, TStep("sum", inCols = Seq("x", "y"),
      outMode = "replace", outName = Some("s")))
    assert(repl.columns.toSeq == Seq("k", "cat", "s"))
  }

  test("minMaxNormalize maps to [0,1], constant column to 0") {
    val d = Seq((1L, 0.0, 7.0), (2L, 5.0, 7.0), (3L, 10.0, 7.0)).toDF("k", "x", "c")
    val r = TBasic.minMaxNormalize(d, Seq("x", "c"))
      .select("k", "x", "c").as[(Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(1L -> ((0.0, 0.0)), 2L -> ((0.5, 0.0)), 3L -> ((1.0, 0.0))))
  }

  test("exactPercentiles returns the value at 1 + (n-1)*p div 100, ties included") {
    // 1..100 shuffled: position arithmetic is transparent
    val d = scala.util.Random.shuffle((1 to 100).toList)
      .map(_.toDouble).toDF("v")
    val out = Rank.exactPercentiles(d, "v", Seq(0, 1, 25, 50, 99, 100))
      .as[(Int, Double)].collect().toMap
    // n=100 → pos = 1 + 99p/100: p0→1, p1→1, p25→25, p50→50, p99→99, p100→100
    assert(out == Map(0 -> 1.0, 1 -> 1.0, 25 -> 25.0, 50 -> 50.0,
      99 -> 99.0, 100 -> 100.0))
    // heavy ties: covering interval picks the duplicated value
    val ties = (Seq.fill(90)(5.0) ++ Seq.fill(10)(9.0)).toDF("v")
    val t = Rank.exactPercentiles(ties, "v", Seq(50, 95)).as[(Int, Double)].collect().toMap
    assert(t == Map(50 -> 5.0, 95 -> 9.0))
  }

  test("exactPercentiles ignores nulls and is partitioning-invariant") {
    val d = ((1 to 200).map(i => Some((i % 37).toDouble)) ++ Seq(None, None))
      .toDF("v")
    def run(x: org.apache.spark.sql.DataFrame) =
      Rank.exactPercentiles(x, "v", Seq(10, 50, 90)).as[(Int, Double)].collect().toSet
    assert(run(d) == run(d.repartition(17)) && run(d).size == 3)
  }

  test("groupedPercentiles: exact per-group order statistics, nulls ignored") {
    // group a: 1..8 (p25=2, p50=4, p75=6); group b: 10,20,30 (rank
    // 1+(2·p)//100 → p25=10, p50=20, p75=30... 1+2*25//100=1, 1+50*2//100=2, 1+75*2//100=2)
    val d = (Seq(("a", None), ("b", None)) ++
      (1L to 8L).map(v => ("a", Some(v))) ++
      Seq(10L, 20L, 30L).map(v => ("b", Some(v))))
      .toDF("g", "v")
    val out = Rank.groupedPercentiles(d, "g", "v", Seq(25, 50, 75))
      .as[(String, Int, Option[Long])].collect()
      .map(r => (r._1, r._2) -> r._3.get).toMap
    assert(out(("a", 25)) == 2L && out(("a", 50)) == 4L && out(("a", 75)) == 6L)
    assert(out(("b", 25)) == 10L && out(("b", 50)) == 20L && out(("b", 75)) == 20L)
    // matches the ungrouped op on each slice
    for (g <- Seq("a", "b")) {
      val single = Rank.exactPercentiles(d.where($"g" === g), "v", Seq(25, 50, 75))
        .as[(Int, Option[Long])].collect().map(r => r._1 -> r._2.get).toMap
      assert(Seq(25, 50, 75).forall(p => single(p) == out((g, p))), s"group $g")
    }
  }

  test("robustScale: exact quartiles, null passthrough, zero-IQR rejected loudly") {
    // 1..8: p25 = 2, median = 4, p75 = 6 (rank 1+(7·p)//100), IQR = 4
    val d = ((1L to 8L).map(Some(_)) :+ None).toDF("v")
    val out = Rank.robustScale(d, "v", "rs")
      .as[(Option[Long], Option[Double])].collect().toMap
    assert(out(Some(8L)) == Some(1.0) && out(Some(4L)) == Some(0.0) &&
      out(Some(2L)) == Some(-0.5))
    assert(out(None).isEmpty, "null input scales to null")
    val e = intercept[IllegalArgumentException] {
      Rank.robustScale(Seq(5.0, 5.0, 5.0, 5.0).toDF("v"), "v", "rs")
    }
    assert(e.getMessage.contains("IQR"))
  }

  test("bucketizeByQuantiles: first-sorted-position buckets, ties share, nulls pass") {
    // values 1,2,2,2,3,4 (n=6) into 3 buckets: min-ranks 1,2,2,2,5,6 →
    // buckets ((rk−1)·3) div 6 = 0,0,0,0,2,2 — the three tied 2s stay
    // together in bucket 0 even though NTILE would split them
    val d = (Seq(1L, 2L, 2L, 2L, 3L, 4L).map(Some(_)) :+ None).toDF("v")
    val out = Rank.bucketizeByQuantiles(d, "v", "bucket", nBuckets = 3)
      .as[(Option[Long], Option[Long])].collect()
    val byV = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byV(Some(1L)) == Set(Some(0L)) && byV(Some(2L)) == Set(Some(0L)))
    assert(byV(Some(3L)) == Set(Some(2L)) && byV(Some(4L)) == Set(Some(2L)))
    assert(byV(None) == Set(None), "null input gets a null bucket")
    // partitioning invariance
    (1 to 3).foreach { i =>
      val again = Rank.bucketizeByQuantiles(d.repartition(i), "v", "bucket", 3)
        .as[(Option[Long], Option[Long])].collect().sortBy(_._1)
      assert(again.toSeq == out.sortBy(_._1).toSeq, s"parts=$i")
    }
    // uniform 1..10 into 10 buckets: a clean decile per value
    val dec = Rank.bucketizeByQuantiles((1L to 10L).toDF("v"), "v", "b", 10)
      .as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(v => dec(v) == v - 1))
  }

  test("bucketizeByQuantiles: NaN passes through like NULL, never occupies the top bucket") {
    // without the guard NaN sorts above +Inf and would silently take
    // the last bucket — AND shift every real value's quantile by
    // inflating n. Buckets over {1,2,3,4} must be the clean quartiles.
    val d = Seq(1.0, 2.0, Double.NaN, 3.0, 4.0).toDF("v")
    val out = Rank.bucketizeByQuantiles(d, "v", "bucket", nBuckets = 4)
      .collect().map(r => (r.getDouble(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val nanRows = out.filter(_._1.isNaN)
    assert(nanRows.length == 1 && nanRows.head._2.isEmpty,
      s"NaN row must get a NULL bucket: ${out.mkString(",")}")
    val real = out.filterNot(_._1.isNaN).toMap
    assert(real == Map(1.0 -> Some(0L), 2.0 -> Some(1L),
      3.0 -> Some(2L), 4.0 -> Some(3L)),
      s"real values must bucket over n=4 (NaN excluded from ranks): $real")
    // an all-NaN column is as bucketless as an all-NULL one — loud
    val e = intercept[IllegalArgumentException] {
      Rank.bucketizeByQuantiles(Seq(Double.NaN).toDF("v"), "v", "b", 2)
    }
    assert(e.getMessage.contains("non-NaN"))
  }
}
