package graft

import graft.plans.{Enumerator, Load, Recommender}
import graft.profiler.Profiler
import graft.score.{Scagnostics, Significance}

class PlannerScoreSpec extends SparkSpec {
  import spark.implicits._

  // ── Load / Pareto ──────────────────────────────────────────────────
  test("Load dominance is the strict component-wise partial order") {
    assert(Load(1, 2, 3).dominates(Load(2, 2, 3)))
    assert(!Load(1, 2, 3).dominates(Load(1, 2, 3))) // equal → not dominated
    assert(!Load(1, 5, 3).dominates(Load(2, 2, 3))) // incomparable
  }

  // ── Enumerator ─────────────────────────────────────────────────────
  private def prof = {
    // 4 correlated real columns forming one cluster + a nominal + str key
    val df = (1 to 60).map { i =>
      (s"k$i", i % 3 match { case 0 => "a"; case 1 => "b"; case _ => "c" },
        i * 1.0, i * 1.0 + 1, i * 1.0 + 2, i * 2.0)
    }.toDF("name", "seg", "m one", "m two", "m three", "other")
    Profiler.profile(df)._2
  }

  test("null_nom1 / null_nom enumerate nominal selections") {
    val p = prof
    val nom1 = Enumerator.enumerate(p, "null_nom1")
    assert(nom1.size == 1 && nom1.head.steps.head.inCols == Seq("seg"))
    val nom = Enumerator.enumerate(p, "null_nom")
    assert(nom.head.steps.head.inCols == Seq("seg"))
  }

  test("numeric enumeration: depth-0 selects + arithmetic tree with closing selects") {
    val p = prof
    val pool = Enumerator.dedupe(Enumerator.enumerate(p, "pca"))
    assert(pool.nonEmpty)
    // depth-0 cluster select exists
    assert(pool.exists(tp => tp.steps.map(_.op) == Vector("select")))
    // tree nodes end with a closing select and contain arithmetic
    val arith = pool.filter(_.steps.exists(s => Set("sum", "sub", "mul", "div").contains(s.op)))
    assert(arith.nonEmpty)
    assert(arith.forall(_.steps.last.op == "select"))
    // canonical op order: non-decreasing basicTl index within each path
    val order = Enumerator.basicTl.zipWithIndex.toMap
    assert(arith.forall { tp =>
      val ops = tp.steps.map(_.op).filter(order.contains)
      ops == ops.sortBy(order)
    })
    // loads are monotone with depth
    assert(arith.forall(_.load.compute > 0))
  }

  test("Pareto pruning never removes a non-dominated sibling") {
    val p = prof
    val pool = Enumerator.enumerate(p, "pca")
    val loads = pool.map(_.load).distinct
    // no load in the pool strictly dominates ALL others at its depth
    // (weak sanity: the pool is an antichain-ish set, never empty)
    assert(loads.nonEmpty)
  }

  test("multi-cluster enumeration: depth≥2 paths, 2-col sub/div/mul, canonical order") {
    // name-substring clustering yields several 2-col clusters ("alpha",
    // "beta", "one", "two") plus the full numeric set (4-col)
    val df = (1 to 60).map { i =>
      (s"k$i", i * 1.0, i * 1.1, 1000.0 - i, 1000.0 - i * 1.2)
    }.toDF("key name", "alpha one", "alpha two", "beta one", "beta two")
    val p = Profiler.profile(df)._2
    assert(p.dimClusters.exists(_.size == 4)) // full numeric set
    val pool = Enumerator.dedupe(Enumerator.enumerate(p, "pca"))
    val arithOps = Set("sum", "sub", "mul", "div")
    // 2-col clusters enable sub (cost 10); div (40) and mul (50) over
    // the SAME cluster carry identical distance terms, so sum/sub
    // strictly dominate them — Pareto pruning removes them, exactly
    // the reference's sibling-dominance semantics (searchthread.py:546-558)
    assert(pool.exists(_.steps.exists(_.op == "sub")))
    assert(!pool.exists(_.steps.exists(_.op == "div")))
    assert(!pool.exists(_.steps.exists(_.op == "mul")))
    // depth ≥ 2 under DEFAULT pruning: a two-step path's load is the
    // one-step sibling's load plus a strictly positive increment, so
    // the adjacent-node dominance test prunes EVERY deeper path — the
    // reference's PRUNINGDEPTH=1 config makes the tree effectively
    // depth-1 (searchthread.py:386-409); replicated here
    val deep = pool.filter(_.steps.count(s => arithOps.contains(s.op)) >= 2)
    assert(deep.isEmpty)
    // with pruning disabled (pruningDepth > MAXTPATHDEPTH = 5) the deeper
    // paths materialize
    val unpruned = Enumerator.dedupe(Enumerator.enumerate(p, "pca",
      EngineConfig(pruningDepth = 6)))
    assert(unpruned.exists(_.steps.count(s => arithOps.contains(s.op)) >= 2))
    // canonical basicTl order within every path
    val order = Enumerator.basicTl.zipWithIndex.toMap
    pool.foreach { tp =>
      val ops = tp.steps.map(_.op).filter(order.contains)
      assert(ops == ops.sortBy(order), tp.fingerprint)
    }
    // no duplicates; pruning keeps the space bounded
    assert(pool.map(_.fingerprint).distinct.size == pool.size)
    assert(pool.size < 500, s"pool exploded: ${pool.size}")
    assert(pool.size < unpruned.size) // pruning really prunes
  }

  test("alignment rule: DM channels from different tpaths are rejected") {
    val df = Seq.tabulate(60) { i =>
      (s"n$i", i * 1.0, 2.0 * i + 1, 150.0 - i, (i % 3).toDouble)
    }.toDF("name", "a v", "b v", "c v", "d v")
    val (pdf, profile) = Profiler.profile(df)
    val rec = Recommender.recommend(pdf, profile, spark, charts = Seq("scatter"))
    // every cat_scatter's xy and color channels share one tpath
    rec.visList.filter(_.chartType == "cat_scatter").foreach { c =>
      val xyTp = c.channels("xy").split('|').last.trim
      val colorTp = c.channels("color").split('|').last.trim
      assert(xyTp == colorTp, c.channels.toString)
    }
  }

  test("null_num1 includes arithmetic new_table steps over >2 clusters") {
    val p = prof
    val pool = Enumerator.enumerate(p, "null_num1")
    assert(pool.exists(tp => tp.steps.head.op == "sum" && tp.steps.head.outMode == "new_table"))
    // sub/div/mul need exactly-2 clusters, which ONLYPROCESSCLUSTERMORETHAN2 skips
    assert(!pool.exists(tp => Set("sub", "div", "mul").contains(tp.steps.head.op)))
    // the null_num pool appends the same arithmetic to its one select
    val appended = Enumerator.enumerate(p, "null_num").flatMap(_.steps).filter(_.outMode == "append")
    assert(appended.nonEmpty)
    assert(appended.forall(s => s.op == "sum" && s.inCols.size > 2), appended)
  }

  // ── Scagnostics ────────────────────────────────────────────────────
  test("scagnostics on a straight line: stringy/straight/monotonic maxed") {
    val pts = (0 until 50).map(i => (i.toDouble, 2.0 * i)).toArray
    val g = new Scagnostics.Graph(pts)
    assert(math.abs(g.stringy - 100.0) < 1e-6)
    assert(math.abs(g.straight - 100.0) < 1e-9)
    assert(math.abs(g.monotonic - 100.0) < 1e-6)
    assert(math.abs(g.outlying - 100.0) < 1e-9) // no outlier edges cut
  }

  test("scagnostics below the dot limit score 0") {
    val g = new Scagnostics.Graph(Array((0.0, 0.0), (1.0, 1.0)))
    assert(g.stringy == 0 && g.outlying == 0 && g.clumpy == 0)
  }

  test("clumpy separates two distant blobs") {
    val pts = ((0 until 20).map(i => (i * 0.01, i * 0.013)) ++
      (0 until 20).map(i => (100.0 + i * 0.01, 100.0 + i * 0.011))).toArray
    val g = new Scagnostics.Graph(pts)
    assert(g.clumpy > 90)
  }

  test("CDM: separated classes score higher than mixed classes") {
    val pts = ((0 until 50).map(i => (i * 0.1, 0.0)) ++
      (0 until 50).map(i => (i * 0.1, 50.0))).toArray
    val separated = Array.fill(50)(0L) ++ Array.fill(50)(1L)
    val mixed = Array.tabulate(100)(i => (i % 2).toLong)
    assert(Scagnostics.cdm(pts, separated) > Scagnostics.cdm(pts, mixed))
  }

  test("numpy-style percentile interpolation") {
    val xs = Array(1.0, 2.0, 3.0, 4.0)
    assert(Scagnostics.percentile(xs, 50) == 2.5)
    assert(Scagnostics.percentile(xs, 25) == 1.75)
    assert(Scagnostics.percentile(xs, 100) == 4.0)
  }

  // ── Significance ───────────────────────────────────────────────────
  test("correlation2: perfectly correlated ≈ 100, independent low") {
    val x = Array.tabulate(50)(_.toDouble)
    val y = x.map(_ * 3 + 1)
    assert(Significance.correlation2(x, y) > 99.9)
    val rnd = new scala.util.Random(3)
    val noise = Array.fill(50)(rnd.nextDouble())
    assert(Significance.correlation2(x, noise) < 99)
  }

  test("outstanding1: one dominant value beats uniform") {
    val dominant = Array(1.0, 1.1, 0.9, 1.05, 20.0)
    val uniform = Array(1.0, 1.1, 0.9, 1.05, 1.02)
    assert(Significance.outstanding1(dominant) != Significance.outstanding1(uniform))
  }

  test("moment scores match population formulas") {
    val xs = Array(1.0, 2.0, 3.0, 4.0)
    assert(Significance.dispersion(xs) == 1.25)
    assert(math.abs(Significance.skewScore(xs)) < 1e-12)
  }

  test("CAT_LINE flag gates the cat-line chart families") {
    val df = Seq.tabulate(60) { i =>
      (s"n$i", if (i % 2 == 0) "on" else "off", i * 1.0, i * 2.0, i * 3.0)
    }.toDF("name", "state", "a v", "b v", "c v")
    val (pdf, profile) = Profiler.profile(df)
    val off = Recommender.recommend(pdf, profile, spark)
    assert(!off.visList.exists(c => c.chartType.contains("cat_line")))
    val on = Recommender.recommend(pdf, profile, spark, EngineConfig(catLine = true))
    assert(on.visList.exists(c => c.chartType == "ord_cat_line"))
  }

  test("GroupScore aggregator matches the driver-side formula per group") {
    val rnd = new scala.util.Random(11)
    val rows = for (g <- 0 until 4; _ <- 0 until 40)
      yield (s"g$g", rnd.nextDouble() * 100)
    val df = rows.toDF("g", "v").repartition(4)
    val agg = df.groupBy($"g")
      .agg(graft.score.GroupScore.outstanding1($"v").as("o"))
      .as[(String, Double)].collect().toMap
    val driver = rows.groupBy(_._1).view
      .mapValues(vs => graft.score.Significance.outstanding1(vs.map(_._2).toArray)).toMap
    driver.foreach { case (g, expected) => assert(agg(g) == expected, g) }
  }

  test("GroupScore cap keeps the largest values deterministically") {
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(60)(rnd.nextDouble() * 100)
    val df = vals.map(("g", _)).toDF("g", "v")
    // over-cap group scored on any partitioning = driver formula over
    // the cap LARGEST values (order-free multiset truncation)
    val expected = graft.score.Significance.outstanding1(
      vals.sorted.takeRight(25).toArray)
    for (parts <- Seq(1, 7)) {
      val got = df.repartition(parts).groupBy($"g")
        .agg(graft.score.GroupScore.outstanding1($"v", cap = 25).as("o"))
        .as[(String, Double)].collect().head._2
      assert(got == expected, s"parts=$parts")
    }
  }

  // ── Recommender e2e ────────────────────────────────────────────────
  test("recommend produces capped, deduped charts over a profiled table") {
    val df = Seq.tabulate(80) { i =>
      (s"n$i", if (i % 4 == 0) "gold" else if (i % 4 == 1) "silver" else "bronze",
        i * 1.0 + (i % 7), 2.0 * i + (i % 5), 150.0 - i + (i % 3))
    }.toDF("name", "tier", "score one", "score two", "other")
    val (pdf, profile) = Profiler.profile(df)
    val rec = Recommender.recommend(pdf, profile, spark)
    assert(rec.visList.nonEmpty)
    val byType = rec.visList.groupBy(_.chartType)
    assert(byType.getOrElse("num_scatter", Nil).size <= 10)
    assert(byType.getOrElse("sum_bar", Nil).size <= 3)
    assert(byType.getOrElse("count_bar", Nil).size <= 1)
    assert(rec.visList.map(_.signature).distinct.size == rec.visList.size)
    // graph JSON is valid
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(rec.graphJson)
    assert(tree.has("nodes") && tree.has("edges") && tree.has("vis_list"))
    assert(tree.get("vis_list").size() == rec.visList.size)
  }
}
