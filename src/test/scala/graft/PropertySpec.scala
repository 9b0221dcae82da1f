package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{TBasic, TStep}
import graft.plans.{Enumerator, Load}
import graft.score.Scagnostics

/** Property-based checks (SURVEY §5.3) — ScalaCheck generators driven
  * by a seeded sampler (the scalatest bridge isn't in the offline
  * dependency cache). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministically sample `n` values from a generator. */
  private def forAll[A](gen: Gen[A], n: Int = 15)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var tries = 0
    while (produced < n && tries < n * 10) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      tries += 1
    }
    assert(produced > 0, "generator produced no samples")
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))
  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val smallDoubles = Gen.listOfN(12, Gen.chooseNum(-100.0, 100.0))

  test("rank is a permutation of 1..n") {
    forAll(smallDoubles) { vs =>
      whenever(vs.nonEmpty) {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v")
        val ranks = TBasic(df, TStep("rank", inCols = Seq("v")), carryCols = Seq("k"))
          .select("rank v").as[Long].collect().sorted
        assert(ranks.toSeq == (1L to vs.size.toLong))
      }
    }
  }

  test("rank respects ordering: v_i < v_j ⇒ rank_i < rank_j") {
    forAll(smallDoubles) { vs =>
      whenever(vs.nonEmpty) {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v")
        val out = TBasic(df, TStep("rank", inCols = Seq("v")), carryCols = Seq("k"))
          .select($"k", $"v", $"rank v").as[(Long, Double, Long)].collect()
        for (a <- out; b <- out if a._2 < b._2) assert(a._3 < b._3)
      }
    }
  }

  test("nominalize is a bijection onto 0..#distinct-1 preserving order") {
    val gen = Gen.listOfN(15, Gen.oneOf("ant", "bee", "cat", "dog", "elk"))
    forAll(gen) { vs =>
      whenever(vs.nonEmpty) {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("k", "v")
        val codes = TBasic.nominalize(df, "v", "c")
          .select($"v", $"c").as[(String, Long)].collect().distinct.sortBy(_._1)
        assert(codes.map(_._2).toSeq == codes.indices.map(_.toLong))
      }
    }
  }

  test("rowSum/rowSub/rowDiv match reference row-wise math incl null/÷0") {
    val genRow = for {
      a <- Gen.option(Gen.chooseNum(-50.0, 50.0))
      b <- Gen.oneOf(Gen.const(Some(0.0)), Gen.option(Gen.chooseNum(-50.0, 50.0)))
    } yield (a, b)
    forAll(Gen.listOfN(8, genRow)) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("k", "a", "b")
        val out = TBasic(df, TStep("div", inCols = Seq("a", "b"), outName = Some("q")))
          .select($"k", $"q").as[(Long, Double)].collect().toMap
        rows.zipWithIndex.foreach { case ((a, b), i) =>
          val expected = (a, b) match {
            case (Some(x), Some(y)) if y != 0 => x / y
            case (Some(x), Some(0.0)) if x > 0 => Double.PositiveInfinity
            case (Some(x), Some(0.0)) if x < 0 => Double.NegativeInfinity
            case _ => 0.0 // 0/0 and any null → fillna(0)
          }
          assert(out(i.toLong) == expected, s"row $i: $a/$b")
        }
      }
    }
  }

  test("Pareto dominance: antisymmetric and irreflexive") {
    val genLoad = for {
      a <- Gen.chooseNum(0.0, 10.0); b <- Gen.chooseNum(0.0, 10.0); c <- Gen.chooseNum(0.0, 10.0)
    } yield Load(a, b, c)
    forAll(genLoad, genLoad) { (x, y) =>
      assert(!x.dominates(x))
      assert(!(x.dominates(y) && y.dominates(x)))
    }
  }

  test("point dedup: Graph dot count equals distinct points") {
    val genPt = for { x <- Gen.chooseNum(0, 5); y <- Gen.chooseNum(0, 5) } yield (x.toDouble, y.toDouble)
    forAll(Gen.listOfN(30, genPt)) { pts =>
      whenever(pts.nonEmpty) {
        val g = new Scagnostics.Graph(pts.toArray)
        assert(g.n == pts.distinct.size)
      }
    }
  }

  test("nearDupSurvivors equals brute-force union-find on random pair graphs") {
    // the min-label propagation is the one distributed-graph algorithm
    // in the dedup family; random edge sets (chains, stars, cycles,
    // disconnected clumps) must collapse to exactly the brute-force
    // connected components with min-id keepers
    val genGraph = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 30)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    forAll(genGraph, n = 4) { edges =>
      if (edges.nonEmpty) {
        val pairs = edges.toDF("id_a", "id_b")
        // label propagation persists per round; release between graphs
        // so four random runs don't stack cached plans in the test heap
        val got = graft.CacheScope.withCached {
          graft.operators.Dedup.nearDupSurvivors(pairs)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        // brute-force union-find
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
        def find(v: Long): Long = { if (parent(v) != v) parent(v) = find(parent(v)); parent(v) }
        edges.foreach { case (a, b) => parent(find(a)) = find(b) }
        val roots = nodes.groupBy(find)
        val expect = roots.flatMap { case (_, vs) => val m = vs.min; vs.map(_ -> m) }
        assert(got == expect, s"edges=$edges")
      }
    }
  }

  test("dedupLines equals the brute-force first-occurrence reference on random corpora") {
    // small alphabet forces heavy cross-document and intra-document
    // collisions; empty docs exercise the ['']-segment edge
    val genCorpus = for {
      nDocs <- Gen.choose(1, 20)
      texts <- Gen.listOfN(nDocs, for {
        nLines <- Gen.choose(0, 6)
        ws <- Gen.listOfN(nLines, Gen.choose(0, 7).map(i => s"w$i"))
      } yield ws.mkString(" "))
    } yield texts.zipWithIndex.map { case (t, i) => (Option((i + 1).toLong), t) }
    // lines are claimed in (id, position) order with null ids first,
    // as min(struct(id, pos)) sorts them; a null-id document claims
    // its lines but keeps none, since no winner joins back to it
    def check(docs: Seq[(Option[Long], String)]): Unit = {
      val seen = scala.collection.mutable.Set.empty[String]
      val expect = docs.sortBy(_._1).map { case (id, text) =>
        val segs = text.split(" ", -1).toSeq   // "" splits to [""], like Spark
        val kept = segs.filter(s => seen.add(s)).filter(_ => id.nonEmpty)
        (id, kept.mkString(" "), segs.size.toLong, kept.size.toLong)
      }.sorted
      // the packed (bigint id) and the struct (decimal id) branches
      for (idType <- Seq("bigint", "decimal(20,0)")) {
        val df = docs.toDF("doc_id", "text")
          .withColumn("doc_id", $"doc_id".cast(idType))
        val got = graft.operators.PipelineOps.dedupLines(df, "doc_id", "text", delim = " ")
          .withColumn("doc_id", $"doc_id".cast("bigint"))
          .as[(Option[Long], String, Long, Long)].collect().sorted.toSeq
        assert(got == expect, s"$idType docs=$docs")
      }
    }
    forAll(genCorpus, n = 6)(check)
    // a NULL id and a MinValue id: the null document's lines win and
    // no line of theirs leaks into the MinValue document
    check(Seq(None -> "w1 w2", Some(Long.MinValue) -> "w2 w1 w3",
      Some(0L) -> "w3 w4", None -> "w4", Some(Long.MaxValue) -> "w1 w5"))
  }

  test("stripBoilerplate equals the brute-force doc-frequency reference on random corpora") {
    // small line alphabet drives lines over the doc-frequency
    // threshold; repeated lines WITHIN a doc exercise the
    // distinct-docs (not occurrences) counting rule and the
    // duplicate-position rebuild; empty docs the ['']-segment edge
    val genCorpus = for {
      nDocs <- Gen.choose(1, 16)
      texts <- Gen.listOfN(nDocs, for {
        nLines <- Gen.choose(0, 6)
        ws <- Gen.listOfN(nLines, Gen.choose(0, 5).map(i => s"L$i"))
      } yield ws.mkString("\n"))
    } yield texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
    forAll(genCorpus, n = 6) { docs =>
      val maxDf = 2L
      val got = graft.operators.PipelineOps.stripBoilerplate(
          docs.toDF("doc_id", "text"), "doc_id", "text", maxDocFreq = maxDf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val docFreq = docs.flatMap { case (_, t) => t.split("\n", -1).distinct }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expect = docs.sortBy(_._1).map { case (id, text) =>
        val segs = text.split("\n", -1).toSeq   // "" splits to [""], like Spark
        val kept = segs.filter(s => docFreq(s) <= maxDf)
        (id, kept.mkString("\n"), kept.size.toLong, (segs.size - kept.size).toLong)
      }
      assert(got == expect, s"docs=$docs")
    }
  }

  test("enumerator dedupe is idempotent and order-preserving") {
    val p = Profilefixture.profile(spark)
    val pool = Enumerator.enumerate(p, "pca")
    val once = Enumerator.dedupe(pool)
    assert(Enumerator.dedupe(once) == once)
    assert(once.map(_.fingerprint).distinct.size == once.size)
  }

  test("exactPercentiles equals the driver-sorted value at 1 + (n-1)*p div 100") {
    import graft.operators.Rank
    forAll(Gen.zip(Gen.listOfN(40, Gen.chooseNum(-50, 50)),
                   Gen.listOfN(3, Gen.chooseNum(0, 100))), n = 8) { case (vs, ps) =>
      whenever(vs.nonEmpty && ps.nonEmpty) {
        val df = vs.map(_.toDouble).toDF("v")
        val got = Rank.exactPercentiles(df, "v", ps.distinct)
          .as[(Int, Double)].collect().toMap
        val sorted = vs.map(_.toDouble).sorted
        val want = ps.distinct.map { p =>
          p -> sorted(((vs.size - 1).toLong * p / 100L).toInt)
        }.toMap
        assert(got == want, s"vs=$vs ps=$ps")
      }
    }
  }

  test("dedupSpans never invents tokens and leaves duplicate-free docs untouched") {
    import graft.operators.Dedup
    // tiny vocab forces duplicated spans in some samples but not others
    val doc = Gen.listOfN(10, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    forAll(Gen.listOfN(4, doc), n = 8) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val out = Dedup.dedupSpans(df, "id", "text", k = 3)
        .as[(Long, String, Long, Long)].collect()
      assert(out.length == docs.size)
      out.foreach { case (id, text, kept, removed) =>
        val inToks = docs(id.toInt).split("\\s+").filter(_.nonEmpty)
        val outToks = if (text.isEmpty) Array.empty[String] else text.split(" ")
        // kept tokens are a subsequence of the input in order
        var i = 0
        outToks.foreach { t =>
          while (i < inToks.length && inToks(i) != t) i += 1
          assert(i < inToks.length, s"token $t not in order in doc $id")
          i += 1
        }
        assert(kept == outToks.length && kept + removed == inToks.length)
      }
      // a corpus where every 3-gram is globally unique must pass through
      val uniq = (0 until 3).map(i =>
        (i.toLong, (0 until 8).map(j => s"u${i}_$j").mkString(" "))).toDF("id", "text")
      val clean = Dedup.dedupSpans(uniq, "id", "text", k = 3)
        .as[(Long, String, Long, Long)].collect()
      assert(clean.forall(_._4 == 0L))
    }
  }

  test("tvDistance: symmetric, in [0,1], zero iff identical multisets (random mixes)") {
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.oneOf("a", "b", "c", "d")),
      Gen.listOfN(20, Gen.oneOf("a", "b", "c", "e")))
    forAll(gen, n = 6) { case (xs, ys) =>
      import graft.operators.Drift
      def tv(a: Seq[String], b: Seq[String]) =
        Drift.tvDistance(a.toDF("c"), b.toDF("c"), "c")
          .select("tv_dist").as[Double].head()
      val d = tv(xs, ys)
      assert(d >= 0.0 && d <= 1.0, s"TV out of range: $d")
      assert(d == tv(ys, xs), "TV must be symmetric")
      assert(tv(xs, xs) == 0.0, "identical multisets must read 0")
    }
  }

  test("snapshotDiff: diff(a, a) is all-unchanged; statuses partition the id union (random corpora)") {
    val gen = Gen.zip(
      Gen.listOfN(12, Gen.zip(Gen.chooseNum(1L, 20L), Gen.alphaStr)),
      Gen.listOfN(12, Gen.zip(Gen.chooseNum(1L, 20L), Gen.alphaStr)))
    forAll(gen, n = 6) { case (rawA, rawB) =>
      import graft.operators.PipelineOps
      // dedupe ids (the operator's loud contract)
      val a = rawA.toMap.toSeq
      val b = rawB.toMap.toSeq
      val self = PipelineOps.snapshotDiff(a.toDF("id", "text"),
          a.toDF("id", "text"), "id", "text")
        .select("status").as[String].collect()
      assert(self.forall(_ == "unchanged"), "diff(a, a) must be all-unchanged")
      val out = PipelineOps.snapshotDiff(a.toDF("id", "text"),
          b.toDF("id", "text"), "id", "text")
        .select("id", "status").as[(Long, String)].collect()
      assert(out.map(_._1).distinct.length == out.length, "one row per id")
      assert(out.map(_._1).toSet == (a.map(_._1) ++ b.map(_._1)).toSet,
        "statuses must cover the id union")
      val am = a.toMap; val bm = b.toMap
      out.foreach { case (id, st) =>
        val expected = (am.get(id), bm.get(id)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(x), Some(y)) => if (x == y) "unchanged" else "changed"
          case _ => fail(s"id $id in neither side")
        }
        assert(st == expected, s"id $id: $st != $expected")
      }
    }
  }

  test("bucketizeByQuantiles: labels monotone in value, all buckets in range, equal values share (random multisets)") {
    val gen = Gen.listOfN(40, Gen.chooseNum(-50L, 50L))
    forAll(gen, n = 6) { vs =>
      import graft.operators.Rank
      val out = Rank.bucketizeByQuantiles(vs.toDF("v"), "v", "b", nBuckets = 4)
        .as[(Long, Long)].collect()
      assert(out.forall(r => r._2 >= 0 && r._2 < 4), "bucket range")
      val byV = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      assert(byV.values.forall(_.size == 1), "equal values must share a bucket")
      val sortedPairs = byV.toSeq.sortBy(_._1).map(_._2.head)
      assert(sortedPairs == sortedPairs.sorted, "labels monotone in value")
      assert(byV(vs.min).head == 0L, "smallest value lands in bucket 0")
    }
  }

  test("shuffleOrder: a permutation of 1..n on random id sets (any partitioning)") {
    val gen = Gen.zip(Gen.nonEmptyListOf(Gen.chooseNum(1L, 1000L)),
      Gen.chooseNum(1L, 99999L))
    forAll(gen, n = 6) { case (rawIds, seed) =>
      import graft.operators.PipelineOps
      val ids = rawIds.distinct
      val out = PipelineOps.shuffleOrder(
          ids.toDF("id").repartition(3), "id", seed)
        .as[(Long, Long)].collect()
      assert(out.length == ids.length)
      assert(out.map(_._2).sorted.toSeq == (1L to ids.length).toSeq,
        "positions must be exactly 1..n")
      assert(out.map(_._1).toSet == ids.toSet, "ids preserved")
    }
  }

  test("selectByBudget: monotone in budget (supersets), never over budget, selection is the score-order prefix") {
    val gen = Gen.listOfN(15,
      Gen.zip(Gen.chooseNum(1L, 500L), Gen.chooseNum(0L, 40L), Gen.chooseNum(-9.0, 9.0)))
    forAll(gen, n = 6) { raw =>
      import graft.operators.PipelineOps
      val rows = raw.groupBy(_._1).map(_._2.head).toSeq // unique ids
      val df = rows.toDF("id", "w", "s")
      def pick(budget: Long): Map[Long, Long] =
        PipelineOps.selectByBudget(df, "id", "w", "s", budget)
          .select("id", "cum_weight").as[(Long, Long)].collect().toMap
      val small = pick(40L); val big = pick(120L)
      assert(small.keySet.subsetOf(big.keySet), "budget ↑ must only add rows")
      assert(small.values.forall(_ <= 40L) && big.values.forall(_ <= 120L),
        "cum_weight must never exceed the budget")
      // driver replay: inclusive running sum over (s desc, id asc),
      // keep while <= budget — cum keeps growing past cut rows (strict
      // prefix, no back-fill)
      var cum = 0L
      val strict = scala.collection.mutable.Map.empty[Long, Long]
      rows.sortBy(t => (-t._3, t._1)).foreach { t =>
        cum += t._2; if (cum <= 120L) strict(t._1) = cum
      }
      assert(big == strict.toMap, "must equal the driver prefix replay")
    }
  }

  test("interleaveGroups: every contiguous prefix is domain-balanced within one round") {
    val gen = Gen.listOfN(18, Gen.zip(Gen.chooseNum(1L, 500L), Gen.oneOf("x", "y", "z")))
    forAll(gen, n = 6) { raw =>
      import graft.operators.PipelineOps
      val rows = raw.groupBy(_._1).map(_._2.head).toSeq
      val out = PipelineOps.interleaveGroups(rows.toDF("id", "g"), "id", "g", 11L)
        .select("g", "interleave_pos").as[(String, Long)].collect()
        .sortBy(_._2).map(_._1)
      assert(out.length == rows.length)
      // round-robin law: counts of any two groups within a prefix can
      // differ by at most 1 round — formally, group counts in the
      // prefix ending at position p differ by ≤1 while both groups
      // still have members remaining
      val totals = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      out.zipWithIndex.foreach { case (g, i) =>
        seen(g) += 1
        for (a <- totals.keys; b <- totals.keys
             if seen(a) < totals(a) && seen(b) < totals(b)) {
          assert(math.abs(seen(a) - seen(b)) <= 1,
            s"prefix $i unbalanced: $seen of $totals")
        }
      }
    }
  }
}


object Profilefixture {
  import graft.profiler.Profiler
  def profile(spark: org.apache.spark.sql.SparkSession): graft.TableProfile = {
    import spark.implicits._
    val df = (1 to 40).map(i => (s"k$i", i * 1.0, i + 0.5, i * 2.0)).toDF("name", "a x", "b x", "c x")
    Profiler.profile(df)._2
  }
}
