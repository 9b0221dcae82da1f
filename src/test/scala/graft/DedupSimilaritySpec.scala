package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 10 distinct docs; doc 100 = copy of doc 1; doc 101 = near-copy of doc 2
  private def corpus = {
    val words = (1 to 40).map(i => s"w$i")
    val docs = (1 to 10).map { d =>
      (d.toLong, (0 until 30).map(i => words((d * 7 + i * 3) % 40)).mkString(" "))
    }
    val near = docs(1)._2.split(" ").dropRight(3).mkString(" ") + " extra tail here"
    (docs :+ (100L, docs.head._2) :+ (101L, near)).toDF("id", "text")
  }

  test("exactGroups finds the exact duplicate, keeps min id") {
    val g = Dedup.exactGroups(corpus, "id", "text")
    val dup = g.where($"n_docs" > 1).select("keep_id", "n_docs").as[(Long, Long)].collect()
    assert(dup.toSeq == Seq((1L, 2L)))
    assert(Dedup.exactDedup(corpus, "id", "text").count() == 11)
  }

  test("ngramJaccardPairs finds exact and near duplicates") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "id", "text", shingleSize = 3, tau = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 100L)))
    assert(pairs.contains((2L, 101L)))
  }

  test("ngramContainmentPairs equals a brute-force directional set computation") {
    val pairs = Dedup.ngramContainmentPairs(corpus, "id", "text",
        shingleSize = 3, tau = 0.8, maxDocFreq = 10000)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((100L, 1L)) == 1.0 && m((1L, 100L)) == 1.0,
      s"exact copy contains both ways: $m")
    // brute force over every ordered pair — containment is ASYMMETRIC:
    // a short excerpt contains in its source even when the source does
    // not contain back (exercised below on a planted true excerpt)
    def shingles(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val docs = corpus.as[(Long, String)].collect().toMap
    val expected = (for {
      (ia, ta) <- docs.toSeq; (ib, tb) <- docs.toSeq if ia != ib
      sa = shingles(ta); inter = (sa & shingles(tb)).size.toDouble / sa.size
      if inter >= 0.8
    } yield (ia, ib) -> inter).toMap
    assert(m == expected, s"directional map mismatch: got $m\nexpected $expected")
    // planted TRUE excerpt (first 10 tokens of doc 1): contained in 1
    // at 1.0 while 1 is nowhere near contained in it
    val excerpt = docs(1L).split(" ").take(10).mkString(" ")
    val withEx = corpus.unionByName(Seq((500L, excerpt)).toDF("id", "text"))
    val m2 = Dedup.ngramContainmentPairs(withEx, "id", "text",
        shingleSize = 3, tau = 0.8, maxDocFreq = 10000)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(m2((500L, 1L)) == 1.0, s"true excerpt fully contained: $m2")
    assert(!m2.contains((1L, 500L)), "the source is not contained in its excerpt")
  }

  test("row-local minhash signatures equal the aggregate spelling exactly") {
    val a = Dedup.minhashSignatures(corpus, "id", "text", numHashes = 32, shingleSize = 3)
      .orderBy("id").collect().map(_.toSeq)
    val b = Dedup.minhashSignaturesAgg(corpus, "id", "text", numHashes = 32, shingleSize = 3)
      .orderBy("id").collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("minhash signatures drop shingle-less docs, same as the aggregate") {
    val tiny = Seq((1L, "only two"), (2L, "a full three tokens here")).toDF("id", "text")
    val ids = Dedup.minhashSignatures(tiny, "id", "text", shingleSize = 3)
      .select("id").as[Long].collect().toSet
    assert(ids == Set(2L)) // doc 1 has < 3 tokens → no 3-shingles → dropped
  }

  test("minhash LSH recovers the duplicate pairs") {
    val sigs = Dedup.minhashSignatures(corpus, "id", "text", numHashes = 32, shingleSize = 3)
    val pairs = Dedup.minhashCandidatePairs(sigs, numHashes = 32, bands = 8, tau = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 100L)))
    assert(pairs.contains((2L, 101L)))
    // exact duplicate estimates jaccard 1.0
    val est = Dedup.minhashCandidatePairs(sigs, 32, 8, 0.3)
      .where($"id_a" === 1 && $"id_b" === 100).select("est_jaccard").as[Double].head()
    assert(est == 1.0)
  }

  test("pair-first and attached LSH spellings are value-identical (both ops)") {
    // the round-16 scale guard (Dedup.PairAttachMinDocs) picks between
    // two spellings of the same candidate-pair computation; this twin
    // pins them equal so the guard can never change what a query
    // computes. attachMinDocs = 0 forces pair-first-then-attach,
    // Long.MaxValue forces the signature-attached small path.
    val sigs = Dedup.minhashSignatures(corpus, "id", "text", numHashes = 32, shingleSize = 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
    // only the pair-first spelling attaches signatures (`__siga`)
    def pairFirst(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString.contains("__siga")
    val big = Dedup.minhashCandidatePairs(sigs, 32, 8, 0.3, attachMinDocs = 0L)
    val small = Dedup.minhashCandidatePairs(sigs, 32, 8, 0.3, attachMinDocs = Long.MaxValue)
    assert(pairFirst(big) && !pairFirst(small))
    assert(big.columns.toSeq == small.columns.toSeq)
    val bigRows = canon(big)
    assert(bigRows.nonEmpty && bigRows == canon(small))
    // the incremental (cross-frame) twin
    val incSigs = Dedup.minhashSignatures(
      corpus.select(($"id" + 1000L).as("id"), $"text"), "id", "text", 32, 3)
    val bigI = Dedup.minhashIncrementalPairs(sigs, incSigs, 32, 8, 0.3, attachMinDocs = 0L)
    val smallI = Dedup.minhashIncrementalPairs(sigs, incSigs, 32, 8, 0.3, attachMinDocs = Long.MaxValue)
    assert(pairFirst(bigI) && !pairFirst(smallI))
    assert(bigI.columns.toSeq == smallI.columns.toSeq)
    val bigIRows = canon(bigI)
    assert(bigIRows.nonEmpty && bigIRows == canon(smallI))
    graft.CacheScope.releaseAll()
  }

  test("simhashPairs: exact dup at hamming 0, 1-token-changed dup found") {
    // the piece join GUARANTEES pairs at hamming ≤ 3 (4×15-bit
    // pigeonhole); larger radii are best-effort — so plant a copy of
    // doc 4 with one token changed (few flipped bits, shares a piece)
    val base = corpus
    val oneOff = base.where($"id" === 4)
      .select(lit(102L).as("id"),
        concat(expr("substring(text, 1, length(text) - 3)"), lit("zzz")).as("text"))
    val pairs = Dedup.simhashPairs(base.unionByName(oneOff), "id", "text", maxHamming = 16)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 100L)) == 0)
    assert(m.contains((4L, 102L)))
    assert(m((4L, 102L)) > 0 && m((4L, 102L)) <= 16)
  }

  test("hot-bucket skew guard drops oversized LSH buckets, keeps the rest") {
    // 30 identical docs: every band bucket of the cluster has 30
    // members → cap 10 suppresses the quadratic cluster entirely
    val viral = (1 to 30).map(i => (i.toLong, "the same viral text repeated verbatim everywhere"))
    val docs = (viral :+ (100L, "one unique document about spark shuffle behavior at scale"))
      .toDF("id", "text")
    val sigs = Dedup.minhashSignatures(docs, "id", "text", 32, 3)
    val uncapped = Dedup.minhashCandidatePairs(sigs, 32, 8, tau = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(uncapped.count { case (a, b) => a <= 30 && b <= 30 } == 30 * 29 / 2)
    val capped = Dedup.minhashCandidatePairs(sigs, 32, 8, tau = 0.0, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!capped.exists { case (a, b) => a <= 30 && b <= 30 })
    // simhash guard: same cluster, same suppression
    val simUncapped = Dedup.simhashPairs(docs, "id", "text", maxHamming = 60)
    assert(simUncapped.count() >= 30 * 29 / 2)
    val simCapped = Dedup.simhashPairs(docs, "id", "text", maxHamming = 60, maxBucketSize = 10)
    assert(simCapped.count() == 0)
  }

  test("nearDupSurvivors collapses pair chains into min-id components") {
    // components: {1,2,3} (chain), {10,11}, singleton 99 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val surv = Dedup.nearDupSurvivors(pairs).as[(Long, Long)].collect().toMap
    assert(surv == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).map(i => (i, s"doc $i")).toDF("id", "text")
    val kept = Dedup.nearDedup(docs, pairs, "id").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 10L, 99L))
  }

  test("nearDupSurvivorsBy keeps the best-scoring member; ties to smallest id; missing scores rank worst") {
    // components {1,2,3} and {10,11}: scores make 3 and 10 the keepers;
    // 2 has no score row (ranks worst); 20/21 tie on score -> min id
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 5.0), (3L, 9.0), (10L, 7.0), (11L, 2.0),
      (20L, 4.0), (21L, 4.0)).toDF("id", "sc")
    val out = Dedup.nearDupSurvivorsBy(pairs, scores, "id", "sc")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("minhashIncrementalPairs pairs increment against corpus only, never corpus x corpus") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "an entirely different document about spark pipelines at scale"),
      (3L, "the quick brown fox jumps over the lazy dog again and again")  // corpus dup of 1
    ).toDF("id", "text")
    val inc = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and"),  // near-dup of 1 and 3
      (101L, "totally novel content nothing shares these exact words here")
    ).toDF("id", "text")
    val out = Dedup.minhashIncrementalPairs(
      Dedup.minhashSignatures(corpus, "id", "text"),
      Dedup.minhashSignatures(inc, "id", "text"), tau = 0.3)
      .as[(Long, Long, Double)].collect()
    val hits = out.map(p => (p._1, p._2)).toSet
    assert(hits.contains((100L, 1L)) && hits.contains((100L, 3L)))
    assert(!out.exists(_._1 == 101L))
    // the corpus-side exact duplicates (1,3) must never surface as a pair
    assert(out.forall(_._1 >= 100L) && out.forall(_._2 < 100L))
    graft.CacheScope.releaseAll()
  }

  test("nearDupSurvivors resolves a deep chain within default rounds (distributed path)") {
    // a 200-edge path has diameter 200 — neighbor-min alone would need
    // 200 rounds and trip the maxIters guard; pointer jumping halves
    // the remaining depth each round, so the default 20 suffice.
    // driverCap = 0 forces the distributed loop (the driver union-find
    // fast path would hide it).
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val surv = Dedup.nearDupSurvivors(pairs, driverCap = 0L)
      .as[(Long, Long)].collect()
    assert(surv.length == 200)
    assert(surv.forall(_._2 == 1L))
  }

  test("CorpusPipeline.clean: exact dup, near dup, junk, and off-language all removed") {
    import graft.operators.CorpusPipeline
    val good = (1 to 40).map(i => if (i % 5 == 0) "the" else s"token$i").mkString(" ") +
      " and of this document is about spark pipelines"
    val near = good.split(" ").dropRight(2).mkString(" ")
    val german = "der die das und ist nicht ein eine mit von der die das und ist " +
      "nicht ein eine mit von werden sich dass auf"
    val docs = Seq(
      (1L, good), (2L, good), (3L, near),
      (4L, "@@@@ #### 1111 2222 $$$$"), (5L, german),
      (6L, "a completely different story about databases and the art of queries in this world"))
      .toDF("id", "text")
    val cleaned = CorpusPipeline.clean(docs, "id", "text",
      CorpusPipeline.Config(minQuality = 0.3, keepLangs = Set("en"), tau = 0.5))
    assert(cleaned.columns.contains("quality") && cleaned.columns.contains("lang"))
    val kept = cleaned.select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 6L))
  }

  test("bruteForceTopK: nearest neighbor of a vector is its near-copy") {
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 3 + j).toFloat))
    }
    val near = (100L, vecs(3)._2.map(x => x * 1.001f))
    val df = (vecs :+ near).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.where($"vec_id" === 3), "vec_id", "embedding", 3)
    val first = top.where($"rank" === 1).select("neighbor_id").as[Long].head()
    assert(first == 100L)
    assert(top.count() == 3)
  }

  test("lshTopK finds the same nearest neighbor as brute force") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val near = (100L, vecs(7)._2.map(x => x * 1.0005f))
    val df = (vecs :+ near).toDF("vec_id", "embedding")
    val q = df.where($"vec_id" === 7)
    val bfFirst = Similarity.bruteForceTopK(df, q, "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].head()
    val lshFirst = Similarity.lshTopK(df, q, "vec_id", "embedding", 1, dim = 16)
      .select("neighbor_id").as[Long].head()
    assert(bfFirst == 100L)
    assert(lshFirst == 100L) // identical-direction vector shares every band
  }

  test("lshTopK recall floor: every query returns exactly k rows, = brute force") {
    val vecs = (0 until 25).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 13 + j * 7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 5)
    // k = corpus-1: either the floor fires (brute-force fallback) or
    // every other vector was already a candidate — both cases must
    // equal the exact scan, and both must return exactly k rows
    val k = 24
    val out = Similarity.lshTopK(df, qs, "vec_id", "embedding", k, dim = 16)
      .as[(Long, Long, Double, Int)].collect()
    val counts = out.groupBy(_._1).map { case (q, rs) => q -> rs.length }
    assert((0L until 5L).forall(q => counts.get(q).contains(k)))
    val bf = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", k)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(out.toSet == bf)
  }

  test("multiprobe LSH: candidate superset per query, fewer starved queries, recall ≥ single-probe") {
    // a corpus scattered enough that single-probe buckets starve some
    // queries below k — the situation multiprobe exists for. splitmix64
    // coordinates ≈ uniform directions (a linear-congruential pattern
    // here has lattice correlation and over-fills buckets)
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val vecs = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(16) { j =>
        ((mix(i * 16L + j) >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 10)
    val k = 8
    def candSets(multi: Boolean): Map[Long, Set[Long]] =
      Similarity.lshCandidates(df, qs, "vec_id", "embedding", dim = 16,
          bands = 4, rowsPerBand = 8, multiprobe = multi)
        .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val single = candSets(multi = false)
    val multi = candSets(multi = true)
    // superset per query: adding probes can only ADD candidates
    (0L until 10L).foreach { q =>
      assert(single.getOrElse(q, Set.empty).subsetOf(multi.getOrElse(q, Set.empty)), s"q=$q")
    }
    // fallback pressure: strictly fewer queries starve below k
    def starved(m: Map[Long, Set[Long]]): Int =
      (0L until 10L).count(q => m.getOrElse(q, Set.empty).size < k)
    assert(starved(multi) <= starved(single))
    assert(starved(single) > 0, "fixture no longer starves single-probe — rebuild it")
    assert(starved(multi) < starved(single),
      s"multiprobe did not reduce starvation: ${starved(multi)} vs ${starved(single)}")
    // candidate recall vs the true top-k: superset ⇒ multiprobe can
    // only match or beat single-probe, and the measured numbers prove
    // the probes find real neighbors (not arbitrary extra candidates)
    val bfSets = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", k)
      .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(m: Map[Long, Set[Long]]): Double = (0L until 10L).map { q =>
      (m.getOrElse(q, Set.empty) & bfSets(q)).size.toDouble / k
    }.sum / 10
    assert(recall(multi) >= recall(single), s"${recall(multi)} < ${recall(single)}")
    // end-to-end: the recall floor stays on, so every query still
    // returns exactly k rows even where buckets (and probes) are thin
    val mp = Similarity.lshTopK(df, qs, "vec_id", "embedding", k, dim = 16,
      multiprobe = true).as[(Long, Long, Double, Int)].collect()
    val counts = mp.groupBy(_._1).map { case (q, rs) => q -> rs.length }
    assert((0L until 10L).forall(q => counts.get(q).contains(k)), counts.toString)
  }

  test("multiprobe explode: per band, exactly the home bucket plus its r 1-bit flips") {
    // the XOR probe math itself, checked bucket-by-bucket: for every
    // (id, band), the multiprobe bucket set must equal
    // {home} ∪ {home ^ (1<<i) | i < rowsPerBand} — no more, no less
    val (bands, r) = (4, 8)
    val vecs = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 31 + j * 3).toFloat))
    }
    val df = vecs.toDF("id", "vec")
    val banded = Similarity.withLshBands(
      df.select($"id", $"vec".as("__v")), "__v", dim = 16, bands, r)
    def buckets(frame: org.apache.spark.sql.DataFrame): Map[(Long, Int), Set[Long]] =
      frame.select($"id", $"band", $"bucket".cast("long"))
        .as[(Long, Int, Long)].collect()
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).toSet).toMap
    val home = buckets(Similarity.explodeBands(banded, bands))
    val multi = buckets(Similarity.explodeBandsMultiprobe(banded, bands, r))
    home.foreach { case (key, hs) =>
      assert(hs.size == 1)
      val h = hs.head
      val expected = (0 until r).map(i => h ^ (1L << i)).toSet + h
      assert(multi(key) == expected, s"$key: ${multi(key)} vs $expected")
    }
    assert(multi.keySet == home.keySet)
  }

  test("ivfTopK finds the planted nearest neighbor (probes its bucket)") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val near = (900L, vecs(7)._2.map(x => x * 1.0005f))
    val df = (vecs :+ near).toDF("vec_id", "embedding")
    val q = df.where($"vec_id" === 7)
    val first = Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 1, dim = 16,
      nlist = 8, nprobe = 3)
      .select("neighbor_id").as[Long].head()
    // identical-direction vector lands in the same centroid list
    assert(first == 900L)
  }

  test("ivfTopK auto-nlist: ≈√m rule at two corpus sizes, results complete") {
    // the derivation rule itself
    assert(Similarity.autoNlist(100) == 10)
    assert(Similarity.autoNlist(500) == 22)   // gate corpus size
    assert(Similarity.autoNlist(100000) == 316) // fitCap-sized sample
    assert(Similarity.autoNlist(1) == 2)        // floor
    assert(Similarity.autoNlist(4000000) == 1024) // plan-size cap
    // behavior: default (auto) nlist at two corpus sizes returns k rows
    // per query and the planted near-duplicate at rank 1
    for (n <- Seq(100, 400)) {
      val vecs = (0 until n).map { i =>
        (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
      }
      val near = (9000L, vecs(7)._2.map(x => x * 1.0005f))
      val df = (vecs :+ near).toDF("vec_id", "embedding")
      val q = df.where($"vec_id" === 7)
      val out = Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 3, dim = 16,
        nprobe = 3).select("neighbor_id", "rank").as[(Long, Int)].collect()
      assert(out.length == 3, s"n=$n: ${out.toSeq}")
      assert(out.find(_._2 == 1).map(_._1).contains(9000L), s"n=$n: ${out.toSeq}")
    }
  }

  test("pqTopK finds the planted nearest neighbor; k rows per query") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val near = (900L, vecs(7)._2.map(x => x * 1.0005f))
    val df = (vecs :+ near).toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 5 || $"vec_id" === 7)
    val out = Similarity.pqTopK(df, qs, "vec_id", "embedding",
      k = 3, dim = 16, m = 4, ksub = 8, candidates = 30)
      .as[(Long, Long, Double, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L, 7L))
    assert(byQ.values.forall(_.length == 3))
    // an identical-direction near-copy has ~zero quantization distance
    // in every subspace → it tops the ADC short list, then re-ranks #1
    assert(byQ(7L).find(_._4 == 1).map(_._2).contains(900L))
  }

  test("pqTopK with candidates >= corpus equals brute force exactly") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 13 + j * 7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 4)
    // a full-corpus short list makes the ADC stage pure routing: the
    // exact re-rank then IS the brute-force scan, so results must be
    // identical tuples (cosines included)
    val pq = Similarity.pqTopK(df, qs, "vec_id", "embedding",
      k = 5, dim = 16, m = 4, ksub = 8, candidates = 60)
      .as[(Long, Long, Double, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(pq == bf)
  }

  test("pqTopK is partitioning-invariant and rejects m not dividing dim") {
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.cos(i * 3 + j * 5)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 3)
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(d, qs, "vec_id", "embedding",
        k = 4, dim = 16, m = 2, ksub = 8, candidates = 20)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(df) == run(df.repartition(13)))
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(df, qs, "vec_id", "embedding", k = 1, dim = 16, m = 5)
    }
  }

  test("ivfPqTopK finds the planted nearest neighbor through its probed list") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val near = (900L, vecs(7)._2.map(x => x * 1.0005f))
    val df = (vecs :+ near).toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 5 || $"vec_id" === 7)
    val out = Similarity.ivfPqTopK(df, qs, "vec_id", "embedding",
      k = 3, dim = 16, nlist = 8, nprobe = 3, m = 4, ksub = 8, candidates = 30)
      .as[(Long, Long, Double, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L, 7L))
    assert(byQ.values.forall(_.length == 3))
    // the near-copy shares query 7's coarse list (same direction, same
    // region) and has ~zero residual quantization distance → short-list
    // survivor, then re-ranks #1
    assert(byQ(7L).find(_._4 == 1).map(_._2).contains(900L))
  }

  test("ivfPqTopK with full probe + full short list equals brute force exactly") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 13 + j * 7).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 4)
    // probing every list and short-listing the whole corpus makes both
    // approximation stages pure routing: the exact re-rank then IS the
    // brute-force scan — identical tuples, cosines included
    val ivfpq = Similarity.ivfPqTopK(df, qs, "vec_id", "embedding",
      k = 5, dim = 16, nlist = 8, nprobe = 8, m = 4, ksub = 8, candidates = 60)
      .as[(Long, Long, Double, Int)].collect().toSet
    val bf = Similarity.bruteForceTopK(df, qs, "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(ivfpq == bf)
  }

  test("ivfPqTopK is partitioning-invariant") {
    val vecs = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.cos(i * 3 + j * 5)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val qs = df.where($"vec_id" < 3)
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(d, qs, "vec_id", "embedding",
        k = 4, dim = 16, nlist = 4, nprobe = 2, m = 2, ksub = 8, candidates = 20)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(df) == run(df.repartition(13)))
  }

  test("refineCodebook: full-corpus refinement lowers inertia vs the sample init") {
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def inertia(centers: Map[(Int, Int), Double], k: Int): Double =
      vecs.map { case (_, v) =>
        (0 until k).map { c =>
          (0 until 16).map { j => val d = v(j) - centers((c, j)); d * d }.sum
        }.min
      }.sum
    val refined = Similarity.refineCodebook(df, "vec_id", "embedding",
        dim = 16, nlist = 4, iters = 3)
      .as[(Int, Int, Double)].collect()
    assert(refined.length == 4 * 16)
    assert(refined.map(_._1).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    val after = refined.map(r => (r._1, r._2) -> r._3).toMap
    val init = Similarity.refineCodebook(df, "vec_id", "embedding",
        dim = 16, nlist = 4, iters = 1)
      .as[(Int, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // Lloyd iterations never increase inertia (up to the 2^-40 pin)
    assert(inertia(after, 4) <= inertia(init, 4) + 1e-6)
  }

  test("clusterEmbeddings with refineIters uses the refined codebook (different centers, complete output)") {
    val vecs = (0 until 250).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val base = Similarity.clusterEmbeddings(df, "vec_id", "embedding", dim = 16, nlist = 4)
      .as[(Long, Long, Double)].collect()
    val refined = Similarity.clusterEmbeddings(df, "vec_id", "embedding", dim = 16,
        nlist = 4, refineIters = 2)
      .as[(Long, Long, Double)].collect()
    assert(base.length == 250 && refined.length == 250)
    // refinement moved the centroids → total squared distance shrinks
    assert(refined.map(_._3).sum < base.map(_._3).sum)
  }

  test("refineCodebook is partitioning-invariant (pinned component sums)") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => math.cos(i * 3 + j * 5).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.refineCodebook(d, "vec_id", "embedding",
        dim = 16, nlist = 4, iters = 2).as[(Int, Int, Double)].collect().toSet
    assert(run(df) == run(df.repartition(13)))
  }

  test("clusterEmbeddings: near-copies share a cluster; assignment is nearest-centroid") {
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    val near = (900L, vecs(7)._2.map(x => x * 1.0005f))
    val df = (vecs :+ near).toDF("vec_id", "embedding")
    val out = Similarity.clusterEmbeddings(df, "vec_id", "embedding", dim = 16, nlist = 8)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 201, "every vector must be assigned")
    val byId = out.map(r => r._1 -> r).toMap
    // the SemDeDup premise: a near-duplicate lands in its twin's cluster
    assert(byId(900L)._2 == byId(7L)._2)
    out.foreach { case (_, c, d2) =>
      assert(c >= 0 && c < 8); assert(d2 >= 0.0)
    }
    // partitioning-invariant: same codebook, same assignment
    val re = Similarity.clusterEmbeddings(df.repartition(7), "vec_id", "embedding",
      dim = 16, nlist = 8).as[(Long, Long, Double)].collect()
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("clusterEmbeddings assignment plans no shuffle (pure expression scan)") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(16)(j => (i * 16 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val plan = Similarity.clusterEmbeddings(df, "vec_id", "embedding", dim = 16, nlist = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
  }

  test("CacheScope: a full dedup pipeline run leaves no cached plans behind") {
    import graft.operators.CorpusPipeline
    import org.apache.spark.sql.GraftSqlBridge
    spark.catalog.clearCache()
    CacheScope.releaseAll() // drop frames tracked by earlier suites
    assert(GraftSqlBridge.cacheIsEmpty(spark))
    CacheScope.withCached {
      // terminal actions inside the scope: count + collect
      assert(CorpusPipeline.clean(corpus, "id", "text",
        CorpusPipeline.Config(minQuality = 0.0, tau = 0.3)).count() > 0)
      Dedup.ngramJaccardPairs(corpus, "id", "text", tau = 0.3).collect()
    }
    assert(GraftSqlBridge.cacheIsEmpty(spark),
      "dedup operators leaked persisted frames past their CacheScope")
  }

  test("dedupSpans removes every duplicated k-span occurrence except the first (id,pos)") {
    val span = (1 to 4).map(i => s"s$i").mkString(" ") // the shared 4-token span
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),       // canonical: first (id,pos) occurrence
      (2L, s"delta $span epsilon zeta"),     // cross-doc duplicate → span removed
      (3L, s"unique tokens only here")       // untouched
    ).toDF("id", "text")
    val out = Dedup.dedupSpans(docs, "id", "text", k = 4)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == s"alpha beta $span gamma" && out(1L)._4 == 0L)
    assert(out(2L)._2 == "delta epsilon zeta" && out(2L)._4 == 4L)
    assert(out(3L)._2 == "unique tokens only here" && out(3L)._4 == 0L)
  }

  test("dedupSpans catches WITHIN-document repetition too") {
    val span = (1 to 4).map(i => s"r$i").mkString(" ")
    val docs = Seq((1L, s"$span filler $span tail")).toDF("id", "text")
    val out = Dedup.dedupSpans(docs, "id", "text", k = 4)
      .as[(Long, String, Long, Long)].collect().head
    // first occurrence survives, the repeat is removed
    assert(out._2 == s"$span filler tail", out._2)
    assert(out._3 == 6L && out._4 == 4L)
  }

  test("dedupSpans: overlapping duplicated spans mark the union of their positions") {
    // doc 2 copies a 6-token run from doc 1 → three overlapping 4-spans
    // are all duplicated; their union (all 6 tokens) is removed from
    // doc 2, not just one window
    val run = (1 to 6).map(i => s"o$i").mkString(" ")
    val docs = Seq((1L, s"$run x1"), (2L, s"y1 $run")).toDF("id", "text")
    val out = Dedup.dedupSpans(docs, "id", "text", k = 4)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 == 0L)
    assert(out(2L)._2 == "y1" && out(2L)._4 == 6L)
  }

  test("dedupSpans: a NULL id and a MinValue id never share a canonical occurrence") {
    // both documents open with the same spans at the same positions;
    // the null id sorts first, so its occurrences are canonical and
    // the MinValue document loses the copies. The packed (bigint id)
    // and struct (decimal id) branches must agree.
    val docs = Seq[(Option[Long], String)](
      (None, "a b c d"),
      (Some(Long.MinValue), "a b c d e"),
      (Some(0L), "x a b c y")).toDF("id", "text")
    val want = Set[(Option[Long], String, Long, Long)](
      (None, "a b c d", 4L, 0L),
      (Some(Long.MinValue), "e", 1L, 4L),
      (Some(0L), "x y", 2L, 3L))
    for (idType <- Seq("bigint", "decimal(20,0)")) {
      val got = Dedup.dedupSpans(docs.withColumn("id", col("id").cast(idType)), "id", "text", k = 3)
        .withColumn("id", col("id").cast("bigint"))
        .as[(Option[Long], String, Long, Long)].collect().toSet
      assert(got == want, idType)
    }
  }

  test("dedupSpans is partitioning-invariant; empty docs survive as empty rows") {
    val span = (1 to 5).map(i => s"p$i").mkString(" ")
    val docs = ((1L to 40L).map(i => (i, s"doc$i $span end$i")) :+ (99L, ""))
      .toDF("id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.dedupSpans(d, "id", "text", k = 5)
        .as[(Long, String, Long, Long)].collect().toSet
    val a = run(docs)
    assert(a == run(docs.repartition(11)))
    assert(a.find(_._1 == 99L).contains((99L, "", 0L, 0L)))
    // the span is duplicated 40× → exactly one survivor keeps it
    assert(a.count(_._2.contains(span)) == 1)
  }

  test("incrementalDedup keeps only increment rows new to the corpus") {
    // increment: one new doc, one exact copy of corpus doc 3, one
    // whitespace-variant copy of doc 4 (normalization must catch it)
    val corpusDocs = corpus
    val inc = Seq(
      (200L, "a genuinely brand new document"),
      (201L, corpusDocs.where($"id" === 3L).select("text").as[String].head()),
      (202L, "  " + corpusDocs.where($"id" === 4L).select("text").as[String].head() + "  ")
    ).toDF("id", "text")
    val out = Dedup.incrementalDedup(corpusDocs, inc, "id", "text")
      .select("id").as[Long].collect().toSet
    assert(out == Set(200L))
  }

  test("incrementalDedup equals the exact anti-join at every fpp") {
    val inc = corpus.where($"id" <= 5L)
      .select(($"id" + 300L).as("id"), $"text")
      .unionByName(Seq((400L, "only in the increment")).toDF("id", "text"))
    val exact = inc
      .withColumn("fp", graft.functions.TextFunctions.fingerprint($"text"))
      .join(corpus.select(graft.functions.TextFunctions.fingerprint($"text").as("fp")),
        Seq("fp"), "left_anti")
      .select("id").as[Long].collect().toSet
    for (fpp <- Seq(0.5, 0.01)) { // even a half-wrong Bloom must not change output
      val out = Dedup.incrementalDedup(corpus, inc, "id", "text", fpp = fpp)
        .select("id").as[Long].collect().toSet
      assert(out == exact, s"fpp=$fpp diverged from the exact anti-join")
    }
  }

  test("semanticDedupPairs pairs planted duplicates inside their cluster, once") {
    // primary one-hot slot + a distinct secondary slot: any two distinct
    // vectors have cosine <= 0.8, so only the planted exact copies can
    // cross tau (the sin-phase fixture used elsewhere has accidental
    // near-coincident phases at this tolerance)
    val vecs = (0 until 40).map { i =>
      val p = i % 8
      val s = (i / 8 + p + 1) % 8
      (i.toLong, Array.tabulate(8)(j =>
        if (j == p) 1.0f else if (j == s) 0.5f else 0.0f))
    }
    val dups = Seq((500L, vecs(3)._2.clone()), (501L, vecs(17)._2.clone()))
    val df = (vecs ++ dups).toDF("id", "embedding")
    val pairs = Similarity.semanticDedupPairs(df, "id", "embedding",
      dim = 8, tau = 0.9999, nlist = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSet.contains((3L, 500L)) && pairs.toSet.contains((17L, 501L)))
    assert(pairs.length == pairs.distinct.length,
      "each pair must meet in exactly one cluster")
    val survivors = Dedup.nearDupSurvivors(
      Similarity.semanticDedupPairs(df, "id", "embedding",
        dim = 8, tau = 0.9999, nlist = 4))
      .as[(Long, Long)].collect().toMap
    assert(survivors(500L) == 3L && survivors(501L) == 17L)
  }

  test("embeddingNearDupPairs finds the planted near-duplicate") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => (math.sin(i * 11 + j * 3) + 2.0).toFloat))
    }
    val dup = (200L, vecs(5)._2.clone())
    val df = (vecs :+ dup).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(df, "vec_id", "embedding", dim = 8, tau = 0.9999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((5L, 200L)))
  }

  private def knnFixture(n: Int) = {
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(16)(j => (math.sin(i * 5 + j) + math.cos(i + j * 2)).toFloat))
    }
    (vecs :+ (9000L, vecs(7)._2.map(x => x * 1.0005f))).toDF("vec_id", "embedding")
  }

  test("knnGraph with nprobe = nlist recovers brute force exactly (every vector a query)") {
    val df = knnFixture(120)
    val graph = Similarity.knnGraph(df, "vec_id", "embedding", k = 3, dim = 16,
        nlist = 6, nprobe = 6)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    val bf = Similarity.bruteForceTopK(df, df, "vec_id", "embedding", k = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(graph.length == 121 * 3)
    assert(graph.toSeq == bf.toSeq)
  }

  test("knnGraph default probes: planted near-dup is every planted pair's rank-1, no self-pairs, pairs meet once") {
    val df = knnFixture(200)
    val out = Similarity.knnGraph(df, "vec_id", "embedding", k = 3, dim = 16,
        nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ(7L).find(_._3 == 1).map(_._2).contains(9000L))
    assert(byQ(9000L).find(_._3 == 1).map(_._2).contains(7L))
    assert(out.forall(r => r._1 != r._2), "no self-pairs")
    assert(out.map(r => (r._1, r._2)).distinct.length == out.length,
      "a (query, neighbor) pair meets in at most one list")
    assert(byQ.values.forall(rs => rs.map(_._3).sorted.sameElements(1 to rs.length)),
      "ranks are contiguous from 1 per query")
  }

  test("knnGraph shuffle arm (broadcast disabled) is value-identical to the AQE arm") {
    val df = knnFixture(150)
    def run() = Similarity.knnGraph(df, "vec_id", "embedding", k = 3, dim = 16,
        nlist = 8, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val aqe = run()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(run() == aqe, "list-key shuffle join must agree with the broadcast arm")
    } finally spark.conf.set(key, old)
  }

  test("knnGraph hot-list guard drops over-cap lists loudly, keeps the rest") {
    // nlist=2 on a lopsided corpus: one list overflows a tiny cap; its
    // members lose that list's candidates but still appear as queries
    val df = knnFixture(60)
    val capped = Similarity.knnGraph(df, "vec_id", "embedding", k = 3, dim = 16,
      nlist = 2, nprobe = 1, maxListSize = 10L)
    val full = Similarity.knnGraph(df, "vec_id", "embedding", k = 3, dim = 16,
      nlist = 2, nprobe = 1)
    assert(capped.count() < full.count(),
      "the dropped list must remove candidate pairs")
  }

  test("bitextMineForward: margin equals a driver-side fold over brute-force top-k at full probes") {
    val all = knnFixture(120)
    val q = all.where(col("vec_id") % 2 === 0)
    val c = all.where(col("vec_id") % 2 === 1)
    val mined = Similarity.bitextMineForward(q, c, "vec_id", "embedding",
        k = 4, dim = 16, nlist = 6, nprobe = 6, tau = 1.0)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // nprobe = nlist -> the neighborhood is the exact brute-force top-k
    val bf = Similarity.bruteForceTopK(c, q, "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).map { case (qid, rows) =>
        val byRank = rows.sortBy(_._4)
        val mean = byRank.map(_._3).foldLeft(0.0)(_ + _) / byRank.length
        qid -> ((qid, byRank.head._2, byRank.head._3, byRank.head._3 / mean))
      }
    assert(mined.keySet == bf.keySet, "tau=1.0 keeps every query with candidates")
    bf.foreach { case (qid, exp) =>
      val got = mined(qid)
      assert(got._2 == exp._2 && got._3 == exp._3, s"match mismatch at $qid")
      assert(got._4 == exp._4, s"margin must be the rank-ordered fold at $qid")
    }
  }

  test("bitextMineForward: tau filters; the planted near-dup clears it with the top margin") {
    val all = knnFixture(200) // 9000L is a near-copy of 7L (both even side)
    val q = all.where(col("vec_id") % 2 === 0)
    val c = all.where(col("vec_id") % 2 === 1)
    val loose = Similarity.bitextMineForward(q, c, "vec_id", "embedding",
      k = 4, dim = 16, nlist = 8, nprobe = 3, tau = 1.0).collect()
    val strictTau = 1.0 + loose.map(r => r.getDouble(3)).sorted
      .apply(loose.length / 2) - 1.0 // median margin as the cut
    val strict = Similarity.bitextMineForward(q, c, "vec_id", "embedding",
      k = 4, dim = 16, nlist = 8, nprobe = 3, tau = strictTau).collect()
    assert(strict.length < loose.length && strict.nonEmpty,
      s"tau=$strictTau must filter some but not all (${strict.length}/${loose.length})")
    assert(strict.forall(_.getDouble(3) >= strictTau))
  }

  test("bitextMineMutual is the mutual-best intersection of the two forward passes") {
    val all = knnFixture(120)
    val a = all.where(col("vec_id") % 2 === 0)
    val b = all.where(col("vec_id") % 2 === 1)
    def fwd(q: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
      Similarity.bitextMineForward(q, c, "vec_id", "embedding",
          k = 4, dim = 16, nlist = 6, nprobe = 3, tau = 1.0)
        .select("query_id", "match_id").as[(Long, Long)].collect().toSet
    val expected = fwd(a, b) intersect fwd(b, a).map(_.swap)
    val mutual = Similarity.bitextMineMutual(a, b, "vec_id", "embedding",
        k = 4, dim = 16, nlist = 6, nprobe = 3, tau = 1.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(mutual.nonEmpty && mutual == expected,
      s"mutual (${mutual.size}) must equal the forward intersection (${expected.size})")
  }

  test("bitextMineForward rejects a vacuous tau") {
    val all = knnFixture(20)
    val e = intercept[IllegalArgumentException] {
      Similarity.bitextMineForward(all, all, "vec_id", "embedding",
        k = 2, dim = 16, tau = 0.5)
    }
    assert(e.getMessage.contains("vacuous"))
  }

  test("pre-fitted Codebook handle: every *With variant is value-identical to its fit-inside twin") {
    val all = knnFixture(120)
    val q = all.where(col("vec_id") % 2 === 0)
    val c = all.where(col("vec_id") % 2 === 1)
    val cbC = Similarity.fitIvfCodebook(c, "vec_id", "embedding", dim = 16,
      nlist = 6, seed = 9)
    val cbQ = Similarity.fitIvfCodebook(q, "vec_id", "embedding", dim = 16,
      nlist = 6, seed = 9)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Similarity.ivfTopKWith(c, q, "vec_id", "embedding", 3, cbC, nprobe = 2))
      == rows(Similarity.ivfTopK(c, q, "vec_id", "embedding", 3, 16, nlist = 6, nprobe = 2)))
    assert(rows(Similarity.knnGraphWith(c, "vec_id", "embedding", 3, cbC, nprobe = 2))
      == rows(Similarity.knnGraph(c, "vec_id", "embedding", 3, 16, nlist = 6, nprobe = 2)))
    assert(rows(Similarity.clusterEmbeddingsWith(c, "vec_id", "embedding", cbC))
      == rows(Similarity.clusterEmbeddings(c, "vec_id", "embedding", 16, nlist = 6)))
    assert(rows(Similarity.ivfPqTopKWith(c, q, "vec_id", "embedding", 3, cbC,
        nprobe = 2, m = 4, ksub = 4, candidates = 10))
      == rows(Similarity.ivfPqTopK(c, q, "vec_id", "embedding", 3, 16,
        nlist = 6, nprobe = 2, m = 4, ksub = 4, candidates = 10)))
    assert(rows(Similarity.bitextMineMutualWith(q, c, "vec_id", "embedding", 4,
        codebookOnB = cbC, codebookOnA = cbQ, nprobe = 3, tau = 1.0))
      == rows(Similarity.bitextMineMutual(q, c, "vec_id", "embedding", 4, 16,
        nlist = 6, nprobe = 3, tau = 1.0)))
    assert(rows(Similarity.semanticDedupPairsWith(c, "vec_id", "embedding",
        tau = 0.5, cbC))
      == rows(Similarity.semanticDedupPairs(c, "vec_id", "embedding", 16,
        tau = 0.5, nlist = 6)))
    assert(cbC.nlist == 6 && cbC.dim == 16)
  }

  test("ivfTopKDistributed is value-identical to the driver-path ivfTopK on a corpus-scale query frame") {
    val df = knnFixture(200)
    val q = df.where(col("vec_id") % 2 === 0) // half the corpus as queries
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    val dist = Similarity.ivfTopKDistributed(df, q, "vec_id", "embedding",
      k = 3, dim = 16, nlist = 8, nprobe = 3)
    val driver = Similarity.ivfTopK(df, q, "vec_id", "embedding",
      k = 3, dim = 16, nlist = 8, nprobe = 3)
    assert(rows(dist) == rows(driver))
    // the *With form on the same (corpus, nlist, seed) handle too
    val cb = Similarity.fitIvfCodebook(df, "vec_id", "embedding", dim = 16,
      nlist = 8)
    assert(rows(Similarity.ivfTopKDistributedWith(df, q, "vec_id", "embedding",
      k = 3, cb, nprobe = 3)) == rows(dist))
    // contract details: k rows per query, no self-pairs
    val got = dist.as[(Long, Long, Double, Int)].collect()
    assert(got.forall { case (qid, nid, _, _) => qid != nid })
    assert(got.groupBy(_._1).values.forall(_.length == 3))
  }

  test("distributed-vs-driver IVF identity holds across randomized corpora and parameters") {
    // property form of the value-identity contract: random (seeded)
    // vector corpora and random (n, nlist, nprobe, k) draws — the
    // distributed probe join must reproduce the driver path's rows
    // exactly on every draw, not just the fixture the gate pins
    val rnd = new scala.util.Random(20260817L)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    (1 to 4).foreach { draw =>
      val n = 60 + rnd.nextInt(120)
      val nlist = 3 + rnd.nextInt(8)
      val nprobe = 1 + rnd.nextInt(nlist)
      val k = 1 + rnd.nextInt(4)
      val vecs = (0 until n).map { i =>
        (i.toLong, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))
      }
      val df = vecs.toDF("vec_id", "embedding")
      val q = df.where(col("vec_id") % 3 === 0)
      val dist = Similarity.ivfTopKDistributed(df, q, "vec_id", "embedding",
        k = k, dim = 16, nlist = nlist, nprobe = nprobe)
      val driver = Similarity.ivfTopK(df, q, "vec_id", "embedding",
        k = k, dim = 16, nlist = nlist, nprobe = nprobe)
      assert(rows(dist) == rows(driver),
        s"draw $draw (n=$n nlist=$nlist nprobe=$nprobe k=$k) diverged")
    }
  }

  test("ivfPqTopKDistributed is value-identical to the driver-path ivfPqTopK on a corpus-scale query frame") {
    val df = knnFixture(200)
    val q = df.where(col("vec_id") % 2 === 0)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    val dist = Similarity.ivfPqTopKDistributed(df, q, "vec_id", "embedding",
      k = 3, dim = 16, nlist = 8, nprobe = 3, m = 4, ksub = 8, candidates = 20)
    val driver = Similarity.ivfPqTopK(df, q, "vec_id", "embedding",
      k = 3, dim = 16, nlist = 8, nprobe = 3, m = 4, ksub = 8, candidates = 20)
    assert(rows(dist) == rows(driver))
    val cb = Similarity.fitIvfCodebook(df, "vec_id", "embedding", dim = 16,
      nlist = 8)
    assert(rows(Similarity.ivfPqTopKDistributedWith(df, q, "vec_id", "embedding",
      k = 3, cb, nprobe = 3, m = 4, ksub = 8, candidates = 20)) == rows(dist))
    // the hot-list cap is the one documented deviation from the driver
    // path: every list over the cap drops (silently, by the skew-guard
    // contract) — at maxListSize=1 nearly everything vanishes without
    // error, and Long.MaxValue restores unconditional identity
    val capped = Similarity.ivfPqTopKDistributedWith(df, q, "vec_id",
      "embedding", k = 3, cb, nprobe = 3, m = 4, ksub = 8, candidates = 20,
      maxListSize = 1L)
    assert(capped.count() < dist.count())
    assert(rows(Similarity.ivfPqTopKDistributedWith(df, q, "vec_id",
      "embedding", k = 3, cb, nprobe = 3, m = 4, ksub = 8, candidates = 20,
      maxListSize = Long.MaxValue)) == rows(dist))
  }

  test("CodebookCache memoizes per key and releases with CacheScope.releaseAll") {
    val df = knnFixture(60)
    graft.CodebookCache.clear()
    var fits = 0
    def fit() = { fits += 1
      Similarity.fitIvfCodebook(df, "vec_id", "embedding", dim = 16, nlist = 4) }
    val a = graft.CodebookCache.getOrFit("spec|knn60|nlist=4|seed=9")(fit())
    val b = graft.CodebookCache.getOrFit("spec|knn60|nlist=4|seed=9")(fit())
    assert(fits == 1 && (a eq b), "second lookup must hit the memo")
    // releaseAll (the Bench/Measure per-run hygiene hook) clears it —
    // recorded numbers never hide the fit behind a warm memo
    graft.CacheScope.releaseAll()
    val c = graft.CodebookCache.getOrFit("spec|knn60|nlist=4|seed=9")(fit())
    assert(fits == 2 && !(a eq c), "post-release lookup must re-fit")
    graft.CodebookCache.clear()
  }

  test("bitextMineTwoSided: margin equals the paper's two-sided fold at full probes") {
    val all = knnFixture(120)
    val a = all.where(col("vec_id") % 2 === 0)
    val b = all.where(col("vec_id") % 2 === 1)
    // tau tiny: keep every pair so the values themselves are checked
    val mined = Similarity.bitextMineTwoSided(a, b, "vec_id", "embedding",
        k = 4, dim = 16, nlist = 6, nprobe = 6, tau = 1e-9)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // nprobe = nlist -> both neighborhoods are exact brute-force top-k
    def nn(qs: org.apache.spark.sql.DataFrame, cs: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(cs, qs, "vec_id", "embedding", k = 4)
        .as[(Long, Long, Double, Int)].collect()
        .groupBy(_._1).view.mapValues { rows =>
          val byRank = rows.sortBy(_._4)
          (byRank.head._2, byRank.head._3,
            byRank.map(_._3).foldLeft(0.0)(_ + _) / byRank.length)
        }.toMap
    val fwd = nn(a, b); val rev = nn(b, a)
    assert(mined.nonEmpty)
    mined.foreach { case (qid, got) =>
      val (bestY, cos, meanQ) = fwd(qid)
      val meanC = rev(bestY)._3
      assert(got._2 == bestY && got._3 == cos, s"match mismatch at $qid")
      assert(got._4 == cos / ((meanQ + meanC) / 2.0),
        s"two-sided margin mismatch at $qid")
    }
    // NOT >= 1 by construction — exactly why tau is only required
    // positive: when the match's OWN neighborhood is tighter than the
    // cross cosine, the averaged denominator exceeds it. Constructed
    // case: y ≈ x2 (cos ≈ 0.995) while the query x only reaches y at
    // cos ≈ 0.0995 → margin ≈ 0.31
    def vec(parts: (Int, Float)*): Array[Float] = {
      val v = Array.fill(16)(0.0f); parts.foreach { case (i, x) => v(i) = x }; v
    }
    val qa = Seq((1L, vec(0 -> 1.0f)), (2L, vec(1 -> 1.0f)))
      .toDF("vec_id", "embedding")
    val cb = Seq((100L, vec(1 -> 1.0f, 0 -> 0.1f))).toDF("vec_id", "embedding")
    val micro = Similarity.bitextMineTwoSided(qa, cb, "vec_id", "embedding",
        k = 4, dim = 16, nlist = 2, nprobe = 2, tau = 1e-9)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(micro(1L) < 1.0,
      s"x's margin must drop below 1 against y's tight own-neighborhood: $micro")
    val e = intercept[IllegalArgumentException] {
      Similarity.bitextMineTwoSided(a, b, "vec_id", "embedding",
        k = 2, dim = 16, tau = 0.0)
    }
    assert(e.getMessage.contains("positive"))
  }

  test("bitextMineForward raises loudly on a non-positive neighborhood mean cosine") {
    // queries orthogonal-to-anti-correlated with the corpus: neighborhood
    // mean ≤ 0, where the ratio margin flips sign — must raise, not filter
    val q = Seq((1L, Array(1.0f) ++ Array.fill(15)(0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (100L, Array(-1.0f) ++ Array.fill(15)(0.0f)),
      (101L, Array(-1.0f, 0.1f) ++ Array.fill(14)(0.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.bitextMineForward(q, c, "vec_id", "embedding",
        k = 2, dim = 16, nlist = 2, nprobe = 2, tau = 1.0).collect()
    }
    assert(causeMessages(e).exists(_.contains("non-positive neighborhood mean")),
      causeMessages(e).mkString("|"))
  }
}
