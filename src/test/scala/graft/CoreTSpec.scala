package graft

import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.operators.{CoreT, TStep}
import graft.plans.Enumerator

class CoreTSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated blobs + a line, 60 rows
  private def blobs = {
    val r = new scala.util.Random(7)
    val rows = (0 until 30).map { i =>
      (i.toLong, r.nextGaussian() * 0.05, r.nextGaussian() * 0.05, i * 1.0)
    } ++ (30 until 60).map { i =>
      (i.toLong, 5.0 + r.nextGaussian() * 0.05, 5.0 + r.nextGaussian() * 0.05, i * 1.0)
    }
    rows.toDF("k", "x", "y", "z")
  }

  test("pca outputs 2 components, variance concentrated on PC1 for correlated data") {
    val df = (0 until 50).map(i => (i.toLong, i.toDouble, 2.0 * i, 3.0 * i)).toDF("k", "a", "b", "c")
    val out = CoreT.pca(df, Seq("a", "b", "c"), Seq("k")).get
    assert(out.columns.toSeq == Seq("k", "PC1", "PC2"))
    assert(out.count() == 50)
    // perfectly correlated → PC2 ≈ 0 everywhere
    val pc2 = out.select("PC2").as[Double].collect()
    assert(pc2.forall(v => math.abs(v) < 1e-9))
  }

  test("kmeans(k=3) labels are 0..2 and separate blobs consistently") {
    val out = CoreT.kmeans(blobs, Seq("x", "y", "z"), Seq("k"), k = 2).get
    val labels = out.select($"k", $"Category by KMeans").as[(Long, Long)].collect().toMap
    assert(labels.values.toSet.subsetOf(Set(0L, 1L)))
    // each blob maps to one label
    assert((0L until 30L).map(labels).toSet.size == 1)
    assert((30L until 60L).map(labels).toSet.size == 1)
    assert(labels(0L) != labels(59L))
  }

  test("dbscan separates blobs, labels outliers -1") {
    val withOutlier = blobs.union(Seq((99L, 100.0, 100.0, 0.0)).toDF("k", "x", "y", "z"))
    val out = CoreT.dbscan(withOutlier, Seq("x", "y"), Seq("k"), eps = 0.1, minPts = 5).get
    val labels = out.select($"k", $"Category by DBSCAN").as[(Long, Long)].collect().toMap
    assert(labels(99L) == -1L)
    assert((0L until 30L).map(labels).toSet.size == 1)
    assert((30L until 60L).map(labels).toSet.size == 1)
  }

  test("dbscan canonical labels: min core key names the cluster, border ties break to min") {
    // two tight 6-point cores at x∈[0,0.05] and x∈[0.95,1] (x spans
    // exactly [0,1] so minmax normalization is the identity); keys make
    // the right cluster's min key (5) smaller than the left's (10).
    // The lone point at x=0.5 has 5 neighbors < minPts=6 → border, and
    // it is within eps=0.46 of cores on BOTH sides → min label wins.
    val left = (10 to 15).map(i => (i.toLong, (i - 10) * 0.01, 0.0, 0.0))
    val right = ((5 to 9).map(i => (i.toLong, 0.95 + (i - 5) * 0.01, 0.0, 0.0)) :+
      (16L, 1.0, 0.0, 0.0))
    val border = Seq((99L, 0.5, 0.0, 0.0))
    val df = (left ++ right ++ border).toDF("k", "x", "y", "z")
    val out = CoreT.dbscan(df, Seq("x", "y"), Seq("k"), eps = 0.46, minPts = 6)
      .get.select($"k", $"Category by DBSCAN").as[(Long, Long)].collect().toMap
    assert((10L to 15L).forall(out(_) == 10L))
    assert(((5L to 9L) :+ 16L).forall(out(_) == 5L))
    assert(out(99L) == 5L) // within eps of both clusters → min label wins
  }

  test("mds preserves relative distances of a 1-D manifold") {
    val df = (0 until 20).map(i => (i.toLong, i.toDouble, i.toDouble, 0.0)).toDF("k", "a", "b", "c")
    val out = CoreT.mds(df, Seq("a", "b"), Seq("k")).get
    val coords = out.orderBy("k").select("MDS-1").as[Double].collect()
    // points on a line → MDS-1 monotone (up to sign)
    val diffs = coords.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(diffs.forall(_ > 0) || diffs.forall(_ < 0))
  }

  test("lda labels: k topics max, reference label format") {
    val out = CoreT.lda(blobs, Seq("x", "y", "z"), Seq("k"), k = 3).get
    val labels = out.select($"Category by LDA").as[String].collect()
    assert(labels.length == 60)
    assert(labels.distinct.length <= 3)
    assert(labels.forall(_.matches(""".{1,6}\*[xyz]( \+ .{1,6}\*[xyz]){1,2}""")))
  }

  test("embedSampled: partition-invariant out-of-sample embeddings, 2-d output") {
    val df = (1 to 500).map(i =>
      (i.toLong, math.cos(i * 0.1) * 10, math.sin(i * 0.1) * 10, i * 0.5))
      .toDF("k", "x", "y", "z")
    def out(parts: Int) =
      CoreT.embedSampled(df.repartition(parts), Seq("x", "y", "z"), Seq("k"),
        "umap", sampleCap = 100, epochs = 30).get
        .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val a = out(2)
    val b = out(11)
    assert(a.length == 500)
    assert(a == b, "sampled embedding moved under reshuffling")
    assert(a.map(t => (t._2, t._3)).distinct.length > 10, "degenerate embedding")
    // mds rides the same seam (Torgerson fit on the sample, NN transform)
    val m = CoreT.embedSampled(df, Seq("x", "y", "z"), Seq("k"), "mds", sampleCap = 100).get
    assert(m.columns.toSeq == Seq("k", "MDS-1", "MDS-2"))
    assert(m.count() == 500)
  }

  test("lda distributed E-step is partition-count invariant (pinned-integer stats)") {
    // the EM reduce sums pinned integers — commutative and exact — so
    // λ, and therefore every label, must not move under reshuffling
    def out(parts: Int): Seq[(Long, String)] =
      CoreT.lda(blobs.repartition(parts), Seq("x", "y", "z"), Seq("k"), k = 3).get
        .orderBy("k").select($"k", $"Category by LDA").as[(Long, String)]
        .collect().toSeq
    val a = out(1)
    val b = out(9)
    assert(a.length == 60)
    assert(a == b)
    CacheScope.releaseAll()
  }

  test("minRankByValue: SQL RANK semantics (ties share), nulls first, partition-invariant") {
    import graft.operators.Rank
    val vals: Seq[java.lang.Double] = Seq(3.0, 1.0, null, 2.0, 1.0, 3.0, 3.0)
    val df = vals.toDF("v")
    // nulls first → null=1; 1.0 ties at 2; 2.0=4; 3.0 ties at 5
    val expected = Map[Option[Double], Long](
      None -> 1L, Some(1.0) -> 2L, Some(2.0) -> 4L, Some(3.0) -> 5L)
    for (parts <- Seq(1, 3, 7)) {
      val got = Rank.minRankByValue(df.repartition(parts), "v", "r")
        .collect().map(r => (Option(r.get(0)).map(_.toString.toDouble), r.getLong(1)))
      assert(got.length == 7)
      got.foreach { case (v, rk) => assert(rk == expected(v), s"value $v at $parts parts") }
    }
    CacheScope.releaseAll()
  }

  test("lda with empty carry (keyless table) is deterministic under reshuffling") {
    // duplicate feature values everywhere → row_number tie-breaking
    // would leak encounter order; min-rank fallback must not
    val rows = (0 until 40).map(i => ((i % 5).toDouble, (i % 3).toDouble, (i % 7).toDouble))
    val df = rows.toDF("x", "y", "z")
    def labels(parts: Int): Seq[String] =
      CoreT.lda(df.repartition(parts), Seq("x", "y", "z"), carry = Nil, k = 3).get
        .select($"Category by LDA").as[String].collect().toSeq.sorted
    val a = labels(2)
    val b = labels(11)
    assert(a.length == 40)
    assert(a == b)
    CacheScope.releaseAll()
  }

  test("tsne embeds neighbors near each other, deterministic across runs") {
    // two tight blobs in 3-D → t-SNE keeps within-blob distances far
    // below between-blob distances
    val out = CoreT.tsne(blobs, Seq("x", "y", "z"), Seq("k"), perplexity = 5).get
      .orderBy("k").select("tSNE-1", "tSNE-2").as[(Double, Double)].collect()
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.sqrt(math.pow(a._1 - b._1, 2) + math.pow(a._2 - b._2, 2))
    // mean consecutive within-blob distance far below mean between-blob
    // distance (mean-based: a single stretched pair from a t-SNE
    // segment split must not flip the verdict)
    val withinA = (for (i <- 0 until 29) yield dist(out(i), out(i + 1)))
    val between = for (i <- 0 until 30; j <- 30 until 60) yield dist(out(i), out(j))
    assert(between.sum / between.size > 2 * withinA.sum / withinA.size)
    // determinism: second run identical (no RNG anywhere)
    val out2 = CoreT.tsne(blobs, Seq("x", "y", "z"), Seq("k"), perplexity = 5).get
      .orderBy("k").select("tSNE-1", "tSNE-2").as[(Double, Double)].collect()
    assert(out.toSeq == out2.toSeq)
  }

  test("umap separates blobs, deterministic across runs") {
    val out = CoreT.umap(blobs, Seq("x", "y", "z"), Seq("k"), nNeighbors = 10).get
      .orderBy("k").select("UMAP-1", "UMAP-2").as[(Double, Double)].collect()
    def dist(a: (Double, Double), b: (Double, Double)) =
      math.sqrt(math.pow(a._1 - b._1, 2) + math.pow(a._2 - b._2, 2))
    // mean within-blob distance far below mean between-blob distance
    val withinA = (for (i <- 0 until 30; j <- (i + 1) until 30) yield dist(out(i), out(j)))
    val between = (for (i <- 0 until 30; j <- 30 until 60) yield dist(out(i), out(j)))
    assert(between.sum / between.size > 2 * withinA.sum / withinA.size)
    // determinism: seeded negative sampling, PCA init → identical rerun
    val out2 = CoreT.umap(blobs, Seq("x", "y", "z"), Seq("k"), nNeighbors = 10).get
      .orderBy("k").select("UMAP-1", "UMAP-2").as[(Double, Double)].collect()
    assert(out.toSeq == out2.toSeq)
  }

  test("transform enforces plan-validity rules (Tengine.py:58-67)") {
    val df = blobs
    // NOTCALCUDMT: pca after arithmetic tpath → None
    val arith = Seq(TStep("sum", inCols = Seq("x", "y"), outName = Some("s")))
    assert(CoreT.transform(df, "pca", arith, Seq("k")).isEmpty)
    // null_num1 without arithmetic → None, with arithmetic → Some
    assert(CoreT.transform(df, "null_num1", Nil, Seq("k")).isEmpty)
    assert(CoreT.transform(df, "null_num1", arith, Seq("k")).isDefined)
    // pca with clean tpath → Some
    assert(CoreT.transform(df, "pca", Nil, Seq("k")).isDefined)
    // every core T: admits agrees with transform, and a fitted core T
    // emits exactly its declared columns after the key
    for (t <- Enumerator.numTl ++ Enumerator.catTl; steps <- Seq(Nil, arith)) {
      val out = CoreT.transform(df, t, steps, Seq("k"))
      assert(CoreT.admits(t, steps) == out.isDefined, s"$t after $steps")
      val decl = CoreT.decl(t)
      if (decl.fitted) out.foreach(o => assert(
        o.schema.fields.toSeq.map(f => f.name -> f.dataType) ==
          (("k" -> LongType) +: decl.outCols.map(_ -> decl.outType)), t))
    }
    assert(CoreT.table.filter(_.fitted).map(d => d.name -> (d.outCols.size, d.outType)).toMap ==
      Map("pca" -> (2, DoubleType), "mds" -> (2, DoubleType), "tsne" -> (2, DoubleType),
        "umap" -> (2, DoubleType), "kmeans" -> (1, LongType), "dbscan" -> (1, LongType),
        "lda" -> (1, StringType)))
    CacheScope.releaseAll()
  }

  test("guard: ≤2 columns → None (Tengine.py:217-220)") {
    val df = Seq((1L, 2.0)).toDF("k", "x")
    assert(CoreT.pca(df, Seq("x"), Seq("k")).isEmpty)
  }
}
