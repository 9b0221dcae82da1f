package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EngineConfig, TableProfile}
import graft.functions.{DBSCAN, TSNE, UMAP}

/** Core transformations — the ML operators that terminate a tpath
  * (registry T.py:1-178, executor wrappers Tengine.py:146-220).
  *
  * Shared semantics, replicated from the reference:
  *  - operate on the numeric columns only (select_dtypes, Tengine.py:148…);
  *  - min-max normalize per column first (Tfunctions.py:13,19,28,34,91,97);
  *  - guard: input needs >2 columns (errorinputforcoreT, Tengine.py:217-220)
  *    → `None`;
  *  - output is a new narrow table; we additionally carry the key column
  *    through every output because Spark rows have no stable order
  *    (SURVEY §7.4.1) — the reference relies on pandas RangeIndex.
  *
  * Execution strategy per operator:
  *  - PCA: a pinned-moment aggregate plus a driver-side Jacobi.
  *  - KMeans: a driver-side Lloyd fit over a digest sample plus a scan
  *    against the center literals.
  *  - LDA: [[graft.functions.VBLda]]'s distributed EM.
  *  - DBSCAN / MDS / t-SNE / UMAP: driver-side over a bounded collect
  *    (grid-indexed DBSCAN, mirrored power-iteration MDS, exact
  *    [[graft.functions.TSNE]] and [[graft.functions.UMAP]]). Inputs are
  *    capped (`maxDriverRows`) exactly like the reference caps its whole
  *    input at 400 rows — these operators are chart-feeders, not
  *    table-scale transforms. (The reference's dead `lida` path,
  *    searchthread.py:461-462, stays out.)
  *  - The global aggregates (the min-max extrema, PCA's moment sums)
  *    are plain `df.agg(...).head()`. Over a driver-local sheet (the
  *    /vis/csv upload) a session that built an [[graft.Engine]] folds
  *    them on the driver ([[graft.plans.FoldLocalAggregate]]), with no
  *    Spark job. That is exact because min, max, count and long sums
  *    give the same result in any row order; over any other source
  *    they run as Spark jobs.
  */
object CoreT {

  /** The basic ops that make a tpath arithmetic, in enumeration order. */
  private[graft] val arithmeticOps = Seq("sum", "sub", "mul", "div")

  /** The embeddings' fit parameters; the defaults are the reference's
    * (Tfunctions.py:18-37). */
  final case class EmbedParams(perplexity: Double = 5.0, nNeighbors: Int = 15, epochs: Int = 300)

  /** One core T; every layer reads these facts from [[table]].
    * `outCols` (of type `outType`) follow the carried key; the null
    * passthroughs have none, their columns are the tpath's
    * (Tengine.py:202-212). `dimReducing` / `needsArithmetic`: invalid
    * after / without an arithmetic step ([[admits]]; dmTl, T.py).
    * `searchGated`: a search candidate only where
    * [[Route.searchEmbeds]]. `points`: an embedding's point fit, run by
    * its exact route and by [[embedSampled]]. `fit`: (tpath output,
    * numeric features, carry, route) → output. */
  final case class Decl(name: String, channel: String,
                        outCols: Seq[String] = Nil, outType: DataType = NullType,
                        dimReducing: Boolean = false, needsArithmetic: Boolean = false,
                        searchGated: Boolean = false,
                        points: Option[(Array[Array[Double]], EmbedParams) =>
                          Array[Array[Double]]] = None)(
      val fit: (DataFrame, Seq[String], Seq[String], Route) => Option[DataFrame]) {
    /** A fitted core T, not a null passthrough. */
    def fitted: Boolean = outCols.nonEmpty
  }

  /** Every core T, in the search's candidate order: the "num" rows are
    * [[graft.plans.Enumerator.numTl]] and the "cat" rows `catTl`. */
  val table: Seq[Decl] = {
    val passthrough = (d: DataFrame, _: Seq[String], _: Seq[String], _: Route) => Some(d)
    Seq(
      Decl("pca", "num", Seq("PC1", "PC2"), DoubleType, dimReducing = true)(
        (d, f, c, _) => pca(d, f, c)),
      Decl("tsne", "num", Seq("tSNE-1", "tSNE-2"), DoubleType, dimReducing = true,
        searchGated = true, points = Some((p, e) => TSNE.embed(p, e.perplexity)))(
        (d, f, c, _) => tsne(d, f, c)),
      Decl("mds", "num", Seq("MDS-1", "MDS-2"), DoubleType, dimReducing = true,
        points = Some((p, _) => mdsFit(p)))((d, f, c, _) => mds(d, f, c)),
      Decl("umap", "num", Seq("UMAP-1", "UMAP-2"), DoubleType, dimReducing = true,
        searchGated = true, points = Some((p, e) => UMAP.embed(p, e.nNeighbors, e.epochs)))(
        (d, f, c, _) => umap(d, f, c)),
      Decl("null_num", "num")(passthrough),
      Decl("null_num1", "num", needsArithmetic = true)(passthrough),
      Decl("dbscan", "cat", Seq("Category by DBSCAN"), LongType)((d, f, c, _) => dbscan(d, f, c)),
      Decl("kmeans", "cat", Seq("Category by KMeans"), LongType)((d, f, c, _) => kmeans(d, f, c)),
      Decl("lda", "cat", Seq("Category by LDA"), StringType)((d, f, c, r) => lda(d, f, c, route = r)),
      Decl("null_nom1", "cat")(passthrough),
      Decl("null_nom", "cat")(passthrough))
  }

  private val byName = table.map(t => t.name -> t).toMap

  def decl(coreT: String): Decl =
    byName.getOrElse(coreT, throw new IllegalArgumentException(s"unknown core T: $coreT"))

  /** The scale route of a table's tpaths, built by [[route]], so the
    * search and its refines (/vis/addT, /vis/addV) take the same one:
    * rank and nominalize leave the single-partition window above
    * `windowRankMaxRows` rows (same values), nominalize trusts the
    * profiled `distincts`, and the embeddings fit a digest sample of
    * `embedSampleCap` rows ([[embedSampled]]). The default is the
    * chart-scale route: window ranks, exact fits. */
  final case class Route(approxRows: Long = 0L,
                         windowRankMaxRows: Long = EngineConfig.default.windowRankMaxRows,
                         distincts: Map[String, Long] = Map.empty,
                         embedSampleCap: Option[Int] = None,
                         searchEmbeds: Boolean = true)

  /** The route of a profiled table's tpaths under `cfg`. The embeddings
    * are driver fits: above `searchEmbedMaxRows` rows they fit a sample
    * of that many where `searchEmbedSampleFit` allows, and the search
    * skips the gated ones where it does not. The source's row count is
    * every tpath's: each step is row-wise. */
  def route(profile: TableProfile, cfg: EngineConfig): Route = {
    val sampled = cfg.searchEmbedSampleFit &&
      cfg.searchEmbedMaxRows > 0 && profile.rows > cfg.searchEmbedMaxRows
    Route(profile.rows, cfg.windowRankMaxRows, profile.distinctCounts,
      embedSampleCap = Option.when(sampled)(cfg.searchEmbedMaxRows.toInt),
      searchEmbeds = cfg.searchEmbedSampleFit || profile.rows <= cfg.searchEmbedMaxRows)
  }

  /** LDA defaults (Tfunctions.py:46-77: n_components=4; seed 9 is the
    * engine-wide deterministic seed). Shared with [[graft.LdaOracle]],
    * whose SQL derives its draw offset and 1/k priors from these — a
    * change here desynchronizes the oracle loudly at build time, not
    * silently at gate time. */
  val LdaK = 4
  val LdaSeed = 9L

  /** Numeric columns of a frame (post-profile the caller usually passes
    * them explicitly; this is the select_dtypes fallback). */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq

  /** Guard from Tengine.py:217-220: core transforms need >2 columns.
    * `minFeatures` hardens the dimension-reducing ops beyond the
    * reference (sklearn would throw on k=2 over one feature; we return
    * None like every other invalid input). */
  private def guarded(df: DataFrame, features: Seq[String], minFeatures: Int = 1)
                     (body: => DataFrame): Option[DataFrame] =
    if (df.columns.length <= 2 || features.size < minFeatures) None else Some(body)

  private[graft] def normalized(df: DataFrame, features: Seq[String], carry: Seq[String]): DataFrame = {
    val kept = (carry ++ features).distinct
    TBasic.minMaxNormalize(df.select(kept.map(col): _*), features)
  }

  /** The carried key columns, typed as in `src`, then `coreT`'s declared
    * output columns. */
  private def outSchema(src: DataFrame, carry: Seq[String], coreT: String): StructType = {
    val t = decl(coreT)
    StructType(carry.map(src.schema(_)) ++ t.outCols.map(StructField(_, t.outType, nullable = false)))
  }

  /** 2^40 — the fixed-point pin for order-free distributed moment sums
    * (see [[pca]]). */
  val PinScale: Double = 1099511627776.0

  /** Order-free exact sum of `e` quantized to 2^-40 units, split into
    * two primitive LongType sums so the whole aggregate stays in
    * whole-stage codegen (a DECIMAL(38,0) sum is exact too, but its
    * BigDecimal-backed buffer measurably dominated q_coret_pca's wall
    * time — BENCH_r3 0.93s vs r2 0.59s). Per-row values are bounded
    * (normalized features ⇒ |e| ≤ 1 ⇒ |v| = |floor(e·2^40)| ≤ 2^40);
    * v splits exactly into hi = floor(v/2^20) and lo = v − hi·2^20 ∈
    * [0, 2^20) (power-of-2 divides/multiplies only shift the
    * exponent), so each half-sum stays under 2^63 up to ~2^42 rows —
    * ~4e12, an order of magnitude past 100 TB of lineitem. The exact
    * integer total is reassembled driver-side in [[pinnedTotal]] and
    * rounded to double once, matching DuckDB's HUGEINT-promoted
    * BIGINT sum + single DOUBLE cast. */
  private[graft] def pinnedParts(e: org.apache.spark.sql.Column, tag: String): Seq[org.apache.spark.sql.Column] = {
    val (hi, lo) = pinnedSplit(e)
    Seq(sum(hi).as(s"${tag}_hi"), sum(lo).as(s"${tag}_lo"))
  }

  /** The column-level 2^-40 fixed-point split behind [[pinnedParts]]:
    * (hi, lo) LongType columns with v = floor(e·2^40), hi = floor(
    * v/2^20), lo = v − hi·2^20. THE one spelling of the split — Bm25 /
    * LmScore / Dsir reassemble their per-key sums differently (long
    * multiply vs DECIMAL(38,0) vs driver BigInt) but must quantize
    * identically, because their DuckDB oracles replay this expression
    * term for term. */
  private[graft] def pinnedSplit(e: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val v = floor(e * lit(PinScale))
    val hi = floor(v / lit(1048576.0))
    val lo = v - hi * lit(1048576.0)
    (hi.cast(LongType), lo.cast(LongType))
  }

  /** Reassemble a [[pinnedParts]] pair: exact integer total (BigInt —
    * half-even rounded to double exactly like DuckDB's HUGEINT→DOUBLE
    * cast), already divided back by the 2^40 pin. */
  private[graft] def pinnedTotal(r: Row, tag: String): Double =
    ((BigInt(r.getAs[Long](s"${tag}_hi")) << 20) + BigInt(r.getAs[Long](s"${tag}_lo"))).toDouble / PinScale

  /** PCA(2) → columns PC1, PC2 (Tfunctions.py:12-16, Tengine.py:146-152).
    *
    * The d×d covariance moments are one whole-stage-codegen aggregate
    * (d sums + d(d+1)/2 product sums — d is a handful of chart
    * features, never the row count); the eigendecomposition is a
    * driver-side d×d fixed-sweep Jacobi ([[graft.functions.JacobiEig]],
    * SQL-replayable, see pcaOracle); the projection is plain column
    * arithmetic over the scan. Two passes total, no ML pipeline, no
    * cache — the same shape scales to any row count because nothing
    * driver-side grows with n. Projection is mean-centered like
    * sklearn's (the reference's) transform; eigenvector signs are
    * fixed by the largest-|loading| component for determinism. */
  def pca(df: DataFrame, features: Seq[String], carry: Seq[String]): Option[DataFrame] =
    guarded(df, features, minFeatures = 2) {
      val norm = normalized(df, features, carry)
      val d = features.length
      val fit = norm.na.drop(features)
      // Moment sums pinned to 2^-40 fixed point: floor(x·2^40) is exact
      // (a power-of-2 multiply only shifts the exponent), the split
      // long sums are order-free (so identical on any partitioning AND
      // in the DuckDB oracle), and the single conversion back to
      // double rounds once. Features are minmax-normalized to [0,1],
      // so the ~9e-13 quantization is far below data noise.
      val prodAggs = for (i <- 0 until d; j <- i until d; c <-
        pinnedParts(col(features(i)) * col(features(j)), s"__p_${i}_$j")) yield c
      val aggs = (count(lit(1)).as("__n") +:
        features.zipWithIndex.flatMap { case (c, i) => pinnedParts(col(c), s"__s_$i") }) ++ prodAggs
      val r = fit.agg(aggs.head, aggs.tail: _*).head()
      require(r.getAs[Long]("__n") > 0,
        "pca: no rows with complete features (covariance undefined)")
      val n = r.getAs[Long]("__n").toDouble
      val means = Array.tabulate(d)(i => pinnedTotal(r, s"__s_$i") / n)
      val cov = Array.tabulate(d, d) { (i, j) =>
        val (lo, hi) = if (i <= j) (i, j) else (j, i)
        pinnedTotal(r, s"__p_${lo}_$hi") / n - means(lo) * means(hi)
      }
      // fixed-sweep Jacobi instead of LAPACK: every op is IEEE-exact
      // and replayed term-for-term by the oracle (see JacobiEig)
      val (evals, evecs) = graft.functions.JacobiEig.eigSym(cov)
      val top = evals.zipWithIndex.sortBy(-_._1).take(2)
      val comps = top.map { case (_, idx) =>
        val v = Array.tabulate(d)(i => evecs(i)(idx))
        val lead = v.indices.maxBy(i => (math.abs(v(i)), -i))
        if (v(lead) < 0) v.map(-_) else v
      }
      def project(v: Array[Double]): org.apache.spark.sql.Column =
        features.zipWithIndex.map { case (c, i) =>
          (col(c) - lit(means(i))) * lit(v(i))
        }.reduce(_ + _)
      norm.select(carry.map(col) ++
        decl("pca").outCols.zip(comps).map { case (name, v) => project(v).as(name) }: _*)
    }

  /** KMeans(k=3, seed=9) → "Category by KMeans" int64 labels
    * (Tfunctions.py:96-100, Tengine.py:194-200).
    *
    * Fully deterministic and engine-reproducible: the fit sample is
    * the `fitCap` rows with the smallest md5(key…:seed) digest (a
    * seeded uniform pseudo-random subset that any SQL engine can
    * recompute — unlike Bernoulli `sample()`, whose per-partition RNG
    * is Spark-internal), collected in digest order; Lloyd inits from
    * the first k points of that order and sums members in it. The
    * DuckDB oracle replays the identical arithmetic, so labels are
    * value-exact, not just permutation-equal. */
  def kmeans(df: DataFrame, features: Seq[String], carry: Seq[String],
             k: Int = 3, seed: Long = 9, fitCap: Int = 50000,
             maxIter: Int = 30): Option[DataFrame] =
    guarded(df, features) {
      val norm = normalized(df, features, carry)
      // fit on a bounded deterministic sample, assign everything: k
      // centers don't need the full table, and this caps fit cost at
      // any scale. Selection is a TakeOrdered top-fitCap by digest
      // (per-partition heaps + driver merge — no shuffle of the
      // table); the Lloyd iterations run on the driver (≤fitCap×d
      // doubles); the full-table assignment is pure column arithmetic
      // against the k center literals, so the distributed part is a
      // single codegen scan with zero shuffles.
      // ordering tie-break: duplicate keys hash identically, so the
      // digest alone can't canonically order them — extend the order
      // with the feature values (full duplicates are interchangeable)
      val fitRows = norm.na.drop(features)
        .select(md5(concat_ws(":", carry.map(col) :+ lit(seed): _*)).as("__h")
          +: features.map(c => col(c)): _*)
        .orderBy(col("__h") +: features.map(col): _*).limit(fitCap)
        .collect().sorted(new Ordering[Row] {
          def compare(a: Row, b: Row): Int = {
            val c0 = a.getString(0).compareTo(b.getString(0))
            if (c0 != 0) return c0
            var i = 1
            while (i < a.length) {
              val c = java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
              if (c != 0) return c
              i += 1
            }
            0
          }
        })
      val pts = fitRows.map(r => Array.tabulate(features.length)(i => r.getDouble(i + 1)))
      val centers = lloyd(pts, k, maxIter)
      // argmin via array_position(min): linear-sized expression — a
      // when()-fold would copy each distance term exponentially in k
      val dists = centers.map { ctr =>
        features.zipWithIndex.map { case (c, i) =>
          (col(c) - lit(ctr(i))) * (col(c) - lit(ctr(i)))
        }.reduce(_ + _)
      }
      // coalesce: a null feature nulls every distance; keep the old
      // MLlib handleInvalid=keep contract of a non-null label (0)
      val pred = coalesce((array_position(array(dists.toIndexedSeq: _*),
        array_min(array(dists.toIndexedSeq: _*))) - 1).cast(LongType), lit(0L))
      norm.select(carry.map(col) :+ pred.as(decl("kmeans").outCols.head): _*)
    }

  /** Driver-side Lloyd's algorithm. Init = the first k points, so
    * callers pass `pts` in a canonical pseudo-random order (digest
    * order of a seeded md5 — uniform like a shuffle, but replayable
    * by any engine). Deterministic: fixed iteration order, strict-less
    * argmin (first center wins ties), empty clusters keep their
    * center; the early stop is a pure optimization (at a fixed point
    * the recomputed centers are bit-identical), so a fixed-iteration
    * replay reaches the same centers. */
  private[operators] def lloyd(pts: Array[Array[Double]], k: Int,
                               maxIter: Int = 30): Array[Array[Double]] = {
    val n = pts.length
    require(n > 0, "kmeans fit sample is empty (no rows with complete features)")
    val d = pts(0).length
    val kk = math.min(k, n)
    val centers = Array.tabulate(kk)(i => pts(i).clone())
    val assign = new Array[Int](n)
    var moved = true
    var iter = 0
    while (moved && iter < maxIter) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < kk) {
          var s = 0.0; var f = 0
          while (f < d) { val diff = pts(i)(f) - centers(c)(f); s += diff * diff; f += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Int](kk)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var f = 0
        while (f < d) { sums(c)(f) += pts(i)(f); f += 1 }
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var f = 0
          while (f < d) { centers(c)(f) = sums(c)(f) / counts(c); f += 1 }
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** LDA(4 topics) over the reference's rank-based bag-of-tokens
    * encoding (Tfunctions.py:46-77): each numeric column becomes one
    * vocabulary token whose per-row count is the row's rank in that
    * column. The reference materializes that as a blown-up token string
    * then CountVectorizes it back; the count vector IS just the rank
    * vector, so we assemble ranks directly as the count matrix —
    * identical model input, no string blow-up.
    *
    * The fit is [[graft.functions.VBLda]]'s math — the same batch
    * variational Bayes sklearn runs, with its random init replaced by
    * deterministic choices (the reference cannot reproduce its own
    * labels run over run; this can, on any engine) — run FULLY
    * DISTRIBUTED: ranking is distributed, each EM iteration broadcasts
    * expElogbeta (k×w doubles) and mapPartitions the per-doc mean-field
    * sweeps, the sufficient statistics reduce as pinned integers
    * ([[graft.functions.VBLda.SStatsPinScale]] — exact, commutative,
    * partition-invariant), the M-step is k×w driver arithmetic, and the
    * labeling pass maps rows without ever collecting them. Nothing
    * driver-side grows with n, so there is no row cap, and the result
    * is bit-identical to [[graft.functions.VBLda.fit]] over the same
    * docs — which is what the DuckDB gate oracle replays.
    *
    * Output: per-row label of the argmax topic, rendered like the
    * reference as "w1*col + w2*col + w3*col" from the normalized
    * topic-term weights → column "Category by LDA".
    */
  def lda(df: DataFrame, features: Seq[String], carry: Seq[String],
          k: Int = LdaK, seed: Long = LdaSeed, route: Route = Route()): Option[DataFrame] =
    guarded(df, features) {
      val spark = df.sparkSession
      // rank each feature column (method=first; tie-break = carry key),
      // bucketed to percentiles 1..100: the reference's raw ranks are
      // bounded by its 400-row cap, but as LDA token COUNTS raw ranks
      // grow with table size and stall the variational fit — the
      // percentile form keeps the rank-order encoding with bounded
      // counts at any scale.
      //
      // Ranking goes through Rank.rank (the engine's scale path), not a
      // bare percent_rank window: the key tie-break makes the order
      // total, so percent_rank ≡ (row_number−1)/(n−1) — the expression
      // below reproduces Spark's PercentRank arithmetic bit for bit
      // (same division, then ×99, then ceil), including the n=1 case
      // (PercentRank special-cases it to 0; max(n−1,1) gives 0/1).
      //
      // KEYLESS tables (empty carry) can't make row_number's order
      // total, so ties would rank by encounter order — non-
      // deterministic under shuffles. They instead take
      // Rank.minRankByValue (SQL RANK semantics: ties share a rank),
      // which is exactly the (min-rank−1)/(n−1) identity PercentRank
      // itself computes — the same deterministic tie behavior the
      // reference's percent_rank had.
      val base = df.select((carry ++ features).distinct.map(col): _*)
      val n = base.count()
      val denom = math.max(n - 1, 1L).toDouble
      def pctBucket(rn: Column): Column =
        (ceil((rn - 1).cast("double") / lit(denom) * 99) + 1).cast("double")
      val ranked = features.foldLeft(base) { (d, c) =>
        val withRn =
          if (carry.nonEmpty)
            Rank.rank(d, c, carry, s"__rn_$c", approxRows = n, route.windowRankMaxRows)
          else
            Rank.minRankByValue(d, c, s"__rn_$c")
        withRn.withColumn(s"__rank_$c", pctBucket(col(s"__rn_$c")))
          .drop(s"__rn_$c")
      }
      require(n > 0, "lda: empty corpus")
      import graft.functions.VBLda
      // the EM loop reads the ranked docs 10 times and the labeling
      // pass once more — persist (caller releases via CacheScope)
      val proj = graft.CacheScope.track(ranked.select(
        (carry.map(col) ++ features.map(c => col(s"__rank_$c"))): _*))
      val docsRdd = proj.rdd
      val w = features.length
      val nCarry = carry.length
      val alpha = 1.0 / k
      // rank columns are cast("double") by pctBucket and never null
      // (both rank paths produce a rank for every row); the primitive
      // accessor keeps the ~n×features×11-pass hot loop boxing-free
      def countsOf(r: Row): Array[Double] = Array.tabulate(w)(i =>
        if (r.isNullAt(nCarry + i)) 0.0 else r.getDouble(nCarry + i))
      val sc = spark.sparkContext
      // EM via the ONE shared loop (VBLda.emLoop — same arithmetic the
      // DuckDB oracle replays); this path supplies only the DISTRIBUTED
      // accumulate: per-doc sweeps against the broadcast topic matrix,
      // with pinned-integer stats making the reduce exact and
      // order-free, so any partitioning yields the exact driver-fit λ
      val lambda = VBLda.emLoop(k, w, seed, VBLda.DefaultMaxIter) { eeb =>
        val bEeb = sc.broadcast(eeb)
        val acc = docsRdd.mapPartitions { it =>
          val local = new Array[Long](2 * k * w)
          it.foreach(r =>
            VBLda.addPinned(local, VBLda.docPinnedStats(countsOf(r), bEeb.value, alpha)))
          Iterator.single(local)
        }.reduce { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        }
        bEeb.unpersist()
        acc
      }
      // topic labels: top-3 terms by normalized weight (Tfunctions.py:58-73)
      val desc = VBLda.topTerms(VBLda.Fit(lambda, Array.empty), 3).map {
        _.map { case (i, wt) => s"${wt.toString.take(6)}*${features(i)}" }.mkString(" + ")
      }
      // final posterior + argmax label pass — distributed, no collect
      val bFinal = sc.broadcast(VBLda.expElogbetaOf(lambda))
      val bDesc = sc.broadcast(desc)
      val outRdd = docsRdd.map { r =>
        val g = VBLda.docEStep(countsOf(r), bFinal.value, alpha)
        Row.fromSeq((0 until nCarry).map(r.get) :+ bDesc.value(VBLda.argmax(g)))
      }
      spark.createDataFrame(outRdd, outSchema(ranked, carry, "lda"))
    }

  /** DBSCAN(eps=0.25, minPts=5) → "Category by DBSCAN", -1 = outlier
    * (Tfunctions.py:90-94, Tengine.py:186-192). Driver-side with a
    * grid-indexed neighbor search over a bounded collect.
    *
    * Labels: when the first carry column is integral, clusters are
    * labeled by their minimum core key ([[DBSCAN.canonicalPoints]] —
    * order-independent, hence oracle-checkable); otherwise sklearn-style
    * discovery-order ints. Either way a bijection of the reference's
    * labels (sklearn inits differ regardless; invariance-tested). */
  def dbscan(df: DataFrame, features: Seq[String], carry: Seq[String],
             eps: Double = 0.25, minPts: Int = 5,
             maxDriverRows: Int = 200000): Option[DataFrame] =
    guarded(df, features) {
      val spark = df.sparkSession
      val norm = normalized(df, features, carry)
      // limit BEFORE collect: the cap must protect the driver, not
      // fire after the full frame is already materialized
      val rows = norm.select((carry ++ features).map(col): _*)
        .limit(maxDriverRows + 1).collect()
      require(rows.length <= maxDriverRows,
        s"dbscan driver path capped at $maxDriverRows rows (got ${rows.length}); " +
          "sample or pre-aggregate first")
      val pts = rows.map(r => features.indices.map(i =>
        Option(r.get(carry.length + i)).map(_.toString.toDouble).getOrElse(0.0)).toArray)
      val integralKey = carry.headOption.exists(c => norm.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
      val labels: Array[Long] =
        if (integralKey) {
          val keys = rows.map(r => r.get(0).toString.toLong)
          DBSCAN.canonicalPoints(pts, eps, minPts, keys)
        } else DBSCAN.fitPoints(pts, eps, minPts).map(_.toLong)
      val out = rows.zip(labels).map { case (r, l) =>
        Row.fromSeq(carry.indices.map(r.get) :+ l)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq), outSchema(norm, carry, "dbscan"))
    }

  /** Classical-MDS (Torgerson) coordinates for a point set: B = −½JD²J,
    * top-2 eigenpairs by mirrored power iteration + deflation (see
    * [[graft.functions.JacobiEig.powerTop]] — replayable, unlike
    * LAPACK). The point fit of both [[mds]] and the sampled-fit path. */
  private def mdsFit(pts: Array[Array[Double]]): Array[Array[Double]] = {
    val n = pts.length
    val d2 = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < pts(i).length) { val diff = pts(i)(k) - pts(j)(k); s += diff * diff; k += 1 }
      s
    }
    val rowMean = Array.tabulate(n)(i => (0 until n).map(j => d2(i)(j)).sum / n)
    val grand = rowMean.sum / n
    val b = Array.tabulate(n, n) { (i, j) =>
      -0.5 * (d2(i)(j) - rowMean(i) - rowMean(j) + grand)
    }
    val (l1, v1) = graft.functions.JacobiEig.powerTop(b)
    val b2 = Array.tabulate(n, n) { (i, j) => b(i)(j) - l1 * v1(i) * v1(j) }
    val (l2, v2) = graft.functions.JacobiEig.powerTop(b2)
    Array.tabulate(n, 2) { (i, c) =>
      if (c == 0) v1(i) * math.sqrt(math.max(l1, 0.0))
      else v2(i) * math.sqrt(math.max(l2, 0.0))
    }
  }

  /** Classical (Torgerson) metric MDS → MDS-1, MDS-2
    * (Tfunctions.py:27-31): double-centered squared-distance Gram
    * matrix, top-2 eigenpairs, coords = v·√λ ([[mdsFit]]). sklearn uses
    * SMACOF so coordinates differ, but both are metric embeddings of the
    * same distances; tests assert distance preservation, not values. */
  def mds(df: DataFrame, features: Seq[String], carry: Seq[String],
          maxDriverRows: Int = 5000): Option[DataFrame] =
    driverEmbed(df, features, carry, "mds", maxDriverRows, EmbedParams())

  /** Exact t-SNE → tSNE-1, tSNE-2 (Tfunctions.py:18-25: perplexity=5,
    * method=exact, init=pca for <100 rows). Driver-side deterministic
    * implementation ([[graft.functions.TSNE]]). */
  def tsne(df: DataFrame, features: Seq[String], carry: Seq[String],
           perplexity: Double = 5.0, maxDriverRows: Int = 2000): Option[DataFrame] =
    driverEmbed(df, features, carry, "tsne", maxDriverRows, EmbedParams(perplexity = perplexity))

  /** UMAP → UMAP-1, UMAP-2 (Tfunctions.py:33-37: umap-learn defaults,
    * n_neighbors=15, min_dist=0.1). Driver-side deterministic
    * implementation ([[graft.functions.UMAP]]). */
  def umap(df: DataFrame, features: Seq[String], carry: Seq[String],
           nNeighbors: Int = 15, epochs: Int = 300,
           maxDriverRows: Int = 2000): Option[DataFrame] =
    driverEmbed(df, features, carry, "umap", maxDriverRows,
      EmbedParams(nNeighbors = nNeighbors, epochs = epochs))

  /** The exact route of an embedding: its point fit over at most
    * `maxDriverRows` collected rows. */
  private def driverEmbed(df: DataFrame, features: Seq[String], carry: Seq[String],
                          coreT: String, maxDriverRows: Int,
                          params: EmbedParams): Option[DataFrame] =
    guarded(df, features, minFeatures = 2) {
      val spark = df.sparkSession
      val norm = normalized(df, features, carry)
      // limit BEFORE collect: the cap must protect the driver, not
      // fire after the full frame is already materialized. Rows are
      // ordered by the carry key so the fit's inputs (MDS's Gram matrix,
      // t-SNE's pair matrices, UMAP's kNN graph and edge list) have one
      // canonical layout on any partitioning — and in the DuckDB
      // oracles. Features are appended as tie-breakers: for a UNIQUE
      // carry key they change nothing, and for an empty/non-unique
      // carry they keep the collected layout deterministic (duplicate
      // feature rows are the only remaining ties, and those are
      // interchangeable).
      val rows = norm.select((carry ++ features).map(col): _*)
        .orderBy((carry ++ features).map(col): _*).limit(maxDriverRows + 1).collect()
      require(rows.length <= maxDriverRows,
        s"$coreT driver path capped at $maxDriverRows rows (got ${rows.length})")
      val pts = rows.map(r => features.indices.map(i =>
        Option(r.get(carry.length + i)).map(_.toString.toDouble).getOrElse(0.0)).toArray)
      val emb = decl(coreT).points.get(pts, params)
      val out = rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(carry.indices.map(r.get) ++ Seq(emb(i)(0), emb(i)(1)))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq), outSchema(norm, carry, coreT))
    }

  /** Sampled-fit out-of-sample embedding — the scale path that lets
    * search recommend tsne/umap/mds scatters on tables far beyond the
    * driver-fit bound. Fit: the `sampleCap` rows with the smallest
    * md5(key…:seed) digest (the kmeans fit-sample selection — a seeded
    * deterministic pseudo-random subset, no Spark-internal RNG),
    * embedded by `which`'s declared point fit, the one its exact route
    * runs ([[Decl.points]]). Transform: every row
    * maps DISTRIBUTED to the inverse-distance-weighted mean of its 3
    * nearest fitted points in normalized feature space — the standard
    * out-of-sample extension for non-parametric embeddings (Bengio et
    * al., "Out-of-Sample Extensions for LLE, Isomap, MDS, Eigenmaps,
    * and Spectral Clustering", NeurIPS 2003); an exact feature match
    * takes its fitted embedding directly. Deterministic per row (pure
    * function of the row + the broadcast sample, fixed iteration
    * order), so the output is partition-invariant. Nothing driver-side
    * grows with n: the fit is sampleCap-bounded, the transform is one
    * mapPartitions scan against a broadcast of ≤sampleCap points.
    */
  def embedSampled(df: DataFrame, features: Seq[String], carry: Seq[String],
                   which: String, sampleCap: Int = 400, seed: Long = 9L,
                   perplexity: Double = 5.0, nNeighbors: Int = 15,
                   epochs: Int = 300): Option[DataFrame] =
    guarded(df, features, minFeatures = 2) {
      val spark = df.sparkSession
      val norm = normalized(df, features, carry)
      val d = features.length
      // digest-ordered bounded sample (see kmeans for the tie-break
      // rationale: duplicate keys hash identically, so features extend
      // the order; full duplicates are interchangeable)
      val fitRows = norm.na.drop(features)
        .select(md5(concat_ws(":", carry.map(col) :+ lit(seed): _*)).as("__h")
          +: features.map(c => col(c)): _*)
        .orderBy(col("__h") +: features.map(col): _*).limit(sampleCap)
        .collect()
      val pts = fitRows.map(r => Array.tabulate(d)(i => r.getDouble(i + 1)))
      require(pts.nonEmpty, s"$which sampled fit: no rows with complete features")
      val fit = decl(which).points
        .getOrElse(throw new IllegalArgumentException(s"embedSampled: $which"))
      val emb = fit(pts, EmbedParams(perplexity, nNeighbors, epochs))
      val bPts = spark.sparkContext.broadcast(pts)
      val bEmb = spark.sparkContext.broadcast(emb)
      val nCarry = carry.length
      val src = norm.select((carry ++ features).map(col): _*)
      val outRdd = src.rdd.map { r =>
        val x = Array.tabulate(d)(i =>
          Option(r.get(nCarry + i)).map(_.toString.toDouble).getOrElse(0.0))
        val sample = bPts.value
        // 3 smallest squared distances, ties to the smaller sample
        // index (strict < keeps the first-seen on equal distance)
        val bi = Array(-1, -1, -1)
        val bd = Array(Double.MaxValue, Double.MaxValue, Double.MaxValue)
        var s = 0
        while (s < sample.length) {
          var dist = 0.0
          var i = 0
          while (i < d) { val t = x(i) - sample(s)(i); dist += t * t; i += 1 }
          if (dist < bd(0)) {
            bd(2) = bd(1); bi(2) = bi(1); bd(1) = bd(0); bi(1) = bi(0)
            bd(0) = dist; bi(0) = s
          } else if (dist < bd(1)) {
            bd(2) = bd(1); bi(2) = bi(1); bd(1) = dist; bi(1) = s
          } else if (dist < bd(2)) { bd(2) = dist; bi(2) = s }
          s += 1
        }
        val (e1, e2) =
          if (bd(0) == 0.0) (bEmb.value(bi(0))(0), bEmb.value(bi(0))(1))
          else {
            var w = 0.0; var a1 = 0.0; var a2 = 0.0
            var q = 0
            while (q < 3 && bi(q) >= 0) {
              val wt = 1.0 / bd(q)
              w += wt; a1 += wt * bEmb.value(bi(q))(0); a2 += wt * bEmb.value(bi(q))(1)
              q += 1
            }
            (a1 / w, a2 / w)
          }
        Row.fromSeq((0 until nCarry).map(r.get) ++ Seq(e1, e2))
      }
      spark.createDataFrame(outRdd, outSchema(norm, carry, which))
    }

  /** Run a tpath and its core T on the tpath's numeric output columns:
    * None when [[admits]] rejects the pair. Where `route` sets
    * `embedSampleCap`, an embedding fits a digest sample of that many
    * rows ([[embedSampled]]) instead of the exact driver fit. */
  def transform(df: DataFrame, coreT: String, tpath: Seq[TStep],
                carry: Seq[String], route: Route = Route()): Option[DataFrame] = {
    val t = decl(coreT)
    if (!admits(coreT, tpath)) return None
    val after = tpath.foldLeft(df)((d, s) => TBasic(d, s, carry, route))
    val feats = numericCols(after).filterNot(carry.contains)
    route.embedSampleCap.filter(_ => t.points.isDefined) match {
      case Some(cap) => embedSampled(after, feats, carry, coreT, sampleCap = cap)
      case None => t.fit(after, feats, carry, route)
    }
  }

  /** The reference's plan-validity rules (Tengine.py:19-75), decided
    * before anything runs: [[transform]] applies them, and so does the
    * search before it spends an execution slot on a candidate.
    *  - NOTCALCUDMT (config.py:19, always on): a dimension-reducing
    *    core T after an arithmetic step is invalid;
    *  - a `needsArithmetic` core T (null_num1) is valid only after one. */
  def admits(coreT: String, steps: Seq[TStep]): Boolean = {
    val t = decl(coreT)
    val hasArithmetic = steps.exists(s => arithmeticOps.contains(s.op))
    if (t.needsArithmetic) hasArithmetic else !(t.dimReducing && hasArithmetic)
  }
}
