package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus deduplication operators — the training-data-pipeline layer.
  * MinHash resemblance per Broder (1997), banded LSH per the classic
  * Mining of Massive Datasets construction, SimHash per Charikar
  * (2002) with the Manku–Jain–Sarma piecewise Hamming join.
  *
  * All four families are shuffle-conscious:
  *  - exact: one groupBy on a 128-bit fingerprint (no raw-text shuffle);
  *  - MinHash+LSH: shingle→hash→k-way min signature (map-side
  *    aggregable), band buckets → equi-join (candidate pairs only);
  *  - SimHash: 60-bit fingerprint, pigeonhole piece join for Hamming≤k;
  *  - n-gram Jaccard: inverted-index self-join with a document-frequency
  *    cap so stop-shingles can't quadratically explode a bucket (the
  *    classic skew killer at 100 TB).
  *
  * Frames feeding self-joins are persisted (a self-join evaluates
  * its subtree once per side) and registered with [[graft.CacheScope]];
  * long-lived sessions issuing many dedup calls should scope batches
  * in `CacheScope.withCached { ... }` or call `CacheScope.releaseAll()`
  * between them.
  */
object Dedup {

  /** Exact-duplicate groups: fingerprint → (keeper = min key, count).
    * The dedup itself is then a semi-join on (key = keep_id). */
  def exactGroups(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.select(col(keyCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(keyCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Rows surviving exact dedup (first-by-key wins). */
  def exactDedup(df: DataFrame, keyCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, keyCol, textCol).select(col("keep_id").as(keyCol))
    df.join(keep, Seq(keyCol), "left_semi")
  }

  /** Near-duplicate candidate pairs by n-gram Jaccard similarity.
    *
    * @param shingleSize word-shingle size
    * @param tau         Jaccard threshold
    * @param maxDocFreq  drop shingles appearing in more docs than this
    *                    (skew guard; log what was dropped at the caller)
    */
  /** Shared inverted-index machinery for the n-gram pair family:
    * unordered candidate intersections + per-doc shingle sizes. The
    * exploded index persists once — it feeds the doc-frequency agg,
    * the per-doc sizes, and both sides of the inverted-index
    * self-join (four evaluations of the shingle explode otherwise). */
  private def ngramInterSizes(df: DataFrame, keyCol: String, textCol: String,
                              shingleSize: Int, maxDocFreq: Long)
      : (DataFrame, DataFrame) = {
    val grams = graft.CacheScope.track(df
      .select(col(keyCol).as("id"),
        explode(TextFunctions.wordShingles(col(textCol), shingleSize)).as("gram")))
    val rare = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq && col("df") >= 2)
    val filtered = graft.CacheScope.track(grams.join(rare.select("gram"), Seq("gram")))
    val sizes = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = filtered.as("a").join(filtered.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  def ngramJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                        shingleSize: Int = 3, tau: Double = 0.5,
                        maxDocFreq: Long = 1000): DataFrame = {
    val (inter, sizes) = ngramInterSizes(df, keyCol, textCol, shingleSize, maxDocFreq)
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directional n-gram CONTAINMENT pairs — the asymmetric sibling of
    * [[ngramJaccardPairs]] for excerpt/quote detection: a short
    * document B lifted from a long A has tiny Jaccard (the union is
    * A-sized) but containment(B in A) = |B∩A|/|B| ≈ 1, which is the
    * signal eval-decontamination and quote-collapse actually want
    * (Broder's containment, the ExactSubstr-spans complement at the
    * shingle level).
    *
    * Same inverted-index machinery and scale shape as the Jaccard op
    * (shared [[ngramInterSizes]] — doc-freq cap bounds the join, only
    * (id, gram-hash) rows shuffle); each unordered intersection emits
    * up to TWO directional rows, thresholded independently.
    *
    * @return (id_contained, id_container, containment) with
    *         containment = |∩| / size(contained) ≥ tau */
  def ngramContainmentPairs(df: DataFrame, keyCol: String, textCol: String,
                            shingleSize: Int = 3, tau: Double = 0.9,
                            maxDocFreq: Long = 1000): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    val (inter, sizes) = ngramInterSizes(df, keyCol, textCol, shingleSize, maxDocFreq)
    val withSz = inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
    val dirA = withSz.select(col("id_a").as("id_contained"),
      col("id_b").as("id_container"),
      (col("inter").cast("double") / col("sz_a")).as("containment"))
    val dirB = withSz.select(col("id_b").as("id_contained"),
      col("id_a").as("id_container"),
      (col("inter").cast("double") / col("sz_b")).as("containment"))
    dirA.unionByName(dirB).where(col("containment") >= tau)
  }

  /** Deterministic MinHash signature columns s0..s{k-1}: one md5 per
    * shingle seeds a 2-universal affine family h_i = (a + i·b) mod p
    * (p = 2^31−1, b forced odd), min-taken per slot. md5 (vs xxhash64)
    * keeps the signatures recomputable in any SQL engine for the
    * value-exact oracle; the affine re-hash costs one multiply-add per
    * i instead of k full hashes per shingle.
    *
    * Row-local ([[graft.functions.MinhashSignature]]): signatures are
    * per-document minima, so nothing shuffles — the explode → md5 →
    * groupBy(id) spelling this replaces is kept as
    * [[minhashSignaturesAgg]] and spec-pinned value-identical
    * (DedupSimilaritySpec twin test). Shingle-less documents drop, as
    * they did from the aggregate (no rows to aggregate). */
  def minhashSignatures(df: DataFrame, keyCol: String, textCol: String,
                        numHashes: Int = 32, shingleSize: Int = 3): DataFrame = {
    val sig = graft.functions.MinhashSig.signature(
      TextFunctions.wordShingles(col(textCol), shingleSize), numHashes)
    // the shingle-less filter is a TOKEN-COUNT precondition, not
    // isNotNull(sig): a predicate on the signature pushes below the
    // projection and re-evaluates the whole md5 chain per row (the
    // first cut of this operator measured 1.26× SLOWER than the
    // aggregate for exactly that reason). ≥ shingleSize
    // tokens ⟺ ≥ 1 shingle ⟺ the aggregate spelling kept the doc.
    df.where(size(TextFunctions.tokens(col(textCol))) >= shingleSize)
      .select(col(keyCol).as("id"), sig.as("__sig"))
      .select(col("id") +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"s$i")): _*)
  }

  /** The aggregate spelling of [[minhashSignatures]] (explode → md5 →
    * min-agg, map-side combinable) — superseded by the row-local
    * expression but kept as its semantic twin: the equivalence spec
    * re-derives every signature both ways and requires equality, which
    * pins the custom expression's md5/affine arithmetic to the
    * SQL-mirrorable form the DuckDB oracle replays. */
  private[graft] def minhashSignaturesAgg(df: DataFrame, keyCol: String, textCol: String,
                                          numHashes: Int = 32, shingleSize: Int = 3): DataFrame = {
    val p = 2147483647L
    // one hex parse per gram: digits 1-14 as a 56-bit long, then
    // a = digits 1-7 (high 28 bits), b = digits 8-14 (low 28 bits) —
    // bit-identical to parsing the two 7-char substrings separately
    val grams = df.select(col(keyCol).as("id"),
      explode(TextFunctions.wordShingles(col(textCol), shingleSize)).as("gram"))
      .withColumn("h56", conv(substring(md5(col("gram")), 1, 14), 16, 10).cast("long"))
      .withColumn("a", shiftright(col("h56"), 28))
      .withColumn("b", col("h56").bitwiseAND(lit(0xFFFFFFFL)).bitwiseOR(lit(1L)))
    val mins = (0 until numHashes).map { i =>
      min((col("a") + lit(i.toLong) * col("b")) % lit(p)).as(s"s$i")
    }
    grams.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Drop (band, bucket) groups larger than `cap` before a bucket
    * self-join: a degenerate hot bucket (a viral duplicate cluster, an
    * empty-text cluster) would otherwise join O(m²) — the LSH analogue
    * of the n-gram document-frequency guard. Hot-bucket members still
    * pair through their OTHER bands unless those are hot too; callers
    * wanting the full quadratic cluster should exact-dedup first (the
    * cheap operator is the right tool for exact copies). One extra agg
    * + a broadcast anti-join of the (tiny) hot-bucket list.
    *
    * This output feeds self-joins, and its subtree contains a shuffle
    * (the hot-bucket groupBy): callers MUST persist it, or the band
    * explode AND that aggregation pass run once per join side (the
    * round-3 driver bench measured exactly that on the MinHash path:
    * 10.2s un-persisted vs 4.0s persisted). */
  private[operators] def capBuckets(banded: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val hot = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bs"))
      .where(col("__bs") > cap).select(keys.map(col): _*)
    banded.join(broadcast(hot), keys, "left_anti")
  }

  /** LSH candidate pairs from banded MinHash signatures, with the
    * estimated Jaccard (fraction of agreeing signature positions).
    *
    * bands·rowsPerBand must equal numHashes of the signature frame.
    * `maxBucketSize` is the hot-bucket skew guard ([[capBuckets]]).
    * `attachMinDocs` picks between the two value-identical spellings
    * (see [[PairAttachMinDocs]]): pair-first-then-attach at scale,
    * signature-attached below it.
    */
  /** Corpus-size floor for the pair-first LSH spelling: below it the
    * two signature-attach joins' fixed stage cost exceeds the payload
    * saving. Measured (LshShuffleProbe, round 16, same-session A/B at
    * each size): 30k docs parity (2.4 vs 2.4 s), 100k docs pair-first
    * 1.5× faster (12.2 → 8.0 s), 1M docs 2.9× faster (54.5 → 18.8 s,
    * shuffle bytes 3155 → 1184 MiB); at the sf0.1 gate (6.6k docs) the
    * attached spelling is ~0.35 s faster (n=7 A/B, OPTIMIZATION_r16.md). The
    * probe is a `limit(k+1).count()` over the already-persisted
    * signature frame — it short-circuits after k+1 rows, so at real
    * scale it reads ~one partition, and both spellings are
    * value-identical (spec-pinned twin, oracle-green both ways). */
  private[operators] val PairAttachMinDocs = 50000L

  def minhashCandidatePairs(sigs: DataFrame, numHashes: Int = 32,
                            bands: Int = 8, tau: Double = 0.5,
                            maxBucketSize: Long = 100000L,
                            attachMinDocs: Long = PairAttachMinDocs): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // persist the compact signature frame (n rows × numHashes ints —
    // cheap): it feeds the capped-band build below (whose double
    // evaluation — hot groupBy + anti-join probe — would otherwise
    // re-run the expensive shingle→md5→min signature subtree twice;
    // r4 driver bench: 7.13s without this persist vs ~4s), the size
    // probe, and — on the pair-first path — both signature attaches.
    val sigsC = graft.CacheScope.track(sigs)
    if (corpusAbove(sigsC, attachMinDocs)) {
      // PAIR-FIRST-THEN-ATTACH (round 16, guide §2.3 / §8: shuffle
      // keys, not payloads): banded rows carry (id, band, bucket) ONLY
      // — the numHashes-int signature array no longer rides every
      // banded row (×bands, ×2 join sides) through the self-join's
      // exchange and the capped cache. Unique candidate pairs are
      // formed and distinct'd as bare (id_a, id_b) rows; the
      // signatures are then attached by two id-keyed joins against the
      // compact cached signature frame and est_jaccard computed ONCE
      // per unique pair (the attached spelling recomputes it per
      // colliding band). Result-identical: the pair set is the same
      // (band, bucket) equi-join, est_jaccard is a pure function of
      // the two signatures, and the τ filter commutes with the pair
      // distinct. Measured at 1M docs, 2% planted twins
      // (LshShuffleProbe): shuffle 3155 → 1184 MiB, wall 54.5 → 18.8 s,
      // identical 19417-pair output.
      val banded = graft.CacheScope.track(capBuckets(
        bandExplode(sigsC, numHashes, bands),
        Seq("band", "bucket"), maxBucketSize))
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      attachEstJaccard(cand, sigsC, numHashes, tau, "id_a", "id_b")
    } else {
      // small-corpus spelling: the signature rides the banded rows and
      // est_jaccard is computed in the self-join projection, τ-filtered
      // BEFORE the pair distinct — two fewer joins, and the payload
      // weight is immaterial under [[PairAttachMinDocs]] docs. The
      // CAPPED banded frame persists because a self-join evaluates its
      // subtree once per side, and this subtree carries BOTH the
      // signature aggregation and the hot-bucket groupBy shuffle from
      // capBuckets (round 3 persisted the compact signature frame
      // instead and the driver bench read 3.98s → 10.16s).
      val banded = graft.CacheScope.track(capBuckets(
        bandExplodeAttached(sigsC, numHashes, bands),
        Seq("band", "bucket"), maxBucketSize))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
            .cast("double") / lit(numHashes)).as("est_jaccard"))
        .where(col("est_jaccard") >= tau)
        .dropDuplicates("id_a", "id_b")
    }
  }

  /** True iff `df` has more than `minDocs` rows, exactly for any Long;
    * `minDocs <= 0` is always true (the spec's force-big-path knob).
    * Below `Int.MaxValue` a short-circuiting `limit(minDocs+1).count()`
    * reads one or a few partitions of the (persisted) input; `limit`
    * takes an Int, so a larger `minDocs` takes a full `count()`. */
  private def corpusAbove(df: DataFrame, minDocs: Long): Boolean =
    minDocs <= 0 ||
      (if (minDocs < Int.MaxValue) df.limit(minDocs.toInt + 1).count() > minDocs
       else df.count() > minDocs)

  /** Attach both signatures to a bare id-pair frame and compute the
    * agreeing-position fraction, keeping pairs at est ≥ tau — the
    * shared confirm step of the pair-first LSH spellings. The sig
    * frames join id-keyed (the pair side is the duplicate set, tiny
    * relative to the corpus at any real duplication rate — AQE
    * broadcasts it; worst case this is one corpus-scale id-keyed
    * shuffle of the signatures, still ×bands×2 less than riding the
    * self-join). */
  private def attachEstJaccard(pairs: DataFrame, sigs: DataFrame,
                               numHashes: Int, tau: Double,
                               aCol: String, bCol: String): DataFrame = {
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    val sa = sigs.select(col("id").as(aCol), sigArr.as("__siga"))
    val sb = sigs.select(col("id").as(bCol), sigArr.as("__sigb"))
    pairs.join(sa, Seq(aCol)).join(sb, Seq(bCol))
      .select(col(aCol), col(bCol),
        (aggregate(zip_with(col("__siga"), col("__sigb"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .where(col("est_jaccard") >= tau)
  }

  /** Band-explode a [[minhashSignatures]] frame into (id, band,
    * bucket) rows; the bucket is the band's signature slice itself
    * (equi-joinable array — no re-hash needed, and SQL engines can
    * mirror it exactly). Deliberately does NOT carry the full
    * signature: band rows feed join inputs, and the signature is
    * attached pair-first afterward ([[attachEstJaccard]]). */
  private def bandExplode(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"), slice(sigArr, b * r + 1, r).as("bucket"))
    }: _*)
    sigs.select(col("id"), explode(bandStructs).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** [[bandExplode]] with the full signature attached — the
    * small-corpus band frame, where carrying the array through the
    * pair join is cheaper than attaching it afterward. */
  private def bandExplodeAttached(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val sigArr = array((0 until numHashes).map(i => col(s"s$i")): _*)
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"), slice(sigArr, b * r + 1, r).as("bucket"))
    }: _*)
    sigs.select(col("id"), sigArr.as("sig"), explode(bandStructs).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
  }

  /** Crawl-vs-corpus MinHash LSH: candidate near-dup pairs ACROSS two
    * signature frames — which increment documents near-duplicate the
    * existing corpus — the near-dup sibling of [[incrementalDedup]]
    * (which answers the same question for exact copies). Completes the
    * {exact, near} × {batch-self, incremental} dedup matrix.
    *
    * Scale shape: NO self-join and no corpus×corpus pairing — each
    * side band-explodes once and the only join is the cross-side
    * (band, bucket) equi-join, so an unchanged corpus never pairs with
    * itself and the pair volume is bounded by the increment's bucket
    * collisions. Both sides keep the [[capBuckets]] hot-bucket guard
    * (a viral duplicate cluster in EITHER frame would otherwise make
    * one bucket quadratic). Above [[PairAttachMinDocs]] corpus docs
    * the band rows shed the signature payload and est_jaccard is
    * attached pair-first (round 16); below it the signature rides the
    * join and the τ filter runs before the pair distinct.
    *
    * @return (inc_id, corpus_id, est_jaccard) candidate pairs at
    *         est_jaccard ≥ tau
    */
  def minhashIncrementalPairs(corpusSigs: DataFrame, incSigs: DataFrame,
                              numHashes: Int = 32, bands: Int = 8,
                              tau: Double = 0.5,
                              maxBucketSize: Long = 100000L,
                              attachMinDocs: Long = PairAttachMinDocs): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // persist the signature frames, not the capped band frames: with
    // no self-join each capped frame feeds exactly one join side, but
    // capBuckets itself evaluates its input twice (hot groupBy +
    // anti-join probe) and the subtree below the explode carries the
    // expensive shingle→md5→min signature work.
    val cS = graft.CacheScope.track(corpusSigs)
    val iS = graft.CacheScope.track(incSigs)
    // the corpus side decides the spelling — it is the side whose
    // banded payload weight matters at scale (the increment is the
    // daily crawl, orders of magnitude smaller)
    if (corpusAbove(cS, attachMinDocs)) {
      // pair-first-then-attach, like [[minhashCandidatePairs]] (round
      // 16): band rows carry (id, band, bucket) only; the signatures
      // join back id-keyed on the distinct'd pair set
      val c = capBuckets(bandExplode(cS, numHashes, bands), Seq("band", "bucket"), maxBucketSize)
      val i = capBuckets(bandExplode(iS, numHashes, bands), Seq("band", "bucket"), maxBucketSize)
      val cand = i.as("a").join(c.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .select(col("a.id").as("inc_id"), col("b.id").as("corpus_id"))
        .dropDuplicates("inc_id", "corpus_id")
      val sigArr = array((0 until numHashes).map(j => col(s"s$j")): _*)
      cand
        .join(iS.select(col("id").as("inc_id"), sigArr.as("__siga")), Seq("inc_id"))
        .join(cS.select(col("id").as("corpus_id"), sigArr.as("__sigb")), Seq("corpus_id"))
        .select(col("inc_id"), col("corpus_id"),
          (aggregate(zip_with(col("__siga"), col("__sigb"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
            .cast("double") / lit(numHashes)).as("est_jaccard"))
        .where(col("est_jaccard") >= tau)
    } else {
      // small-corpus spelling: signatures ride the band rows, est in
      // the join projection, τ filter before the pair distinct
      val c = capBuckets(bandExplodeAttached(cS, numHashes, bands), Seq("band", "bucket"), maxBucketSize)
      val i = capBuckets(bandExplodeAttached(iS, numHashes, bands), Seq("band", "bucket"), maxBucketSize)
      i.as("a").join(c.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .select(col("a.id").as("inc_id"), col("b.id").as("corpus_id"),
          (aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
            .cast("double") / lit(numHashes)).as("est_jaccard"))
        .where(col("est_jaccard") >= tau)
        .dropDuplicates("inc_id", "corpus_id")
    }
  }

  /** Collapse near-dup candidate pairs into survivor sets: every
    * connected component of the pair graph keeps its minimum id.
    *
    * Min-label propagation with pointer jumping — each round,
    * label(x) ← min(label(x), min label over neighbors,
    * label(label(x))). The neighbor term alone needs
    * component-diameter rounds; the shortcut term halves every
    * label chain's remaining depth per round once propagation starts,
    * so convergence is O(log diameter) — a transitive chain
    * (A~B~C…, natural in span/near-dup graphs) half a million deep
    * resolves within the default `maxIters` (label depth reaches
    * 2^r − 1 after r rounds, plus one no-change round to detect the
    * fixpoint → max diameter ≈ 2^(maxIters−1) − 1) instead of
    * hard-failing after 20 hops. Dedup components
    * are usually near-cliques (2-3 rounds either way); the jump join
    * is what makes the pathological shape safe at corpus scale. Each
    * round is two joins + a map-side-combinable min-agg; the
    * driver-side loop only ever sees a converged/not count, never
    * data.
    *
    * @param pairs (id_a, id_b) candidate pairs from any of the
    *              near-dup operators
    * @param driverCap pair-count threshold for the driver union-find
    *        fast path (long ids only): below it, components resolve in
    *        one collect + one DSU pass instead of blocking iterative
    *        jobs — each distributed round costs several full job
    *        launches, ~5 s of pure scheduling on a 2k-pair graph.
    *        Dedup pair sets are tiny relative to their corpus (they're
    *        the duplicates), but a 100 TB worst case can exceed any
    *        driver, so the distributed loop below stays the big path.
    * @return (id, keep_id) for every id that appears in a pair;
    *         rows absent from `pairs` are their own survivors
    */
  def nearDupSurvivors(pairs: DataFrame, maxIters: Int = 20,
                       driverCap: Long = 2000000L): DataFrame = {
    // localCheckpoint, NOT persist: persist caches the physical result
    // but keeps the full LOGICAL plan, so each loop round nests the
    // entire upstream tree (minhash self-join, gates, scans) twice
    // more — Catalyst analysis went super-linear on the composed
    // corpus→shards pipeline (317 s / OOM on a 1000-doc corpus, round
    // 7). Eager localCheckpoint materializes the frame AND truncates
    // lineage to a LogicalRDD, so every round's plan is one small
    // join over two leaf RDDs regardless of what produced the pairs.
    // Executor-loss recompute is lost with the lineage — acceptable
    // here: the label frame is (id, keep_id) pairs, tiny relative to
    // the corpus, and a lost block fails the job loudly rather than
    // silently (re-run the batch compaction). Superseded rounds'
    // blocks are dropped by Spark's ContextCleaner once unreferenced.
    val idPairs = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val longIds = idPairs.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && idPairs.count() <= driverCap) return driverSurvivors(idPairs)
    val edges = idPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(idPairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("keep_id", col("id")).localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("keep_id").as("__nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("__nl")).as("__nmin"))
      val half = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("keep_id").as("__old"),
          least(col("keep_id"), coalesce(col("__nmin"), col("keep_id"))).as("__mid"))
      // pointer jumping: a label IS a node id (labels start as own ids
      // and only ever take other in-component ids), so following the
      // candidate label one more hop — label(label(x)) — halves chain
      // depth each round. labels(x) ≤ x invariant makes least() exact.
      // Eager checkpoint materializes the round before the convergence
      // count, which then reads the checkpointed blocks.
      val updated = half
        .join(labels.select(col("id").as("__mid"), col("keep_id").as("__jl")),
          Seq("__mid"), "left")
        .select(col("id"), col("__old"),
          least(col("__mid"), coalesce(col("__jl"), col("__mid"))).as("keep_id"))
        .localCheckpoint()
      converged = updated.where(col("keep_id") =!= col("__old")).count() == 0
      labels = updated.select(col("id"), col("keep_id"))
      it += 1
    }
    // an unconverged result would silently disagree with the
    // transitive-closure semantics (and the oracle) — fail loudly;
    // with pointer jumping the default 20 rounds covers component
    // diameters to ~2^19 (≈524k), so hitting this means something is
    // broken, not merely deep
    require(converged,
      s"nearDupSurvivors did not converge in $maxIters rounds — " +
        "component diameter beyond ~2^(maxIters-1); raise maxIters")
    labels
  }

  /** Driver union-find over a collected (long, long) pair list —
    * semantics identical to the distributed loop: every id appearing
    * in a pair maps to its connected component's minimum id. */
  /** Quality-aware survivor selection — [[nearDupSurvivors]]'s
    * components re-labeled so each component keeps its BEST-scoring
    * member (ties to the smallest id): production dedup keeps the
    * longest / cleanest / highest-LM copy of a duplicate cluster, not
    * the smallest id. Implementation is one component-keyed
    * `min(struct(−score, id))` winner agg plus two joins over the
    * (id, component) frame — pair-set-sized, never corpus-sized, on
    * top of the proven union-find/pointer-jumping component machinery.
    * Members missing from `scores` rank worst (−∞ score); `scoreCol`
    * must be numeric (it is negated for the min-struct pick).
    *
    * @return (id, keep_id) for every id that appears in a pair —
    *         keep_id the component's best-scoring member */
  def nearDupSurvivorsBy(pairs: DataFrame, scores: DataFrame,
                         idCol: String, scoreCol: String): DataFrame = {
    val comps = nearDupSurvivors(pairs)
      .select(col("id"), col("keep_id").as("__comp"))
    val sc = scores.select(col(idCol).as("id"),
      col(scoreCol).cast("double").as("__s"))
    val winners = comps.join(sc, Seq("id"), "left")
      .groupBy(col("__comp"))
      .agg(min(struct(
        (-coalesce(col("__s"), lit(Double.NegativeInfinity))).as("ns"),
        col("id").as("wid"))).as("__w"))
      .select(col("__comp"), col("__w.wid").as("keep_id"))
    comps.join(winners, Seq("__comp")).select(col("id"), col("keep_id"))
  }

  private def driverSurvivors(idPairs: DataFrame): DataFrame = {
    val spark = idPairs.sparkSession
    val edges = idPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val ids = edges.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct
    val compMin = scala.collection.mutable.HashMap.empty[Long, Long]
    ids.foreach { id =>
      val r = find(id)
      compMin(r) = math.min(compMin.getOrElse(r, Long.MaxValue), id)
    }
    import spark.implicits._
    ids.toIndexedSeq.map(id => (id, compMin(find(id)))).toDF("id", "keep_id")
  }

  /** Rows surviving near-dedup: keep a row iff its key is a component
    * survivor (or was never in a candidate pair). */
  def nearDedup(df: DataFrame, pairs: DataFrame, keyCol: String): DataFrame = {
    val losers = nearDupSurvivors(pairs)
      .where(col("id") =!= col("keep_id"))
      .select(col("id").as(keyCol))
    df.join(losers, Seq(keyCol), "left_anti")
  }

  /** SimHash near-dup pairs within a Hamming radius: 60-bit fingerprint,
    * split into 4×15-bit pieces; by pigeonhole any pair within Hamming≤3
    * shares at least one piece → equi-join per piece, verify exactly
    * with bit_count(xor). */
  def simhashPairs(df: DataFrame, keyCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Long = 100000L): DataFrame = {
    // persist the compact fingerprint frame (n rows × one long) for the
    // same reason minhashCandidatePairs persists its signature frame:
    // populating the capped cache evaluates this subtree twice (hot
    // groupBy + anti-join probe), and the subtree carries the full-text
    // simhash token scan. Cheap here (one pass), but the double
    // evaluation is pure waste either way.
    val sims = graft.CacheScope.track(df.select(col(keyCol).as("id"),
      TextFunctions.simhash(col(textCol)).as("sim")))
    val pieces = array((0 until 4).map { i =>
      struct(lit(i).as("pc"),
        shiftrightunsigned(col("sim"), 15 * i).bitwiseAND(lit(0x7FFFL)).as("pv"))
    }: _*)
    // persist AFTER the hot-bucket cap, not the compact frame before
    // the explode: the capBuckets subtree carries a groupBy shuffle
    // that would otherwise run once per self-join side (see
    // minhashCandidatePairs — same lesson, measured by the r3 bench)
    val exploded = graft.CacheScope.track(capBuckets(
      sims.select(col("id"), col("sim"), explode(pieces).as("p"))
        .select(col("id"), col("sim"), col("p.pc"), col("p.pv")),
      Seq("pc", "pv"), maxBucketSize))
    // radius filter before the pair dedup: out-of-radius piece
    // collisions are dropped map-side instead of shuffling for distinct
    exploded.as("a").join(exploded.as("b"),
        col("a.pc") === col("b.pc") && col("a.pv") === col("b.pv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Incremental exact dedup: the increment rows whose normalized-text
    * fingerprint does NOT already occur in the corpus — the
    * dedupe-the-new-crawl-against-the-existing-corpus pass a continuously
    * ingesting pipeline runs daily. Returns every increment column plus
    * `fp`. (Duplicates WITHIN the increment are out of scope — both
    * copies are "new" relative to the corpus; follow with [[exactDedup]]
    * on the result.)
    *
    * The naive spelling — `increment ANTI JOIN corpus ON fp` — shuffles
    * the corpus fingerprints every run, and at 100 TB the corpus side
    * dwarfs any daily increment by orders of magnitude. This operator
    * never shuffles the corpus at all:
    *
    *  1. one corpus scan tree-aggregates a Bloom filter of corpus
    *     fingerprints (partial filters OR-merge — commutative, no
    *     shuffle, deterministic);
    *  2. the increment probes the broadcast filter — surviving rows are
    *     the true duplicates plus an `fpp` fraction of false positives,
    *     so the candidate set is ~|dups| + fpp·|increment|: tiny;
    *  3. a second corpus scan semi-joins the BROADCAST candidate
    *     fingerprints to confirm exactly (Bloom false positives die
    *     here; false negatives are impossible), and the confirmed-dup
    *     set anti-joins the increment.
    *
    * Output is therefore byte-identical to the exact anti-join — the
    * Bloom filter only prunes, never decides. Two corpus scans (column-
    * pruned to one md5), zero corpus shuffles, and the only per-row
    * lambda in the engine's dedup layer runs on the increment side only
    * (the Bloom probe; the corpus side stays pure codegen).
    *
    * DRIVER-MEMORY CEILING (round 16, documented bound): the Bloom
    * filter materializes ON THE DRIVER (`stat.bloomFilter` merges the
    * per-partition filters there) and is then broadcast whole, sized
    * at optimal m = −n·ln(fpp)/ln²2 ≈ n·9.585 bits at the default
    * fpp 0.01 — ~1.2 MB per million corpus docs, ~1.2 GB at 10⁹ docs,
    * ~12 GB at 10¹⁰ (BloomSizingSpec pins the math against Spark's
    * sketch). Past a few billion docs either raise `fpp` (the cost is
    * only fpp·|increment| extra confirm rows, and fpp 0.1 HALVES the
    * filter: ~6 GB at 10¹⁰), give the driver the memory, or shard the
    * filter by a fingerprint prefix and run the shards as independent
    * increments — the operator itself stays within one driver-held
    * filter by design because that is what keeps the corpus unshuffled.
    *
    * @param expectedCorpusDocs sizes the Bloom filter; 0 (default)
    *        triggers a counting pre-pass — pass the known corpus row
    *        count to skip it
    * @param fpp Bloom false-positive rate; tune against increment size
    *        (candidate overhead = fpp·|increment| extra confirm rows)
    *        and the driver ceiling above
    */
  def incrementalDedup(corpus: DataFrame, increment: DataFrame,
                       keyCol: String, textCol: String,
                       expectedCorpusDocs: Long = 0L,
                       fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    require(!increment.columns.contains("fp"),
      "fp is the reserved output column name")
    // persisted: the count pre-pass (when armed), the Bloom build and
    // the confirm semi-join each consume this frame — without the
    // cache the corpus text re-scans and re-fingerprints up to three
    // times; with it the corpus is read once and the re-reads are
    // 16-byte fingerprints (round 15, guide §2.3: shuffle/scan keys,
    // not payloads)
    val corpusFp = graft.CacheScope.track(
      corpus.select(TextFunctions.fingerprint(col(textCol)).as("fp")))
    val expected = math.max(
      if (expectedCorpusDocs > 0) expectedCorpusDocs else corpusFp.count(), 1L)
    val bloom = corpusFp.stat.bloomFilter("fp", expected, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: String) => fp != null && bc.value.mightContainString(fp))
    val inc = increment.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
    val candFps = inc.where(mightContain(col("fp"))).select("fp").distinct()
    val confirmed = corpusFp.join(broadcast(candFps), Seq("fp"), "left_semi").distinct()
    inc.join(broadcast(confirmed), Seq("fp"), "left_anti")
  }

  /** The packed (id, pos) keys' stand-in for a NULL integral id —
    * one below `Long.MinValue` in the DECIMAL(38,0) packing space, so
    * it sorts before every real id of any integral type and ties with
    * none. Shared with [[PipelineOps.dedupLines]]. */
  private[operators] def NullId: Column =
    lit(BigDecimal(Long.MinValue) - 1).cast("decimal(38,0)")

  /** Duplicated-span removal — the ExactSubstr pass of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"
    * (§3.1): any `k`-token span occurring more than once in the corpus
    * (across documents OR repeated within one) is removed from every
    * occurrence EXCEPT the canonical first one — min `(id, pos)` over
    * the span's occurrences — so exactly one copy of each duplicated
    * passage survives, matching the paper's one-copy semantics without
    * its suffix array. Documents are whitespace-tokenized
    * (case-sensitive: exact means exact); a token is removed when ANY
    * duplicated non-canonical span covers it, and the document is
    * rebuilt from the surviving tokens in order (single-space joined).
    * A canonical occurrence can still lose tokens to a DIFFERENT
    * overlapping duplicated span — inherent to greedy span marking,
    * deterministic, and rare at real span lengths (the paper uses
    * k=50; the gate pins k=8 against its truncated-copy fixture).
    * Returns `(id, text_dedup, n_tokens_kept, n_tokens_removed)`.
    *
    * Scale shape: spans travel as md5 hashes — the raw text NEVER
    * shuffles. The duplicate detection is one map-side-combinable
    * groupBy on the span hash carrying `count` + `min(struct(id,
    * pos))`, so the canonical pick costs no window and no second
    * pass. This is a deliberate skew trade, measured at 1M synthetic
    * docs (BASELINE.md round 10): a `ROW_NUMBER over (PARTITION BY
    * hash)` spelling runs ~1.45× faster on a unique-heavy corpus
    * (sort shuffle beats a 31M-distinct-key hash agg locally), but it
    * co-locates EVERY occurrence of a span on one task — a
    * boilerplate span shared by millions of documents becomes a
    * straggling hot partition at cluster scale, where the agg's
    * map-side combine caps any reducer's input at one row per map
    * partition per hash. The mark join is hash-keyed on the span hash
    * (duplicate sets can exceed any broadcast budget at 100 TB — no
    * broadcast assumption; AQE broadcasts the usually-tiny dup side
    * at runtime). Coverage explodes k positions per
    * DUPLICATED occurrence only — cost scales with the duplication
    * rate, not the corpus — collapsed to one covered-position set per
    * affected document, and the text is rebuilt DOC-LOCALLY
    * (array_except over a position sequence, then an indexed
    * transform): the corpus tokens are never re-exploded and never
    * cross a shuffle, so the rebuild's shuffle volume is also
    * duplication-scaled, not corpus-scaled (round-10 rewrite; the
    * previous corpus-wide posexplode → anti-join → collect_list
    * rebuild shuffled every token of every document).
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    require(!Set("text_dedup", "n_tokens_kept", "n_tokens_removed", "__pos",
      "__tp", "__tok", "__h", "__gram", "__kid", "__kpos", "__keep", "__n",
      "__n_total").contains(idCol),
      s"idCol '$idCol' collides with an internal column name")
    // tokenize ONCE: the shingle pass and the rebuild share this
    // scoped persist instead of each re-running the tokenizer over
    // the corpus
    val tokenized = graft.CacheScope.track(df.select(col(idCol),
      TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("__toks")))
    // occurrences of every k-token span, as (id, pos, md5(span));
    // persisted for its two consumers (the dup agg + the mark join —
    // measured cheaper than recomputing the shingle expressions,
    // BASELINE.md round 10)
    val occ = graft.CacheScope.track(tokenized
      .select(col(idCol),
        posexplode(graft.functions.Tokenize.wordShingles(col("__toks"), k))
          .as(Seq("__pos", "__gram")))
      .select(col(idCol), col("__pos"), md5(col("__gram")).as("__h")))
    // spans seen >1 time, each with its canonical first occurrence.
    // For integral ids the (id, pos) pair is packed into one
    // DECIMAL(38,0) — id·2³² + pos is strictly monotone in
    // lexicographic (id, pos) for pos ∈ [0, 2³²) (posexplode yields
    // nonneg ints), and |id|·2³² ≤ 2⁹⁵ < 10³⁸ so the packing is exact
    // for ANY long id — because `min(struct(...))` is not
    // hash-aggregable: it planned as a SortAggregate pair that sorted
    // every span occurrence twice (measured: the dominant stage of
    // q_dedup_spans, 82 s executor time on a 0.4M-span corpus vs a
    // HashAggregate's streaming pass; plan diff in plans/r15/). The
    // canonical-occurrence exclusion compares the same packed value,
    // so no unpack is ever needed. Non-integral ids keep the struct
    // spelling — packing has no order isomorphism there.
    val idIsIntegral = {
      import org.apache.spark.sql.types._
      df.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    val marked = if (idIsIntegral) {
      // a NULL id packs as NullId, one below every integral id:
      // packed(null, pos) would be NULL, which min() skips — a
      // different winner than the struct branch, whose min sorts null
      // ids first — and a MinValue stand-in would tie with a real
      // MinValue id at the same position, sparing that occurrence.
      // The exclusion compares the same coalesced value on both sides.
      def packed(id: Column, pos: Column): Column =
        coalesce(id.cast("decimal(38,0)"), NullId) * lit(4294967296L) + pos
      val dup = occ.groupBy(col("__h"))
        .agg(count(lit(1)).as("__n"),
          min(packed(col(idCol), col("__pos"))).as("__keep"))
        .where(col("__n") > 1)
        .select(col("__h"), col("__keep"))
      occ.join(dup, Seq("__h"))
        .where(packed(col(idCol), col("__pos")) =!= col("__keep"))
    } else {
      val dup = occ.groupBy(col("__h"))
        .agg(count(lit(1)).as("__n"),
          min(struct(col(idCol), col("__pos"))).as("__keep"))
        .where(col("__n") > 1)
        .select(col("__h"), col(s"__keep.$idCol").as("__kid"),
          col("__keep.__pos").as("__kpos"))
      // null-safe: with `===` a null canonical id made the test NULL,
      // so every occurrence at the canonical position was spared
      occ.join(dup, Seq("__h"))
        .where(!(col(idCol) <=> col("__kid") && col("__pos") === col("__kpos")))
    }
    // per-document covered positions — volume scales with the
    // duplication rate, not the corpus (a duplicate-free document
    // never appears); collect_set dedups overlapping spans inside the
    // map-side partial agg, and the set is bounded by the document's
    // own length
    val coveredPerDoc = marked
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + lit(k - 1))).as("__tp"))
      .groupBy(col(idCol)).agg(collect_set(col("__tp")).as("__cov"))
    // doc-local rebuild: array_except (hash-set membership) filters
    // the covered positions out of [0, n) keeping ascending order —
    // the corpus tokens are never exploded a second time and never
    // cross a shuffle. The join between the two projections is the
    // barrier that keeps the tokenizer out of the transform lambda
    // (CollapseProject cannot inline through a join — without it the
    // split would re-run per kept token).
    val emptyPos = array().cast("array<int>")
    tokenized
      .join(coveredPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        array_except(
          when(size(col("__toks")) === 0, emptyPos)
            .otherwise(sequence(lit(0), size(col("__toks")) - 1)),
          coalesce(col("__cov"), emptyPos)).as("__keep"))
      .select(col(idCol),
        array_join(transform(col("__keep"),
          p => element_at(col("__toks"), p + 1)), " ").as("text_dedup"),
        size(col("__keep")).cast("long").as("n_tokens_kept"),
        (size(col("__toks")) - size(col("__keep"))).cast("long")
          .as("n_tokens_removed"))
  }
}
