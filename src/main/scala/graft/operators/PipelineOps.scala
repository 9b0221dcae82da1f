package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, Tokenize}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingestion and dedup: repetition profiling (Gopher-style
  * quality signals, Rae et al. 2021 §A1.1), deterministic stratified
  * sampling (per-stratum hash thresholds), and benchmark-contamination
  * screening (n-gram overlap against a held-out probe set).
  *
  * All three are single-shuffle shapes that survive a 100 TB corpus:
  * repetition keys every shuffle by (doc, gram) — per-document
  * cardinality, no global hot key; sampling is a pure filter (no
  * shuffle at all); contamination broadcasts the (small) benchmark
  * gram set and never shuffles the corpus side.
  */
object PipelineOps {

  /** The deterministic 32-bit sampling hash — first 8 hex chars of
    * md5("id:salt") as a long in [0, 2^32). ONE spelling shared by
    * stratifiedSample / assignSplits / upsampleByWeight (and replayed
    * byte-for-byte by their oracles): a drifted separator or substring
    * width here would desynchronize every deterministic-sampling
    * operator from its oracle at once, visibly. */
  private def saltedHash32(id: Column, salt: String): Column =
    conv(substring(md5(
      concat(id.cast("string"), lit(":" + salt))), 1, 8), 16, 10).cast("long")

  /** The engine-replayable seeded order digest `md5("<seed>:<id>")` —
    * the ONE spelling [[shuffleOrder]] and [[interleaveGroups]] (and
    * their DuckDB oracles, which hardcode `md5('<seed>:' || id)`)
    * must agree on; factored so the replay contract can't drift
    * between the two operators. A NULL id raises loudly: the unique-id
    * contract forbids it, and the alternative silent behaviors diverge
    * between engines (concat_ws would digest md5("<seed>:") while the
    * oracle's `||` yields NULL and sorts engine-specifically). */
  private def seededDigest(idCol: String, seed: Long): Column =
    md5(concat(lit(seed.toString + ":"),
      when(col(idCol).isNull, raise_error(lit(
          s"seeded order digest: NULL '$idCol' — ids must be unique and non-null"))
          .cast("string"))
        .otherwise(col(idCol).cast("string"))))

  /** EXCLUSIVE per-partition prefix offsets of the LONG column at
    * `wIdx` over an already range-partitioned-and-sorted frame — the
    * distributed-prefix-sum core shared by [[shardPack]] and
    * [[selectByBudget]]: one (index, subtotal) pair per partition
    * crosses the driver, nothing else; offsets come back broadcast.
    * The input MUST be the persisted sorted frame both passes read
    * (the caching invariant documented at [[shardPack]]). */
  private def partitionOffsets(sorted: DataFrame, wIdx: Int)
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    val partTotals = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(r => s += r.getLong(wIdx)); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    sorted.sparkSession.sparkContext.broadcast(partTotals.scanLeft(0L)(_ + _))
  }

  // ── repetition signals ─────────────────────────────────────────────

  /** Per-document word-repetition profile:
    *
    *   - `n_words`          whitespace token count
    *   - `top_word_frac`    occurrences of the most frequent word / n_words
    *   - `top_bigram_frac`  words covered by the most frequent bigram
    *                        (2 · its count) / n_words — exceeds 1 when
    *                        its occurrences overlap ("a a a a"), which
    *                        only ever strengthens the repetition signal
    *   - `dup_ngram_frac`   fraction of `dupN`-gram positions whose gram
    *                        occurs more than once in the document
    *   - `repetitive`       1 when any signal crosses the Gopher-ish
    *                        thresholds (0.3 / 0.2 / 0.15), else 0
    *
    * The reference has no repetition operator (its quality surface is
    * utils.py's profiling stats); these are the standard LLM-corpus
    * signals, word-positional because the synthetic corpus has no line
    * structure.
    *
    * Zero-shuffle by design: every count is keyed by (document, gram),
    * and grams never cross documents — so the natural groupBy spelling
    * (explode → count → pivot → spine join) would shuffle ~3·n_words
    * gram rows per document only to reduce them straight back to one
    * row per document. [[graft.functions.RepetitionStats]] counts
    * inside the row instead (measured 1.9 s → ~0.2 s on the sf0.1
    * corpus): the operator is a pure projection,
    * embarrassingly parallel, input partitioning untouched.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        dupN: Int = 5): DataFrame = {
    require(dupN >= 3, s"dupN must be >= 3 (1 and 2 are already profiled), got $dupN")
    require(!Set("n_words", "__s",
      "top_word_frac", "top_bigram_frac", "dup_ngram_frac", "repetitive")
      .contains(idCol), s"idCol '$idCol' collides with an internal or output column name")
    val stats = df.select(col(idCol),
      Tokenize.repetitionStats(
        TextFunctions.tokens(coalesce(col(textCol), lit(""))), dupN).as("__s"))
    val safeWords = when(col("__s.n_words") === 0, lit(null))
      .otherwise(col("__s.n_words"))
    stats
      .select(col(idCol), col("__s.n_words").as("n_words"),
        coalesce(col("__s.mx1").cast("double") / safeWords, lit(0.0)).as("top_word_frac"),
        coalesce((col("__s.mx2") * 2).cast("double") / safeWords, lit(0.0)).as("top_bigram_frac"),
        coalesce(col("__s.dupn").cast("double") / col("__s.totn"), lit(0.0)).as("dup_ngram_frac"))
      .withColumn("repetitive",
        when(col("top_word_frac") > 0.3 || col("top_bigram_frac") > 0.2 ||
          col("dup_ngram_frac") > 0.15, lit(1L)).otherwise(lit(0L)))
  }

  // ── document chunking ──────────────────────────────────────────────

  /** Split each document into fixed-size token windows — the
    * tokenize-and-chunk step in front of sequence packing. Chunk `i`
    * covers tokens `[i·stride, i·stride + chunkSize)`; `stride <
    * chunkSize` yields overlapping windows (sliding-window training
    * data), `stride == chunkSize` disjoint ones. The final window
    * clamps at the document end. Documents with no tokens emit no
    * chunks.
    *
    * Returns `(id, chunk_idx, n_tokens, chunk_text)`, `chunk_idx`
    * 0-based. Pure per-row expression work (tokenize once, one
    * posexplode) — no shuffle at all; the natural pre-partitioning of
    * the corpus carries through to the chunk frame.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(!Set("chunk_idx", "n_tokens", "chunk_text", "__t", "__c")
      .contains(idCol), s"idCol '$idCol' collides with an output column name")
    val toks = df.select(col(idCol),
      TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("__t"))
    // sequence() with a negative span would DESCEND — guard empty docs
    val starts = when(size(col("__t")) > 0,
      sequence(lit(0), size(col("__t")) - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    toks.select(col(idCol),
        posexplode(transform(starts, s0 => slice(col("__t"), s0 + 1, lit(chunkSize))))
          .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("__c")).cast("long").as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  // ── deterministic stratified sampling ──────────────────────────────

  /** Keep a row iff a 32-bit md5-derived hash of its id falls under the
    * stratum's fraction: `hash32(id:salt) < frac(stratum) · 2^32`.
    *
    * Pure filter — no shuffle, no RNG state, reproducible across
    * engines, partitionings, and reruns (the property `rand(seed)`
    * cannot give: Spark seeds `rand` per partition, so a repartition
    * changes the sample). Strata missing from `weights` keep
    * `defaultFrac`. Fractions should be dyadic (k/2^m — e.g. 0.5,
    * 0.75) when an external SQL engine must reproduce the exact keep
    * set: `frac · 2^32` is then integer-exact in any numeric tower.
    *
    * The weights map becomes a literal CASE chain: strata are
    * human-curated (languages, sources — tens, not millions), the same
    * bounded-literal trade as [[Similarity.ivfTopK]]'s nlist cap. For
    * data-driven strata counts beyond ~1000, join a broadcast weights
    * table instead.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       weights: Map[String, Double], defaultFrac: Double,
                       salt: String = "graft"): DataFrame = {
    require(defaultFrac >= 0.0 && defaultFrac <= 1.0, "defaultFrac in [0,1]")
    weights.foreach { case (s, f) =>
      require(f >= 0.0 && f <= 1.0, s"fraction for stratum '$s' must be in [0,1], got $f") }
    val hash32 = saltedHash32(col(idCol), salt)
    val frac = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultFrac)) {
      case (acc, (stratum, f)) => when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    df.where(hash32 < frac * lit(4294967296.0))
  }

  /** Deterministic train/val/test split assignment: each row gets the
    * split label whose cumulative hash-threshold interval contains
    * `hash32(id:salt)` — the labeling twin of [[stratifiedSample]]'s
    * filter. Fractions should be dyadic — the default
    * 0.90625/0.046875/0.046875 (29/32, 3/64, 3/64) is; 0.9/0.05/0.05
    * is NOT (those doubles only sum to 1.0 by rounding luck) — so the
    * `frac·2³²` thresholds are integer-exact cross-engine. Stable under repartition, rerun, and
    * corpus growth: a document's split NEVER changes when other
    * documents arrive — the property that keeps eval sets
    * uncontaminated across corpus versions (`rand(seed)` has no such
    * guarantee). Shuffle-free: one hash + a literal CASE chain.
    *
    * @param splits (label, fraction) in order; fractions must sum to
    *               1.0 exactly (use dyadic fractions)
    */
  def assignSplits(df: DataFrame, idCol: String,
                   splits: Seq[(String, Double)] = Seq(
                     "train" -> 0.90625, "val" -> 0.046875, "test" -> 0.046875),
                   salt: String = "graft-split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0),
      "splits must be non-empty with positive fractions")
    require(splits.map(_._2).sum == 1.0,
      s"fractions must sum to exactly 1.0 (use dyadic fractions), got ${splits.map(_._2).sum}")
    require(!df.columns.contains("split"), "split is the reserved output column name")
    val hash32 = saltedHash32(col(idCol), salt)
    val cum = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    // CASE on ascending cumulative thresholds; the last branch is the
    // unconditional otherwise so no row can fall through on the 2^32 edge
    val labeled = splits.init.zip(cum.init).reverse
      .foldLeft(lit(splits.last._1): Column) { case (e, ((label, _), c)) =>
        when(hash32 < lit(c) * lit(4294967296.0), lit(label)).otherwise(e)
      }
    df.withColumn("split", labeled)
  }

  /** Per-domain document cap (the RefinedWeb/web-corpus move: no
    * single site may contribute more than `cap` documents). Keeps the
    * `cap` documents with the smallest `(hash32(id:salt), id)` per
    * domain — deterministic, partitioning-invariant, and stable in
    * WHICH documents survive as long as the survivors' ids don't
    * change (new crawl docs can displace old ones within a domain;
    * that is the point of a cap, unlike [[assignSplits]]' per-row
    * stability guarantee).
    *
    * Scale shape: the `row_number <= cap` pattern triggers Spark's
    * WindowGroupLimit rewrite — a Partial group-limit runs upstream of
    * the exchange, so each map task pre-trims to `cap` rows per domain
    * and the shuffle carries at most tasks×cap rows for even the
    * hottest domain, never the domain's full row count (PlanShapeSpec
    * pins the Partial node; same mechanism as the ANN top-k windows).
    *
    * @return input columns + `domain_rank` (1-based hash-order rank
    *         within the domain) for the surviving rows
    */
  def domainCap(df: DataFrame, idCol: String, domainCol: String,
                cap: Int, salt: String = "graft-domain"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    require(!df.columns.contains("domain_rank"),
      "domain_rank is the reserved output column name")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(saltedHash32(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("domain_rank", row_number().over(w).cast("long"))
      .where(col("domain_rank") <= cap)
  }

  // ── vocabulary profiling ───────────────────────────────────────────

  /** Corpus-level top-`k` vocabulary: term frequency and document
    * frequency per word, ordered (tf desc, word asc) so the cut at `k`
    * is deterministic. The tokenizer/BPE-threshold dashboard query of
    * a corpus pipeline.
    *
    * Two shuffles, both word-keyed: (word, doc) partial counts (map-side
    * combinable) roll up to per-word tf (sum) and df (count) in one agg;
    * the final top-k is a TakeOrdered — no global sort materializes.
    * Word keys skew with Zipf, but a count agg's map-side combine
    * bounds any reducer's input by the partition count, not the word's
    * corpus frequency.
    */
  def vocabProfile(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(idCol != "word" && idCol != "n",
      s"idCol '$idCol' collides with an internal column name")
    val perDoc = df.select(col(idCol),
      explode(TextFunctions.tokens(coalesce(col(textCol), lit(""))))
        .as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
    perDoc.groupBy(col("word"))
      .agg(sum("n").as("tf"), count(lit(1)).as("doc_freq"))
      .orderBy(col("tf").desc, col("word").asc)
      .limit(k)
  }

  /** Vocabulary-coverage (OOV-rate) audit — the pre-training check
    * "what fraction of each document's tokens fall outside the
    * tokenizer's top-`vocabSize` vocabulary?": high-OOV documents are
    * the ones a fixed vocab will shred into bytes, and the corpus-level
    * distribution of this ratio is the go/no-go signal for a vocab
    * size. The vocabulary is derived from the corpus itself via
    * [[vocabProfile]] (top-`vocabSize` by (tf DESC, word ASC) — the
    * gate-proven deterministic cut); the supplied-vocabulary overload
    * below audits against a FOREIGN tokenizer's vocab (a pre-computed
    * profile, another corpus's cut, a tokenizer's word list).
    *
    * Scale shape: the vocab is a driver-bounded `vocabSize`-row frame
    * BROADCAST against the exploded token stream (row-local explode,
    * no token shuffle for membership); the per-doc rollup is ONE
    * doc-key hash shuffle with map-side combine. The ratio divides two
    * exact longs — deterministic cross-engine. Documents with zero
    * tokens emit no row (no tokens → no coverage to measure), mirrored
    * by the oracle's unnest semantics.
    *
    * @return (idCol, n_tokens, n_oov, oov_ratio) per non-empty doc */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int = 500): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    oovRateAgainst(df, idCol, textCol,
      vocabProfile(df, idCol, textCol, vocabSize), "word")
  }

  /** [[oovRate]] against a SUPPLIED vocabulary — the foreign-tokenizer
    * audit ("how well does tokenizer X's vocab cover corpus Y?"): the
    * vocab is any (word) frame — another corpus's [[vocabProfile]], a
    * tokenizer's exported word list — deduplicated and broadcast, so
    * the contract is vocab-bounded-small (the same contract every
    * broadcast side here carries). NULL vocab entries are dropped
    * (a NULL word matches no token). Same scale shape and return
    * schema as the self-derived overload. */
  def oovRateAgainst(df: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame, wordCol: String): DataFrame = {
    val v = vocab
      .select(col(wordCol).cast("string").as("word"))
      .where(col("word").isNotNull)
      .distinct()
      .select(col("word"), lit(1L).as("__in"))
    df.select(col(idCol),
        explode(TextFunctions.tokens(coalesce(col(textCol), lit(""))))
          .as("word"))
      .join(broadcast(v), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(when(col("__in").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_ratio"))
  }

  // ── corpus snapshot diff (crawl-refresh delta) ─────────────────────

  /** Content-level diff between two corpus snapshots — the
    * crawl-refresh primitive ("what changed since the last dump?"):
    * every document id is classified `added` (new only), `removed`
    * (old only), `changed` (both, digests differ), or `unchanged`.
    * Downstream, `added ∪ changed` is the increment the pipeline
    * actually has to re-process (the batch sibling of
    * [[graft.operators.Dedup]]'s incremental near-dedup and
    * [[graft.operators.ChangeApply]]'s CDC apply: this DERIVES the
    * changelog two full snapshots imply).
    *
    * Scale shape: each side reduces to (id, md5(text)) row-locally —
    * the raw text never shuffles, only 32-hex digests — then ONE
    * id-keyed full-outer shuffle join classifies every id. No
    * collects, no windows; skew-immune (ids are unique per side by
    * contract — duplicate ids raise loudly, matching the repo's
    * loud-failure convention, since a diff over a multiset id space is
    * ill-defined).
    *
    * Exactness: md5 is bit-stable cross-engine; NULL text digests as
    * the empty string (the [[vocabProfile]] COALESCE convention).
    *
    * @return (idCol, status, old_digest, new_digest) — absent-side
    *         digests NULL */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def digests(df: DataFrame, dcol: String) = df
      .select(col(idCol), md5(coalesce(col(textCol), lit(""))).as(dcol))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), max(col(dcol)).as(dcol))
      .select(col(idCol),
        when(col("__n") === 1L, col(dcol)).otherwise(raise_error(concat(
          lit("snapshotDiff: duplicate id in a snapshot — diff over a multiset id space is ill-defined; id="),
          col(idCol).cast("string")))).as(dcol))
    digests(oldSnap, "old_digest")
      .join(digests(newSnap, "new_digest"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") === col("new_digest"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_digest"), col("new_digest"))
  }

  // ── deterministic weighted up/down-sampling (domain mixing) ────────

  /** Replicate each row to hit a per-stratum mixture weight — the
    * domain-mixing step ("upsample wiki 2.5×, downsample crawl to
    * 0.25×") expressed deterministically: a row of weight `w` is
    * emitted `floor(w)` times, plus once more iff
    * `hash32(id:salt) < frac(w)·2^32`, so expected copies = `w`
    * exactly and the decision is a pure function of the id (stable
    * under repartition/rerun — see [[stratifiedSample]] on why
    * `rand(seed)` is not). `w < 1` downsamples, `w > 1` upsamples;
    * fractional parts should be dyadic for cross-engine exactness.
    * Output appends 0-based `copy_idx`; weight-0 strata drop.
    *
    * Shuffle-free: a literal CASE weight, one hash, one
    * `explode(sequence)` — replication happens in place on whatever
    * partitioning the corpus already has. (Replicas land in the SAME
    * partition as their source; follow with a repartition only if a
    * downstream stage is replica-count-sensitive.)
    *
    * Uses a different default salt than [[stratifiedSample]] so
    * composing the two doesn't correlate their keep decisions.
    */
  def upsampleByWeight(df: DataFrame, idCol: String, stratumCol: String,
                       weights: Map[String, Double], defaultWeight: Double = 1.0,
                       salt: String = "graft-mix"): DataFrame = {
    require(defaultWeight >= 0.0, "defaultWeight must be >= 0")
    weights.foreach { case (s, w) =>
      require(w >= 0.0, s"weight for stratum '$s' must be >= 0, got $w") }
    require(idCol != "copy_idx" && stratumCol != "copy_idx",
      "copy_idx is the reserved output column name")
    val hash32 = saltedHash32(col(idCol), salt)
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (stratum, wt)) => when(col(stratumCol) === stratum, lit(wt)).otherwise(acc)
    }
    val copies = (floor(w).cast("long") +
      when(hash32 < (w - floor(w)) * lit(4294967296.0), lit(1L)).otherwise(lit(0L)))
    // sequence() with a negative span would DESCEND — emit empty instead
    df.withColumn("copy_idx",
        explode(when(copies > 0, sequence(lit(0L), copies - 1))
          .otherwise(array().cast("array<bigint>"))))
  }

  // ── deterministic token-budget shard packing ───────────────────────

  /** Assign every row to a training shard of ~`budget` weight (token
    * count, bytes — any non-negative long `weightCol`): rows are laid
    * out in a deterministic pseudo-random global order (md5 of the id,
    * ties by id — the seeded corpus shuffle every training run needs,
    * stable across engines/partitionings/reruns, unlike `rand(seed)`)
    * and `shard_id = floor(prefix_weight_before / budget)` — the shard
    * each row STARTS in — plus `shard_offset = prefix_weight_before %
    * budget`, the position within that shard, which together make this
    * the sequence packer: chunk with [[chunkDocuments]], pack chunks
    * with `budget` = sequence length, and (shard_id, shard_offset) is
    * each chunk's (sequence, token-position) address. A row larger
    * than `budget` spills into subsequent shards, which stay empty
    * rather than re-balancing (deterministic beats perfectly level
    * here).
    *
    * Scale shape, same as [[Rank.minRankByValue]]'s prefix sum: NO
    * global-window cumsum (a bare `sum().over(orderBy)` collapses to
    * one partition — the classic 100 TB killer). Range-partition by the
    * shuffle key, sort within partitions, collect ONE subtotal per
    * partition (a few KB), broadcast the exclusive offsets, then a
    * per-partition running sum assigns shards in a single pass.
    */
  def shardPack(df: DataFrame, idCol: String, weightCol: String, budget: Long,
                salt: String = "graft-shard", numPartitions: Int = 0): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val k = "__shard_k"
    val keyed = df.withColumn(k,
      md5(concat(col(idCol).cast("string"), lit(":" + salt))))
    packPrefix(keyed, weightCol, budget, numPartitions,
      Seq(col(k), col(idCol))).drop(k)
  }

  /** [[shardPack]] over an EXPLICIT precomputed order column instead of
    * the salted digest — the composition seam between [[shuffleOrder]]
    * and the packer: `shardPackByOrder(shuffleOrder(df, seed),
    * "shuffle_pos", weightCol, budget)` turns the seeded epoch order
    * into contiguous token-budget shards, the reproducible-epoch story
    * end-to-end (seed → order → shard layout, all engine-replayable).
    *
    * `orderCol` must be a TOTAL order — unique per row, like
    * [[shuffleOrder]]'s 1-based position. Ties would leave the
    * within-tie order partition-dependent and the shard assignment
    * nondeterministic; the range partitioner can't see that, so it is
    * the caller's contract (every producer here emits unique
    * positions). Same scale shape as [[shardPack]]: one range shuffle
    * on the order column, one subtotal long per partition to the
    * driver, broadcast offsets, single assignment pass.
    */
  def shardPackByOrder(df: DataFrame, orderCol: String, weightCol: String,
                       budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    packPrefix(df, weightCol, budget, numPartitions, Seq(col(orderCol)))
  }

  /** The shared prefix-sum packing tail of [[shardPack]] and
    * [[shardPackByOrder]]: range-partition + sort by `sortCols`,
    * per-partition subtotals → broadcast exclusive offsets → one local
    * pass appending (shard_id, shard_offset). NULL weights pack as 0
    * (a weightless row rides at its predecessor's boundary — it
    * consumes no budget, unlike [[selectByBudget]] where riding free
    * under a budget is a correctness hole and NULL raises). */
  private def packPrefix(df: DataFrame, weightCol: String, budget: Long,
                         numPartitions: Int, sortCols: Seq[Column]): DataFrame = {
    require(!df.columns.contains("shard_id") && !df.columns.contains("shard_offset"),
      "shard_id / shard_offset are the reserved output column names")
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.sessionState.conf.numShufflePartitions
    val w = "__shard_w"
    // persisted: the subtotal pass and the assignment pass must observe
    // the same physical layout (see minRankByValue)
    val sorted = graft.CacheScope.track(
      df.withColumn(w, coalesce(col(weightCol).cast("long"), lit(0L)))
        .repartitionByRange(parts, sortCols: _*)
        .sortWithinPartitions(sortCols: _*))
    val wIdx = sorted.schema.fieldIndex(w)
    val bOff = partitionOffsets(sorted, wIdx) // weight before partition i
    val packed = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var before = bOff.value(i)
      it.map { r =>
        val shard = before / budget
        val offset = before % budget
        before += r.getLong(wIdx)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ shard :+ offset)
      }
    }
    spark.createDataFrame(packed,
        org.apache.spark.sql.types.StructType(sorted.schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("shard_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("shard_offset",
            org.apache.spark.sql.types.LongType, nullable = false))))
      .drop(w)
  }

  /** Intra-document first-occurrence line dedup: every repeat of a
    * line WITHIN its own document is removed (the Dolma
    * `dedupe_by_paragraph`-within-doc move — repeated nav bars,
    * cookie banners, chorus lines). Complements [[dedupLines]]
    * (corpus-global first occurrence) and `repetitionSignals` (which
    * MEASURES repetition; this removes it).
    *
    * Scale shape: zero shuffle — one row-local projection per
    * document (`split` → `array_distinct`, which keeps first
    * occurrence in order → `array_join`), so the operator is
    * scan-bound at any corpus size and pushes through AQE unchanged.
    * The repeated `split`/`array_distinct` subtrees below are
    * eliminated at runtime by codegen subexpression elimination (one
    * projection, no lambda re-evaluation hazard — nothing here is a
    * higher-order function).
    *
    * @return (idCol, text_dedup, n_lines, n_lines_kept) — one row per
    *         input document, same contract as [[dedupLines]]
    */
  def dedupLinesInDoc(df: DataFrame, idCol: String, textCol: String,
                      delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    val quoted = java.util.regex.Pattern.quote(delim)
    val segs = split(coalesce(col(textCol), lit("")), quoted)
    df.select(col(idCol),
      array_join(array_distinct(segs), delim).as("text_dedup"),
      size(segs).cast("long").as("n_lines"),
      size(array_distinct(segs)).cast("long").as("n_lines_kept"))
  }

  /** Global first-occurrence line dedup (the CCNet/Dolma line-level
    * move): every occurrence of a line beyond the corpus-wide FIRST —
    * smallest (document, position) — is removed. Complements
    * [[stripBoilerplate]]: that drops lines frequent across many
    * documents ENTIRELY (boilerplate), this keeps exactly one copy of
    * every line (dedup).
    *
    * Scale shape: raw text NEVER shuffles by line content and never
    * shuffles twice. The exploded frame ships only (hash, id, pos) —
    * ~40 bytes/occurrence — into a map-side-combinable
    * `min(struct(id, pos))` winner aggregate; the winning positions
    * then re-aggregate id-keyed into tiny per-document position
    * arrays, and the rebuild is a row-local `transform` over the
    * original document row (`element_at` into the re-split segments —
    * O(kept), not an `array_contains` scan per segment). A line
    * duplicated a billion times costs one combined row per map task,
    * not a hot reducer; the only wide row movement is the single
    * id-keyed join of the position arrays back to the input.
    *
    * @return (idCol, text_dedup, n_lines, n_lines_kept) — one row per
    *         input document; a document whose every line lost keeps an
    *         empty `text_dedup`
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    val reserved = Set("text_dedup", "n_lines", "n_lines_kept", "__pos", "__line", "__h",
      "__w", "__kp", "__segs")
    require(!reserved.contains(idCol) && !reserved.contains(textCol) && idCol != textCol,
      s"idCol '$idCol' / textCol '$textCol' collides with an internal or output column name")
    // prune to the two input columns up front: extra input columns
    // named like the internals (__kp, __segs) would otherwise turn the
    // rebuild join ambiguous
    val base = df.select(col(idCol), col(textCol))
    val quoted = java.util.regex.Pattern.quote(delim)
    val occ = base.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), quoted))
        .as(Seq("__pos", "__line")))
    // winner pick: for integral ids the (id, pos) pair packs into one
    // DECIMAL(38,0) — id·2³² + pos is strictly monotone in
    // lexicographic (id, pos) for pos ∈ [0, 2³²), |id|·2³² ≤ 2⁹⁵ < 10³⁸
    // — because `min(struct(...))` is not hash-aggregable: it planned
    // as a SortAggregate pair sorting every line occurrence twice (the
    // Dedup.dedupSpans finding, round 15; plan diff in plans/r15/).
    // The unpack is exact: pos = pmod(w, 2³²) and id = (w − pos)/2³²
    // divides an exact multiple (quotient ≤ 19 digits, well inside
    // DECIMAL(38,11)). Non-integral ids keep the struct spelling.
    val idIsIntegral = {
      import org.apache.spark.sql.types._
      base.schema(idCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    val winners = if (idIsIntegral) {
      val two32 = lit(4294967296L)
      // a NULL id packs as Dedup.NullId, one below every integral id:
      // a NULL packed value would be SKIPPED by min() while the struct
      // branch sorts null ids first, and a MinValue stand-in would tie
      // with a real MinValue id. The unpack turns NullId back into a
      // null id, which joins back to no document — the struct
      // branch's observable behavior (a null winner id never
      // equi-joins).
      val w = occ.groupBy(md5(col("__line")).as("__h"))
        .agg(min(coalesce(col(idCol).cast("decimal(38,0)"), Dedup.NullId) * two32 +
          col("__pos")).as("__w"))
        .select(((col("__w") - pmod(col("__w"), two32)) / two32).as("__wid"),
          pmod(col("__w"), two32).cast("int").as("__pos"))
      w.select(when(col("__wid") =!= Dedup.NullId,
          col("__wid").cast(base.schema(idCol).dataType)).as(idCol), col("__pos"))
    } else {
      occ.groupBy(md5(col("__line")).as("__h"))
        .agg(min(struct(col(idCol), col("__pos"))).as("__w"))
        .select(col(s"__w.$idCol").as(idCol), col("__w.__pos").as("__pos"))
    }
    val keptPos = winners.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__kp"))
    // the split array is materialized ONCE per row before the rebuild:
    // expressions inside a `transform` lambda are re-evaluated per
    // element (no CSE across lambda invocations), so inlining the
    // split would make the rebuild O(kept × doc_length), not O(doc)
    base.withColumn("__segs", split(coalesce(col(textCol), lit("")), quoted))
      .join(keptPos, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          transform(coalesce(col("__kp"), array().cast("array<int>")),
            p => element_at(col("__segs"), p + 1)),
          delim).as("text_dedup"),
        size(col("__segs")).cast("long").as("n_lines"),
        coalesce(size(col("__kp")), lit(0)).cast("long").as("n_lines_kept"))
  }

  /** GPT-style sequence packing: lay the corpus out in [[shardPack]]'s
    * deterministic pseudo-random order, concatenate, and cut into
    * training windows of EXACTLY `seqLen` tokens — documents split
    * across window boundaries, and every window (except the last) is
    * full. Emits one row per (document, window) overlap:
    *
    *   - `window_id`   the training sequence index
    *   - `tok_start`   first token of this segment within the document
    *   - `seg_start`   position of the segment within the window
    *   - `seg_len`     segment length (Σ per window = seqLen)
    *
    * — the segment map a trainer needs to rebuild windows and mask
    * cross-document attention. Zero-weight documents emit no segments.
    *
    * Scale shape: [[shardPack]]'s distributed prefix sum (range
    * partition + per-partition subtotals — no global window) gives
    * each document its global token offset; the window explode is then
    * row-local, replicating a document only once per ⌈w/seqLen⌉
    * windows it actually touches. All window arithmetic is pure LONG
    * (the `(x − x mod L) / L` spelling keeps the division exact in any
    * engine — corpus token counts stay far below 2^53, but the mod
    * form doesn't even rely on that).
    */
  def packSequences(df: DataFrame, idCol: String, weightCol: String,
                    seqLen: Long, salt: String = "graft-seq"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(!Set("window_id", "tok_start", "seg_start", "seg_len", "__g0", "__w")
      .exists(df.columns.contains),
      "window_id/tok_start/seg_start/seg_len/__g0/__w are reserved column names")
    val packed = shardPack(df, idCol, weightCol, budget = seqLen, salt = salt)
    def fdiv(x: Column): Column = ((x - pmod(x, lit(seqLen))) / seqLen).cast("long")
    val staged = packed
      .withColumn("__w", coalesce(col(weightCol).cast("long"), lit(0L)))
      .withColumn("__g0", col("shard_id") * seqLen + col("shard_offset"))
      .withColumn("window_id",
        explode(when(col("__w") > 0L,
            sequence(col("shard_id"), fdiv(col("__g0") + col("__w") - 1)))
          .otherwise(array().cast("array<bigint>"))))
    val winStart = col("window_id") * seqLen
    val segFrom = greatest(col("__g0"), winStart)
    staged.select(col(idCol), col("window_id"),
      (segFrom - col("__g0")).as("tok_start"),
      (segFrom - winStart).as("seg_start"),
      (least(col("__g0") + col("__w"), winStart + seqLen) - segFrom).as("seg_len"))
  }

  // ── shard payload materialization ──────────────────────────────────

  /** Materialize each shard's training payload: the rows assigned to a
    * shard by [[shardPack]], concatenated by `sep` in shard order —
    * the step that turns the (shard_id, shard_offset) layout into the
    * actual file contents a trainer reads. Returns
    * `(shard_id, n_rows, payload)`.
    *
    * One shuffle, keyed by shard id — and shard ids are uniform by
    * construction (each covers ~budget weight), so the key
    * distribution is as level as a shuffle key gets; within-shard
    * order is recovered by sorting (offset, id) INSIDE the aggregate,
    * the same collect_list-determinism discipline as
    * [[stripBoilerplate]]'s rebuild. Payload size ≈ the pack budget —
    * bounded per group by construction, never by luck.
    */
  def shardPayloads(packed: DataFrame, idCol: String, textCol: String,
                    sep: String = "\n"): DataFrame = {
    require(packed.columns.contains("shard_id") &&
      packed.columns.contains("shard_offset"),
      "shardPayloads expects shardPack output (shard_id, shard_offset)")
    packed.groupBy(col("shard_id")).agg(
      count(lit(1)).as("n_rows"),
      array_join(transform(
        array_sort(collect_list(struct(col("shard_offset"), col(idCol), col(textCol)))),
        x => x.getField(textCol)), sep).as("payload"))
  }

  // ── deterministic training-order materialization ───────────────────

  /** Seeded global shuffle with a MATERIALIZED position — the
    * reproducible-training-order primitive: every row gets its 1-based
    * position in the deterministic pseudo-random order
    * `(md5(seed ':' id), id)`, so shard write order, curriculum
    * resumption, and any-two-runs diffing are reproducible corpus-wide
    * from (corpus, seed) alone. md5 rather than a JVM PRNG or
    * xxhash64 for the usual reason ([[shardPack]], Dedup's minhash):
    * any SQL engine replays it bit-for-bit, so the order itself is
    * gate-checkable. Different seeds give independent orders (epoch
    * reshuffles); the same seed is stable across engines,
    * partitionings, and reruns — none of which holds for `rand(seed)`
    * or `ORDER BY rand()`.
    *
    * Scale shape: md5 keys are uniform by construction, so the
    * range-partition is as level as a shuffle gets;
    * [[Rank.zipWithIndexRank]] assigns contiguous indices without a
    * global window (per-partition counts to the driver — one long
    * each — then a broadcast-offset local scan). Compose downstream:
    * `shuffle_pos` div docs-per-shard is a shard id, and feeding the
    * order into [[shardPack]]/[[packSequences]] pins their layout to
    * the epoch seed.
    *
    * @param idCol unique row id (the contract every id column here
    *              carries); duplicate ids would share a digest and
    *              make the tie-break order among them id-equal —
    *              deterministic as a multiset but not row-addressable
    * @return df + `outCol` (1-based LONG position) */
  def shuffleOrder(df: DataFrame, idCol: String, seed: Long,
                   outCol: String = "shuffle_pos"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists")
    val k = "__shuffle_k"
    require(!df.columns.contains(k), s"'$k' is reserved by shuffleOrder")
    val keyed = df.withColumn(k, seededDigest(idCol, seed))
    Rank.zipWithIndexRank(keyed, k, Seq(idCol), outCol).drop(k)
  }

  // ── token-budget corpus selection ───────────────────────────────────

  /** Greedy best-first corpus selection under an EXACT weight budget —
    * the data-selection primitive ("train on the best N tokens"):
    * rows are laid out best-score-first ((scoreCol DESC, idCol ASC) —
    * a total, deterministic order) and a row is kept iff its INCLUSIVE
    * running weight still fits `budget`. The cut is a prefix of the
    * quality ordering, so (corpus, budget) alone reproduces the
    * training set — the selection twin of [[shuffleOrder]]'s ordering
    * guarantee. First overflow ends the take (strict prefix, not
    * knapsack back-fill): deterministic beats maximally-full here,
    * same trade as [[shardPack]]'s spill rule.
    *
    * Scale shape — the [[shardPack]] distributed prefix sum pointed at
    * a quality order instead of a shuffle key: range-partition by
    * (score DESC, id), per-partition subtotals to the driver (one long
    * each), broadcast exclusive offsets, one local pass computes the
    * inclusive cumulative and filters. No global window, nothing
    * driver-side grows with the corpus. Negative AND NULL weights
    * raise loudly: a negative token count is a pipeline bug that would
    * silently credit budget back and re-admit everything after it, and
    * a NULL one is the same bug in disguise — it would ride FREE under
    * the budget (the r14 gate mirrored that with COALESCE(w, 0); the
    * contract is now no-NULLs, spec-pinned). [[shardPack]] keeps its
    * NULL→0 packing — a weightless row at a shard boundary consumes no
    * budget there, which is layout, not admission.
    *
    * @return kept rows + `cum_weight` (inclusive running LONG total in
    *         selection order; max cum_weight ≤ budget) */
  def selectByBudget(df: DataFrame, idCol: String, weightCol: String,
                     scoreCol: String, budget: Long,
                     numPartitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(!df.columns.contains("cum_weight"),
      "cum_weight is the reserved output column name")
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.sessionState.conf.numShufflePartitions
    val w = "__sel_w"
    val sorted = graft.CacheScope.track(
      df.withColumn(w, when(col(weightCol) < 0 || col(weightCol).isNull,
            raise_error(concat(
              lit(s"selectByBudget: negative or NULL '$weightCol' at $idCol="),
              coalesce(col(idCol).cast("string"), lit("NULL")))).cast("long"))
          .otherwise(col(weightCol).cast("long")))
        .repartitionByRange(parts, col(scoreCol).desc, col(idCol).asc)
        .sortWithinPartitions(col(scoreCol).desc, col(idCol).asc))
    val wIdx = sorted.schema.fieldIndex(w)
    val bOff = partitionOffsets(sorted, wIdx)
    val cut = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = bOff.value(i)
      it.flatMap { r =>
        cum += r.getLong(wIdx)
        if (cum <= budget)
          Some(org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cum))
        else None
      }
    }
    spark.createDataFrame(cut,
        org.apache.spark.sql.types.StructType(sorted.schema.fields :+
          org.apache.spark.sql.types.StructField("cum_weight",
            org.apache.spark.sql.types.LongType, nullable = false)))
      .drop(w)
  }

  // ── exact categorical diversity (mixture-balance diagnostic) ───────

  /** Exact SIMPSON diversity of a categorical column — the one-row
    * mixture-balance diagnostic for a domain/language/cluster mix:
    * `D = 1 − Σ_c n_c² / n²`, the probability two random rows come
    * from DIFFERENT categories (0 = monoculture, →1 = evenly spread).
    * Simpson rather than Shannon entropy BY DESIGN — the same ln-free
    * principle as [[corpusKeyness]]'s χ² and [[graft.operators.Drift]]'s
    * TV: every intermediate is exact integer arithmetic (n² − Σn_c² in
    * DECIMAL(38,0), room for 10^12-row corpora), ONE trailing double
    * division, bit-identical cross-engine where ln(p) has no such
    * guarantee. NULL is a category like any other; an empty frame
    * raises loudly (a diversity of nothing is a pipeline bug).
    *
    * Scale shape, [[graft.operators.Drift.tvDistance]]'s: ONE
    * map-side-combinable category shuffle → |categories|-row frame →
    * 1-row global reduce. Nothing corpus-sized survives the first
    * aggregate; nothing collects.
    *
    * @return ONE row: (n_rows, n_categories, simpson_diversity) */
  def categoricalDiversity(df: DataFrame, catCol: String): DataFrame = {
    val counts = df.select(col(catCol).cast("string").as("c"))
      .groupBy("c").agg(count(lit(1)).as("__n"))
    counts
      .agg(coalesce(sum("__n"), lit(0L)).as("__tot"),
        count(lit(1)).as("__ncat"),
        coalesce(sum(col("__n").cast("decimal(38,0)") * col("__n")),
          lit(0).cast("decimal(38,0)")).as("__ss"))
      .select(
        when(col("__tot") === 0L,
          raise_error(lit("categoricalDiversity: empty input — no mix to measure"))
            .cast("long"))
          .otherwise(col("__tot")).as("n_rows"),
        col("__ncat").as("n_categories"),
        ((col("__tot").cast("decimal(38,0)") * col("__tot") - col("__ss"))
            .cast("double")
          / (col("__tot").cast("decimal(38,0)") * col("__tot")).cast("double"))
          .as("simpson_diversity"))
  }

  /** [[categoricalDiversity]]'s time-series deployment shape — the
    * per-window Simpson diversity of the category mix, the dashboard
    * series that alarms on a window collapsing into a monoculture
    * (one crawl host flooding an hour, one event type drowning a day).
    * Same exact arithmetic per window: integer n² − Σn_c² to one
    * trailing division. Windows only exist where events do, so n ≥ 1
    * per output row — no empty-side regime.
    *
    * Scale shape and STREAMING story are [[graft.operators.Drift.windowedTvDrift]]'s,
    * by construction: the first stage IS the shared
    * `(window_start, c, ca)` window count frame
    * (Drift.windowCategoryCounts == the batch twin of
    * [[graft.streaming.StreamingDemo.tvDriftWindowCounts]]), so the
    * streamed count table collapses through [[diversityCollapse]] to
    * the identical series (spec-pinned) — one watermarked streaming
    * stage feeds BOTH windowed monitors.
    *
    * @return (window_start, n_events, n_categories, simpson_diversity)
    *         per non-empty window */
  def windowedDiversity(events: DataFrame, tsUsCol: String, catCol: String,
                        windowUs: Long): DataFrame =
    diversityCollapse(
      Drift.windowCategoryCounts(events, tsUsCol, catCol, windowUs))

  /** The per-window Simpson reduce over a pre-aggregated
    * `(window_start, c, ca)` count frame — [[windowedDiversity]]'s
    * second stage, public so the streaming window-count table
    * collapses through the identical arithmetic (the
    * [[graft.operators.Drift.tvCollapse]] pattern). */
  def diversityCollapse(winCountsIn: DataFrame): DataFrame =
    winCountsIn
      .select(col("window_start"), col("ca").cast("long").as("__n"))
      .groupBy("window_start")
      .agg(sum("__n").as("__tot"), count(lit(1)).as("__ncat"),
        sum(col("__n").cast("decimal(38,0)") * col("__n")).as("__ss"))
      .select(col("window_start"), col("__tot").as("n_events"),
        col("__ncat").as("n_categories"),
        ((col("__tot").cast("decimal(38,0)") * col("__tot") - col("__ss"))
            .cast("double")
          / (col("__tot").cast("decimal(38,0)") * col("__tot")).cast("double"))
          .as("simpson_diversity"))

  // ── deterministic group interleave (epoch domain mixing) ───────────

  /** Deterministic round-robin interleave across groups — the epoch
    * mixing order: consecutive positions cycle through the groups
    * (domain A's 1st, B's 1st, C's 1st, then every 2nd, …), each
    * group's internal order seeded-shuffled, so any contiguous
    * training window sees every domain at its fair share WITHOUT a
    * runtime sampler. Fully deterministic from (corpus, seed): the
    * within-group order is the [[shuffleOrder]] digest order, the
    * global order is (round, group). The output position is
    * materialized like [[shuffleOrder]]'s — reproducible shard writes,
    * resumable epochs.
    *
    * Scale shape: within-group ranks do NOT use a per-group window
    * (domain counts are small, so group-partitioned windows would
    * funnel a corpus/|groups| sort through single tasks); instead ONE
    * global (group, digest, id) zipWithIndex rank is offset by the
    * broadcast per-group start positions — per-group counts are the
    * only collected state, bounded by |groups| (the operator's
    * contract: groups are domains/sources, not ids). Then a second
    * range shuffle materializes the (round, group) order. Two range
    * shuffles + one |groups|-row agg, no global window, md5 keys keep
    * both level.
    *
    * @return df + `outCol` (1-based LONG interleave position) */
  def interleaveGroups(df: DataFrame, idCol: String, groupCol: String,
                       seed: Long, outCol: String = "interleave_pos",
                       maxGroups: Long = 100000L): DataFrame = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists")
    require(maxGroups >= 1 && maxGroups < Int.MaxValue,
      s"maxGroups in [1, ${Int.MaxValue - 1}], got $maxGroups")
    val d = "__il_d"; val g = "__il_g"; val r = "__il_r"
    require(!df.columns.exists(Set(d, g, r)),
      "__il_* column names are reserved by interleaveGroups")
    val spark = df.sparkSession
    val keyed = df.withColumn(d, seededDigest(idCol, seed))
    // global rank over (group, digest, id) — one range shuffle;
    // persisted: both the offsets agg and the join consume it
    val ranked = graft.CacheScope.track(
      Rank.zipWithIndexRank(keyed, groupCol, Seq(d, idCol), g))
    // per-group start offsets: |groups| rows, broadcast back
    // (null-safe match — a NULL group is a group, not a dropped row).
    // The broadcast is FORCED, so the group cardinality must be
    // domain-scale — guarded loudly (an id-cardinality groupCol would
    // otherwise OOM the driver building the broadcast)
    val starts = graft.CacheScope.track(ranked.groupBy(col(groupCol))
      .agg(min(col(g)).as("__il_start"))
      .withColumnRenamed(groupCol, "__il_gc"))
    val nGroups = starts.limit((maxGroups + 1).toInt).count()
    require(nGroups <= maxGroups,
      s"interleaveGroups: more than $maxGroups distinct '$groupCol' values — " +
        "groups must be domains/sources (broadcast-bounded), not ids")
    val withR = ranked
      .join(broadcast(starts), col(groupCol) <=> col("__il_gc"))
      .withColumn(r, col(g) - col("__il_start") + 1L)
      .drop(g, "__il_start", "__il_gc")
    // materialize the (round, group) order — second range shuffle
    Rank.zipWithIndexRank(withR, r, Seq(groupCol), outCol)
      .drop(d, r)
  }

  // ── boilerplate stripping (cross-document line dedup) ──────────────

  /** Remove the segments that repeat across more than `maxDocFreq`
    * documents — the CCNet/RefinedWeb-style boilerplate pass (headers,
    * cookie banners, nav bars appear verbatim in thousands of pages;
    * real content rarely repeats). Documents are split on `delim`
    * (newline for real corpora; any separator — the gate query uses
    * word granularity because the synthetic docs are single-line),
    * a segment's document frequency is counted over DISTINCT
    * (document, segment) pairs, and segments with `doc_freq >
    * maxDocFreq` are dropped before the document is reassembled in
    * original segment order. Returns
    * `(id, text_clean, n_lines_kept, n_lines_removed)`.
    *
    * Scale shape: the document is split ONCE into a scoped persist
    * shared by the explode and the rebuild; the doc-freq agg is
    * segment-keyed with map-side combine (Zipf skew bounded by
    * partition count, as in [[vocabProfile]]); the frequent-segment
    * set scales with the corpus's LINE VOCABULARY (template-heavy web
    * text can push it past any broadcast budget at 100 TB), so the
    * semi-join carries NO forced broadcast hint — AQE broadcasts it
    * at runtime when it is actually small and shuffles when not, the
    * same no-broadcast-assumption standard as [[Dedup.dedupSpans]].
    * Only boilerplate HITS flow into the doc-keyed removed-position
    * aggregate — boilerplate-scaled, not corpus-scaled — and each
    * document's `__rm` position set is bounded by that document's own
    * line count (a collect_set keyed by doc id can never exceed the
    * doc's segments), so no per-group state grows with the corpus.
    * The text is rebuilt DOC-LOCALLY with the
    * [[Dedup.dedupSpans]] array_except idiom (clean documents rebuild
    * via the left join's null arm; no corpus-wide line shuffle).
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       maxDocFreq: Long, delim: String = "\n"): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    require(delim.nonEmpty, "delim must be non-empty")
    require(!Set("text_clean", "n_lines_kept", "n_lines_removed", "__pos",
      "__line", "__segs", "__rm", "__keep")
      .contains(idCol), s"idCol '$idCol' collides with an output column name")
    // split ONCE: the explode and the rebuild share the scoped
    // persist (previously three parse passes: explode consumed twice
    // unpersisted + a size() re-split for the total)
    val segd = graft.CacheScope.track(df.select(col(idCol),
      split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(delim)).as("__segs")))
    val segs = segd.select(col(idCol),
      posexplode(col("__segs")).as(Seq("__pos", "__line")))
    val frequent = segs.select(col(idCol), col("__line")).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDocFreq).select("__line")
    // only boilerplate hits reach the doc-keyed aggregate — volume
    // scales with the boilerplate rate, not the corpus. NO broadcast
    // hint: `frequent` scales with line vocabulary, so the join
    // strategy is AQE's runtime call (Dedup.dedupSpans standard)
    val removedPerDoc = segs.join(frequent, Seq("__line"), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("__pos")).as("__rm"))
    // doc-local rebuild, the [[Dedup.dedupSpans]] array_except idiom
    val emptyPos = array().cast("array<int>")
    segd.join(removedPerDoc, Seq(idCol), "left")
      .withColumn("__keep", array_except(
        when(size(col("__segs")) === 0, emptyPos)
          .otherwise(sequence(lit(0), size(col("__segs")) - 1)),
        coalesce(col("__rm"), emptyPos)))
      .select(col(idCol),
        array_join(transform(col("__keep"),
          p => element_at(col("__segs"), p + 1)), delim).as("text_clean"),
        size(col("__keep")).cast("long").as("n_lines_kept"),
        (size(col("__segs")) - size(col("__keep"))).cast("long")
          .as("n_lines_removed"))
  }

  // ── benchmark-contamination screening ──────────────────────────────

  /** Flag corpus documents sharing any word `n`-gram with a benchmark
    * probe set (the test-set decontamination join every LLM data
    * pipeline runs; n-gram overlap per GPT-3 appendix C / Dodge et al.
    * 2021). Returns one row per corpus document:
    * `(id, n_overlap, contaminated)` where `n_overlap` counts DISTINCT
    * shared grams.
    *
    * Scale shape: benchmarks are small (thousands of questions), so the
    * probe gram set is distinct-ed and BROADCAST — the corpus side is
    * one explode + one broadcast-hash semi-pass + a groupBy keyed by
    * document id. The corpus is never shuffled by gram, so a stopword
    * gram shared by every document costs map-side lookups, not a hot
    * reduce key.
    */
  def contaminationCheck(corpus: DataFrame, probe: DataFrame,
                         idCol: String, textCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(idCol != "gram" && idCol != "n_overlap" && idCol != "contaminated",
      s"idCol '$idCol' collides with an internal column name")
    def docGrams(df: DataFrame, cols: Column*) = df.select(cols :+
      explode(TextFunctions.wordShingles(coalesce(col(textCol), lit("")), n))
        .as("gram"): _*)
    val probeGrams = docGrams(probe).distinct()
    val hits = docGrams(corpus, col(idCol))
      .join(broadcast(probeGrams), Seq("gram"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated",
        when(col("n_overlap") > 0, lit(1L)).otherwise(lit(0L)))
  }

  // ── corpus-LM rare-token scoring ───────────────────────────────────

  /** Per-document out-of-vocabulary profile against the corpus's own
    * unigram statistics: a token is "rare" when its corpus-wide term
    * frequency is below `minCount`. High `rare_frac` flags the
    * gibberish / OCR-noise / wrong-tokenizer documents a unigram-LM
    * perplexity filter would catch — expressed in exact integer counts
    * (plus one IEEE-exact division), so the score is reproducible
    * bit-for-bit across engines, unlike a float log-prob sum whose
    * value depends on reduction order. Returns
    * `(id, n_tokens, n_rare, rare_frac)`.
    *
    * Scale shape: the vocabulary head (tf ≥ minCount) is what gets
    * probed, NOT the rare tail — by Zipf the head is bounded by
    * `totalTokens / minCount` entries, but that bound GROWS with the
    * corpus unless `minCount` is scaled with it, so the semi-join
    * carries NO forced broadcast hint: AQE broadcasts the head at
    * runtime when it fits and falls back to a shuffle join when it
    * doesn't (the [[Dedup.dedupSpans]] no-broadcast-assumption
    * standard — a Heaps-law set is not a constant). The corpus-side
    * work is one map-side-combinable word agg for the head, then one
    * semi-probe + a document-keyed count — no corpus shuffle by word
    * except the bounded head agg.
    */
  def rareTokenSignals(df: DataFrame, idCol: String, textCol: String,
                       minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(!Set("n_tokens", "n_rare", "rare_frac", "word", "__n_common")
      .contains(idCol), s"idCol '$idCol' collides with an output column name")
    // tokenize ONCE into a scoped persist: the head agg, the
    // semi-probe, and the n_tokens projection previously each re-ran
    // the tokenizer over the corpus (3 full parse passes)
    val tokenized = graft.CacheScope.track(df.select(col(idCol),
      TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("__toks")))
    val toks = tokenized.select(col(idCol), explode(col("__toks")).as("word"))
    val common = toks.groupBy(col("word")).agg(count(lit(1)).as("tf"))
      .where(col("tf") >= minCount).select("word")
    // NO broadcast hint — `common` is Heaps-law corpus-scaled; AQE
    // picks broadcast only when the head actually fits
    val hits = toks.join(common, Seq("word"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n_common"))
    val nRare = col("n_tokens") - coalesce(col("__n_common"), lit(0L))
    tokenized.select(col(idCol), size(col("__toks")).cast("long").as("n_tokens"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), nRare.as("n_rare"),
        coalesce(nRare.cast("double") /
          when(col("n_tokens") === 0, lit(null)).otherwise(col("n_tokens")),
          lit(0.0)).as("rare_frac"))
  }

  // ── temperature-based domain mixing ────────────────────────────────

  /** Sample `n` documents with per-domain budgets ∝ count^α at α = ½ —
    * the temperature-based mixture reweighting of multilingual /
    * multi-domain pretraining (mT5 §3.1, XLM-R, Gopher table A5):
    * α < 1 upweights small domains relative to proportional sampling
    * so the head domain can't drown the tail. α is PINNED at ½
    * because `sqrt` is correctly rounded under IEEE-754 — the budget
    * arithmetic is bit-identical on any engine — while arbitrary
    * `pow(c, α)` differs by ulps across libm implementations, the same
    * hazard that keeps [[LmScore]] off log-perplexity. Budgets are
    * `floor(n·√cᵢ / Σⱼ√cⱼ)` (Σ folded in domain-name order, one
    * rounding per op, replayable), capped at the domain's actual
    * count; selection within a domain takes the first `budget`
    * documents in `(md5(id:salt), id)` order — the deterministic
    * shuffle order of [[shardPack]], stable across engines,
    * partitionings and reruns. Returns `(idCol, domainCol,
    * domain_rank)` for the selected rows.
    *
    * Scale shape: domain counts are a map-side-combinable agg collected
    * to the driver (domains are human-scale — tens, not millions, the
    * [[stratifiedSample]] contract). The per-domain rank does NOT use a
    * domain-partitioned window (one giant domain = one giant window
    * partition, the 100 TB killer): rows range-partition by
    * `(domain, md5, id)` and [[Rank.zipWithIndexRank]] assigns a global
    * index in one pass; subtracting each domain's broadcast offset
    * (cumulative counts of preceding domains, known exactly from the
    * collected agg) turns it into the per-domain rank. One shuffle
    * total, no single-partition stage, no hot key — measured 3× the
    * window spelling at 10M rows with a 90% hot domain even on
    * local[32], where the window's skew is merely a straggler, not an
    * executor OOM (measured 10.3 s vs 30.7 s).
    */
  def temperatureSample(df: DataFrame, idCol: String, domainCol: String,
                        n: Long, salt: String = "graft-temp"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(!Set("domain_rank", "__h", "__gidx").contains(idCol) && idCol != domainCol,
      s"idCol '$idCol' collides with an internal column name")
    val counts = collectDomainCounts(df, domainCol, "temperatureSample")
    val totalW = counts.foldLeft(0.0) { case (acc, (_, c)) =>
      acc + math.sqrt(c.toDouble) }
    val targets = counts.map { case (d, c) =>
      d -> math.min(math.floor(n.toDouble * math.sqrt(c.toDouble) / totalW).toLong, c)
    }.toMap
    val targetExpr = domainCase(domainCol, targets)
    domainRanked(df, idCol, domainCol, salt, counts)
      .where(col("domain_rank") <= targetExpr)
      .select(col(idCol), col(domainCol), col("domain_rank"))
  }

  /** UTF-8 BYTE order — Spark's UTF8String binary comparison and
    * DuckDB's default collation, NOT Scala's UTF-16 code-unit String
    * order. The three disagree for supplementary-plane characters
    * (e.g. emoji vs fullwidth letters), and the samplers' broadcast
    * offsets must be built in exactly the order the range shuffle
    * sorts, or domain ranks silently land in the wrong domain. */
  private[graft] val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    var r = 0
    val n = math.min(x.length, y.length)
    while (r == 0 && i < n) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (r != 0) r else x.length - y.length
  }

  private def collectDomainCounts(df: DataFrame, domainCol: String,
                                  op: String): Seq[(String, Long)] = {
    val rows = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__c")).collect()
    rows.foreach(r => require(!r.isNullAt(0),
      s"$op: NULL '$domainCol' value — filter or fill the domain column first"))
    val counts = rows.map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)(utf8Order).toSeq
    require(counts.nonEmpty, s"$op on an empty corpus")
    counts
  }

  /** Literal CASE chain over the (human-scale) domain set. */
  private def domainCase(domainCol: String, vals: Map[String, Long]): Column =
    vals.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (e, (d, v)) => when(col(domainCol) === d, lit(v)).otherwise(e) }

  /** `(idCol, domainCol, domain_rank)` with the 1-based within-domain
    * rank in deterministic `(md5(id:salt), id)` order — the
    * zipWithIndex-minus-broadcast-offset construction shared by the
    * mixture samplers (see [[temperatureSample]]'s scale note on why
    * this beats a domain-partitioned window). `counts` must be the
    * collected per-domain counts in domain-name order. */
  private def domainRanked(df: DataFrame, idCol: String, domainCol: String,
                           salt: String, counts: Seq[(String, Long)]): DataFrame = {
    // each domain's offset = count-sum of the domains preceding it in
    // name order — the global (domain, md5, id) index minus this offset
    // is exactly the within-domain rank
    val offsets = {
      var acc = 0L
      counts.map { case (d, c) => val o = d -> acc; acc += c; o }.toMap
    }
    val keyed = df.select(col(idCol), col(domainCol))
      .withColumn("__h", md5(concat(col(idCol).cast("string"), lit(":" + salt))))
    Rank.zipWithIndexRank(keyed, domainCol, Seq("__h", idCol), "__gidx")
      .withColumn("domain_rank", col("__gidx") - domainCase(domainCol, offsets))
      .select(col(idCol), col(domainCol), col("domain_rank"))
  }

  /** UniMax domain mixing (Chung, Garcia et al. 2023, "UniMax: Fairer
    * and More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a total budget of `n` documents as UNIFORMLY
    * as possible across domains, capping each domain at `maxEpochs`
    * passes over its data — the allocation that dominates temperature
    * sampling at scale because no tail domain ever repeats more than
    * `maxEpochs` times and no head domain is over-drained. The
    * waterfill processes domains by (cap asc, name asc): each takes
    * `min(cap, remaining_budget div remaining_domains)` — pure LONG
    * arithmetic end to end, so the allocation is bit-exact on any
    * engine and replayed by a recursive CTE in the oracle (integer
    * division remainders flow to the larger domains later in the
    * order; deterministic). A domain's allocation splits into
    * `alloc div count` full epochs for every document plus a partial
    * epoch for the first `alloc mod count` documents in the
    * deterministic `(md5(id:salt), id)` order. Returns one row per
    * emitted copy: `(idCol, domainCol, copy_idx)` (0-based).
    *
    * Scale shape: identical to [[temperatureSample]] — driver-side
    * allocation over the collected domain counts (human-scale), ONE
    * range shuffle for the within-domain rank (no domain-partitioned
    * window), then a shuffle-free literal-CASE replication
    * ([[upsampleByWeight]]'s explode(sequence) spelling).
    */
  def unimaxSample(df: DataFrame, idCol: String, domainCol: String,
                   n: Long, maxEpochs: Long = 4L,
                   salt: String = "graft-unimax"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require(!Set("domain_rank", "copy_idx", "__h", "__gidx").contains(idCol) &&
      idCol != domainCol,
      s"idCol '$idCol' collides with an internal column name")
    val counts = collectDomainCounts(df, domainCol, "unimaxSample")
    // stable sort on cap only: `counts` is already in UTF-8 name order,
    // so ties break exactly like the oracle's ORDER BY cap, source
    val byCap = counts.map { case (d, c) => (d, c, c * maxEpochs) }
      .sortBy(_._3)
    var left = n
    var remaining = byCap.length.toLong
    val alloc = byCap.map { case (d, c, cap) =>
      val a = math.min(cap, left / remaining)
      left -= a; remaining -= 1
      d -> (a / c, a % c) // (full epochs, partial-epoch doc count)
    }.toMap
    val fullExpr = domainCase(domainCol, alloc.map { case (d, (f, _)) => d -> f })
    val partExpr = domainCase(domainCol, alloc.map { case (d, (_, p)) => d -> p })
    val copies = fullExpr +
      when(col("domain_rank") <= partExpr, lit(1L)).otherwise(lit(0L))
    domainRanked(df, idCol, domainCol, salt, counts)
      .withColumn("copy_idx",
        explode(when(copies > 0, sequence(lit(0L), copies - 1))
          .otherwise(array().cast("array<bigint>"))))
      .select(col(idCol), col(domainCol), col("copy_idx"))
  }

  // ── weighted sampling without replacement: priority sampling ──────

  /** Priority sampling (Duffield, Lund & Thorup, JACM 54(6) 2007) —
    * a fixed-size weighted sample WITHOUT replacement whose
    * Horvitz-Thompson estimator `Σ est_weight` is unbiased for the
    * stratum's total weight: each row draws a deterministic uniform
    * `u = (hash32(id:salt)+1) / 2^32 ∈ (0,1]`, gets priority `w/u`,
    * and the k highest priorities per stratum are the sample; the
    * (k+1)-th priority is the stratum threshold `tau`, and every
    * sampled row's weight estimator is `max(w, tau)` (rows with
    * `w ≥ tau` are certainties, estimated by their own weight). The
    * alternatives both lose: A-ES/A-ExpJ weighted reservoirs need
    * `pow`/`log` keys — cross-engine libm ulp hazards (the
    * [[graft.operators.LmScore]] rule) — while priority keys cost ONE
    * IEEE division, bit-replayable by any engine; and Bernoulli
    * weighted sampling can't hit an exact per-stratum k.
    *
    * Scale shape: the uniform is the shared [[saltedHash32]] spelling
    * (pure projection, partitioning-invariant, stable under corpus
    * growth of OTHER strata); per-stratum top-(k+1) goes through a
    * rank window whose `row_number ≤ k+1` filter triggers Spark's
    * WindowGroupLimit rewrite — each map task pre-trims to k+1 rows
    * per stratum, so the exchange carries partitions·(k+1) rows per
    * stratum, never the corpus (the [[Similarity.pqTopK]] argument;
    * a giant stratum is map-side-bounded, unlike the samplers above
    * whose keep-sets are a large FRACTION of the stratum and
    * therefore use the zipWithIndex path instead). `tau` is a second
    * window over the already-trimmed ≤ k+1 rows — constant work.
    *
    * @param strataCol stratify by this column; None = one global sample
    * @return sampled rows: (idCol[, strataCol], weight, priority,
    *         tau, est_weight), ≤ k per stratum (fewer when the
    *         stratum has ≤ k rows — then tau = 0 and est = w exactly)
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String, k: Int,
                     strataCol: Option[String] = None,
                     salt: String = "graft-prio"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val reserved = Set("weight", "priority", "tau", "est_weight", "__rn")
    require(!reserved.contains(idCol) && !strataCol.contains(idCol) &&
      !strataCol.exists(reserved.contains),
      s"idCol '$idCol'/strataCol $strataCol collide with an output column name")
    val stratum = strataCol.map(col).getOrElse(lit(0))
    // u ∈ (0,1]: dyadic (h+1)/2^32 — exact in any IEEE tower; w/u is
    // then ONE division, bit-identical across engines. w must be > 0
    // for the estimator to be meaningful — fail loudly, not silently.
    val u = (saltedHash32(col(idCol), salt) + 1) / lit(4294967296.0)
    val w = col("weight")
    val priority = when(w.isNull || w <= 0, raise_error(concat(
        lit(s"prioritySample: non-positive or NULL weight in '$weightCol' for id "),
        col(idCol).cast("string")))).otherwise(w / u)
    val wRank = Window.partitionBy(stratum)
      .orderBy(col("priority").desc, col(idCol).asc)
    val wTau = Window.partitionBy(stratum)
    val trimmed = df
      .select((col(idCol) +: strataCol.map(col).toSeq) :+
        col(weightCol).cast("double").as("weight"): _*)
      .withColumn("priority", priority)
      .withColumn("__rn", row_number().over(wRank))
      .where(col("__rn") <= k + 1)
    trimmed
      .withColumn("tau", coalesce(
        max(when(col("__rn") === k + 1, col("priority"))).over(wTau), lit(0.0)))
      .where(col("__rn") <= k)
      .withColumn("est_weight", greatest(col("weight"), col("tau")))
      .drop("__rn")
  }

  // ── benchmark-span decontamination ─────────────────────────────────

  /** Excise benchmark-overlapping spans instead of dropping whole
    * documents: every corpus token covered by a word `n`-gram that
    * also appears in the probe (benchmark) set is removed, and the
    * document is rebuilt from the surviving tokens (GPT-3 appendix C
    * removes a window AROUND each collision; the exact-covered-span
    * variant here is the conservative core of that — extend `n` to
    * widen the excision). The rebuild canonicalizes whitespace (single
    * spaces), the same contract as [[dedupLines]]' rebuilt text.
    * Returns `(id, text_clean, n_tokens, n_removed)` — `n_removed`
    * counts removed token POSITIONS, so `n_removed = n_tokens` marks a
    * fully-contaminated document (emitted with empty `text_clean`, not
    * dropped: the caller decides the drop policy).
    *
    * Scale shape: [[contaminationCheck]]'s — the probe gram set is
    * distinct-ed and BROADCAST (benchmarks are thousands of rows), the
    * corpus is tokenized ONCE into a scoped persist shared by the
    * shingle probe and the rebuild, and only HIT positions flow into
    * the doc-keyed covered-set aggregate (uncontaminated documents —
    * the vast majority — never shuffle at all and rebuild via the
    * left join's null arm). The rebuild is doc-local with
    * [[Dedup.dedupSpans]]' array_except idiom: hash-set membership,
    * O(tokens) per document rather than O(tokens × covered).
    */
  def decontaminateSpans(corpus: DataFrame, probe: DataFrame,
                         idCol: String, textCol: String, n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val reserved = Set("text_clean", "n_tokens", "n_removed", "gram",
      "__start", "__p", "__cov", "__toks")
    require(!reserved.contains(idCol) && !reserved.contains(textCol) && idCol != textCol,
      s"idCol '$idCol' / textCol '$textCol' collides with an internal or output column name")
    val probeGrams = probe.select(
        explode(TextFunctions.wordShingles(coalesce(col(textCol), lit("")), n))
          .as("gram")).distinct()
    // tokenize the corpus ONCE: the shingle probe and the rebuild
    // share the scoped persist (previously two full parse passes)
    val tokenized = graft.CacheScope.track(corpus.select(col(idCol),
      TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("__toks")))
    // non-distinct shingles: posexplode's 0-based position IS the
    // gram's start token index (wordShingles would dedup repeats and
    // lose positions)
    val hitStarts = tokenized.select(col(idCol),
        posexplode(Tokenize.wordShingles(col("__toks"), n))
          .as(Seq("__start", "gram")))
      .join(broadcast(probeGrams), Seq("gram"))
    val covered = hitStarts
      .select(col(idCol),
        explode(sequence(col("__start"), col("__start") + lit(n - 1))).as("__p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__cov"))
    // doc-local rebuild, the [[graft.operators.Dedup.dedupSpans]]
    // idiom: array_except over a [0,n) position sequence keeps
    // ascending order with hash-set membership cost — O(tokens), not
    // O(tokens × covered)
    val emptyPos = array().cast("array<int>")
    tokenized
      .join(covered, Seq(idCol), "left")
      .withColumn("__keep", array_except(
        when(size(col("__toks")) === 0, emptyPos)
          .otherwise(sequence(lit(0), size(col("__toks")) - 1)),
        coalesce(col("__cov"), emptyPos)))
      .select(col(idCol),
        array_join(transform(col("__keep"),
          p => element_at(col("__toks"), p + 1)), " ").as("text_clean"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__keep"))).cast("long")
          .as("n_removed"))
  }

  /** Corpus-comparison keyness — which tokens are most over/under-
    * represented in corpus A vs corpus B, ranked by the 2×2 χ²
    * statistic per token (the corpus-linguistics "keyness" table;
    * the drift/contamination report a curation pipeline runs when a
    * new crawl snapshot or domain mix lands). Dunning's log-likelihood
    * is the other standard ranking; χ² is chosen DELIBERATELY because
    * it is +,−,×,÷ on exact counts — no `ln`, whose last-ulp
    * cross-libm drift is the [[LmScore]]/[[Bm25]] hazard — so every
    * score is bit-identical on any engine and the op is hash-gateable.
    *
    * Per token with a = tf in A, b = tf in B, c = totalA − a,
    * d = totalB − b, N = totalA + totalB (all exact longs; doubles
    * only at the end, every product < 2^53 before the final two
    * roundings, parenthesization mirrored textually in the oracle):
    * {{{ chi2 = N·(ad − bc)² / ((a+b)(c+d)·(a+c)(b+d)) }}}
    * `direction` = +1 when the token is over-represented in A
    * (a·totalB > b·totalA — exact long compare), −1 under, 0 exact tie.
    *
    * Scale shape: one map-side-combinable token-count aggregate per
    * corpus (the [[vocabProfile]] shape, minus the per-doc pass), the
    * two 1-row totals cross-joined (no driver scalar), one full-outer
    * equi-join on the token, then a global top-k = orderBy + limit —
    * TakeOrderedAndProject, map-side bounded, so only k rows ever
    * reach the driver side of the sort. Nothing grows with the
    * vocabulary except the one token-keyed shuffle both counts
    * already pay.
    *
    * @return top-`k` of (word, cnt_a, cnt_b, chi2, direction), ordered
    *         (chi2 DESC, word ASC) */
  def corpusKeyness(corpusA: DataFrame, corpusB: DataFrame,
                    textCol: String, k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def counts(df: DataFrame, out: String) = df
      .select(explode(TextFunctions.tokens(coalesce(col(textCol), lit(""))))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as(out))
    val ca = counts(corpusA, "cnt_a")
    val cb = counts(corpusB, "cnt_b")
    val totA = ca.agg(coalesce(sum("cnt_a"), lit(0L)).as("__ta"))
    val totB = cb.agg(coalesce(sum("cnt_b"), lit(0L)).as("__tb"))
    val joined = ca.join(cb, Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .crossJoin(totA).crossJoin(totB)
    joined.select(col("word"), col("cnt_a"), col("cnt_b"),
        // the exact textual arithmetic the oracle mirrors: longs cast
        // to double individually, one subtraction, two final roundings
        expr("""(CAST(__ta + __tb AS DOUBLE) *
                ((CAST(cnt_a AS DOUBLE) * CAST(__tb - cnt_b AS DOUBLE)
                  - CAST(cnt_b AS DOUBLE) * CAST(__ta - cnt_a AS DOUBLE))
                 * (CAST(cnt_a AS DOUBLE) * CAST(__tb - cnt_b AS DOUBLE)
                  - CAST(cnt_b AS DOUBLE) * CAST(__ta - cnt_a AS DOUBLE))))
               / ((CAST(cnt_a + cnt_b AS DOUBLE)
                   * CAST((__ta - cnt_a) + (__tb - cnt_b) AS DOUBLE))
                  * (CAST(__ta AS DOUBLE) * CAST(__tb AS DOUBLE)))""")
          .as("chi2"),
        when(col("cnt_a") * col("__tb") > col("cnt_b") * col("__ta"), 1L)
          .when(col("cnt_a") * col("__tb") < col("cnt_b") * col("__ta"), -1L)
          .otherwise(0L).as("direction"))
      .orderBy(col("chi2").desc, col("word").asc)
      .limit(k)
  }

  /** Per-document top-k TF-IDF terms — keyword extraction (document
    * tagging, index-time term selection, cluster labeling). IDF is
    * [[Bm25]]'s exactness deviation reused: the QUARTER POWER of the
    * odds ratio `(N − df + 0.5)/(df + 0.5)` instead of its ln —
    * `sqrt(sqrt(·))` is correctly rounded by IEEE-754 on every engine,
    * so scores hash-gate where `ln`-based tf-idf drifts by ulps
    * (same monotone rare-term boost, slightly less damped).
    *
    * Scale shape: one (doc, term) count shuffle over the exploded
    * tokens; document frequencies and the document count are two
    * aggregates over that COMPACT frame (persisted once); the per-doc
    * top-k is row_number + `rank <= k` — the WindowGroupLimit rewrite,
    * map-side bounded, partitioned by the document key.
    *
    * @return (idCol, term, tf, df, tfidf, rank), top-`k` per document
    *         ordered (tfidf DESC, term ASC) */
  def topTfidfTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = graft.CacheScope.track(docs
      .select(col(idCol),
        explode(TextFunctions.tokens(coalesce(col(textCol), lit(""))))
          .as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col(idCol)).as("__nd"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term").crossJoin(nDocs)
      .withColumn("tfidf",
        col("tf").cast("double") *
          sqrt(sqrt((col("__nd").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** Collocation extraction — the token pairs that co-occur far more
    * than their margins predict (phrase mining: "New York", "machine
    * learning"; the tokenizer-vocab and stop-phrase feeder). Each
    * adjacent bigram is scored by the 2×2 χ² of observed pair count
    * vs independence of its left/right margins — the same ln-free
    * exactness design as [[corpusKeyness]] (Dunning's LLR and PMI both
    * need ln; χ² is exact-count +,−,×,÷ and therefore hash-gateable).
    * `minCount` is the standard hapax guard: a 1-occurrence pair of
    * 1-occurrence words scores ≈N, which is noise, not signal.
    *
    * Scale shape: one bigram explode into a combinable (w1, w2) count
    * — the only corpus-sized shuffle; margins and the grand total are
    * three aggregates over that COMPACT pair frame (persisted once for
    * its four consumers), joined back equi-keyed; top-k is orderBy +
    * limit (TakeOrderedAndProject). χ² inputs stay under 2^53 like
    * keyness, so every double op is identically rounded cross-engine.
    *
    * @return top-`k` of (w1, w2, n_pair, n_left, n_right, chi2),
    *         ordered (chi2 DESC, w1 ASC, w2 ASC) */
  def collocations(docs: DataFrame, textCol: String, k: Int = 100,
                   minCount: Long = 5L): DataFrame = {
    require(k >= 1 && minCount >= 1, s"k and minCount must be >= 1")
    val bg = docs
      .select(TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("__toks"))
      .where(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__toks) - 1), i -> struct(__toks[i-1] AS w1, __toks[i] AS w2))"))
        .as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val pc = graft.CacheScope.track(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair")))
    val lm = pc.groupBy("w1").agg(sum("n_pair").as("n_left"))
    val rm = pc.groupBy("w2").agg(sum("n_pair").as("n_right"))
    val nn = pc.agg(coalesce(sum("n_pair"), lit(0L)).as("__n"))
    pc.where(col("n_pair") >= minCount)
      .join(lm, "w1").join(rm, "w2").crossJoin(nn)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_left"),
        col("n_right"),
        expr("""(CAST(__n AS DOUBLE) *
                ((CAST(n_pair AS DOUBLE)
                   * CAST((__n - n_left - n_right) + n_pair AS DOUBLE)
                  - CAST(n_left - n_pair AS DOUBLE)
                   * CAST(n_right - n_pair AS DOUBLE))
                 * (CAST(n_pair AS DOUBLE)
                   * CAST((__n - n_left - n_right) + n_pair AS DOUBLE)
                  - CAST(n_left - n_pair AS DOUBLE)
                   * CAST(n_right - n_pair AS DOUBLE))))
               / ((CAST(n_left AS DOUBLE) * CAST(__n - n_left AS DOUBLE))
                  * (CAST(n_right AS DOUBLE) * CAST(__n - n_right AS DOUBLE)))""")
          .as("chi2"))
      .orderBy(col("chi2").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }
}
