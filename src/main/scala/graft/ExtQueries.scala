package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query._
import graft.functions.{TextFunctions, TextNormalize}
import graft.operators.{Anomaly, AsofJoin, Bm25, BpeTokenizer, CorpusPipeline, CurationRules, ChangeApply, Dedup, Drift, Dsir, Funnel, FuzzyJoin, GraphComponents, HeavyHitters, IncrementalAgg, Intervals, Layout, LmScore, MediaCodecs, Multimodal, PageRank, PipelineOps, Privacy, QualityModel, Quantize, RangeJoin, Retention, Similarity}
import graft.sources.Tables
import graft.streaming.StreamingDemo

/** Declared queries for the training-data-pipeline extensions: text
  * analysis, dedup family, similarity search, multimodal plumbing,
  * and the batch twin of the streaming window agg.
  *
  * Near-dup queries build a derived corpus (each document unioned with
  * a truncated copy of itself under id+1_000_000) so candidate
  * detection has deterministic known positives regardless of how
  * similar the synthetic documents happen to be.
  */
object ExtQueries {

  private val ID_OFFSET = 1000000L

  /** Disjoint-node-space offset for the graph fixtures (supplier ids
    * shifted into their own space above every customer id). A SEPARATE
    * constant from ID_OFFSET: c_custkey grows with scale factor
    * (150k·SF — it passes 1M around SF 7, where the old shared 1M
    * offset would silently merge customer and supplier nodes), so the
    * graph offset is 2^40 ≈ 1.1e12 — above custkey at any SF this
    * engine targets (100 TB ≈ SF 100k → 1.5e10) while dst = suppkey +
    * 2^40 stays far from long overflow. Mirrored verbatim in both
    * graph oracles. */
  private val GRAPH_ID_OFFSET = 1L << 40

  /** 24 hours in microseconds — the q_events_range_join window span. */
  private val DAY_US = 86400000000L

  /** Raw-nanos → microseconds, TRUNCATING toward zero — the ONE
    * spelling every `eventsRawNanos` consumer whose oracle goes
    * through DuckDB's µs-precision parquet read must use, with the
    * semantics pinned EMPIRICALLY (BASELINE.md, round 15): DuckDB
    * 1.0.0 reads TIMESTAMP(NANOS) parquet by TRUNCATING the nanos
    * toward zero to µs (pyarrow fixture: raw −1500 ns → −1 µs,
    * −999 ns → 0, −2001 ns → −2), so Spark's integer `div` — which
    * also truncates — is the exact mirror. A floor spelling
    * (`(ts − pmod(ts,1000)) div 1000`) would land one µs EARLY for
    * pre-1970 non-µs-aligned nanos; round 15 briefly shipped that
    * respelling on an advisory premise that DuckDB floors, then
    * reverted it when the probe showed truncation. (This is a
    * DIFFERENT seam from µs→window bucketing, where both engines'
    * oracles deliberately floor via the positive-mod spelling — the
    * r14 fix — because calendar buckets must floor; the ns→µs READ is
    * a precision cast, and DuckDB casts by truncation.) Benign either
    * way on the µs-aligned fixture (TESTDATA ns = µs·1000). */
  private val NS_TO_US = "ts div 1000"

  /** q_text_normalize dirty fixture prefix: every pinned mojibake
    * entry (built FROM the map, so a future entry is exercised
    * automatically), an NFC-composable sequence (e + U+0301), a
    * control byte, tab runs, NBSP, a zero-width space, and a BOM. */
  private val DIRTY_PREFIX: String =
    "  " + TextNormalize.mojibake.map(_._1).mkString(" ") +
      " e\u0301 a\u0001b\t\t x\u00A0y\u200Bz\uFEFF "

  /** Line-structured corpus fixture for the Gopher/C4 rule gates: the
    * synthetic documents are single-line word soup (no '\n', no
    * punctuation), so the line-level rules would be degenerate on the
    * raw table. The fixture deterministically rebuilds each document
    * as 10-word lines and decorates line j of doc d by (d + j) mod
    * classes — bullets, ellipses, a javascript-terminated line, a
    * fixed duplicate line (which also carries the 'the/of/that'
    * stop-words and terminal '.'), a plain terminal-punctuation line —
    * plus rare doc-level '{' / "lorem ipsum" tails. The oracle SQL
    * rebuilds the identical fixture (same CASE order, same integer
    * arithmetic), so the whole rule surface is value-gated; same
    * pattern as q_pii_redact's injected emails.
    */
  private def lineFixture(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir).select(col("doc_id"), col("text"))
    // NULL text ≡ '' in the fixture: without the coalesce a NULL doc's
    // chunk lines NULL-propagate through concat and are silently
    // DROPPED by array_join's null-skip while '' docs keep their
    // decorated lines — and the SQL twin (which can't reproduce that
    // null-skip) would diverge on every token-less document
    val ws = TextFunctions.tokens(coalesce(col("text"), lit("")))
    val lines = transform(sequence(lit(1), greatest(size(ws), lit(1)), lit(10)), i => {
      val j = ((i - 1) / 10).cast("long") // nonneg: truncation = floor
      val chunk = array_join(slice(ws, i, lit(10)), " ")
      val k = col("doc_id") + j
      when(k % 5 === 0, concat(lit("- "), chunk))
        .when(k % 7 === 0, concat(chunk, lit("...")))
        .when(k % 7 === 3, concat(chunk, lit(" javascript.")))
        .when(k % 4 === 0, lit("the dup line of that corpus."))
        .when(k % 4 === 2, concat(chunk, lit(".")))
        .otherwise(chunk)
    })
    d.select(col("doc_id"),
      concat(array_join(lines, "\n"),
        when(col("doc_id") % 31 === 0, lit("\ntail {"))
          .when(col("doc_id") % 37 === 0, lit("\nlorem ipsum"))
          .otherwise(lit(""))).as("text"))
  }

  /** The lineFixture as a DuckDB CTE body (view name `fx`), shared by
    * the q_gopher_quality and q_c4_clean oracles. */
  private val lineFixtureSql: String =
    """fx AS (
      |  SELECT doc_id,
      |    array_to_string([
      |      CASE WHEN (doc_id + (i-1)//10) % 5 = 0 THEN '- ' || COALESCE(array_to_string(ws[i:i+9], ' '), '')
      |           WHEN (doc_id + (i-1)//10) % 7 = 0 THEN COALESCE(array_to_string(ws[i:i+9], ' '), '') || '...'
      |           WHEN (doc_id + (i-1)//10) % 7 = 3 THEN COALESCE(array_to_string(ws[i:i+9], ' '), '') || ' javascript.'
      |           WHEN (doc_id + (i-1)//10) % 4 = 0 THEN 'the dup line of that corpus.'
      |           WHEN (doc_id + (i-1)//10) % 4 = 2 THEN COALESCE(array_to_string(ws[i:i+9], ' '), '') || '.'
      |           ELSE COALESCE(array_to_string(ws[i:i+9], ' '), '') END
      |      FOR i IN generate_series(1, greatest(len(ws), 1), 10)], chr(10)) ||
      |    CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'tail {'
      |         WHEN doc_id % 37 = 0 THEN chr(10) || 'lorem ipsum'
      |         ELSE '' END AS text
      |  FROM (SELECT doc_id, regexp_extract_all(COALESCE(text, ''), '\S+') AS ws
      |        FROM documents))""".stripMargin

  /** C4 stage CTEs over `(doc_id, text)` view `src`: emits `${p}c4` =
    * (doc_id, n_lines, n_lines_kept, doc_kept, clean_text). Shared by
    * the standalone q_c4_clean oracle and the composed q_corpus_curate
    * chain so the two replays cannot drift. list_filter preserves
    * order, so the rejoined clean_text matches Spark's kernel rebuild. */
  private def c4SqlChain(src: String, p: String,
                         minWordsPerLine: Int = 3, minLinesKept: Int = 2): String =
    s"""${p}ct AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM $src),
       |${p}ck AS (SELECT doc_id, text, lines,
       |    list_filter(lines, l ->
       |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
       |      AND len(regexp_extract_all(l, '\\S+')) >= $minWordsPerLine
       |      AND NOT contains(lower(l), 'javascript')) AS kept
       |  FROM ${p}ct),
       |${p}c4 AS (SELECT doc_id,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_lines_kept,
       |    CAST(CASE WHEN contains(lower(text), 'lorem ipsum') OR contains(text, '{')
       |      OR len(kept) < $minLinesKept THEN 0 ELSE 1 END AS BIGINT) AS doc_kept,
       |    CASE WHEN contains(lower(text), 'lorem ipsum') OR contains(text, '{')
       |      OR len(kept) < $minLinesKept THEN '' ELSE array_to_string(kept, chr(10)) END AS clean_text
       |  FROM ${p}ck)""".stripMargin

  /** Gopher stage CTEs over `(doc_id, text)` view `src`: emits `${p}g`
    * with every signal column + gopher_pass. Same sharing contract as
    * [[c4SqlChain]]. Every ratio is one double division of two exact
    * integers; list_distinct's order/NULL quirks are harmless (only
    * its length and char sum are used, lines are never NULL);
    * COALESCE guards the empty-list list_sum → NULL trap. */
  private def gopherSqlChain(src: String, p: String, minWords: Long): String =
    s"""${p}gt AS (SELECT doc_id, text,
       |    regexp_extract_all(text, '\\S+') AS toks,
       |    regexp_extract_all(lower(text), '\\S+') AS ltoks,
       |    string_split(text, chr(10)) AS lines
       |  FROM $src),
       |${p}gm AS (SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    COALESCE(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))), 0) AS tok_chars,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
       |      + (length(text) - length(replace(text, '...', ''))) // 3
       |      + (length(text) - length(replace(text, '…', ''))) AS symbols,
       |    CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS bullet_lines,
       |    CAST(len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS BIGINT) AS ellipsis_lines,
       |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(ltoks, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS stopword_count,
       |    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS dup_lines,
       |    COALESCE(list_sum(list_transform(lines, l -> CAST(length(l) AS BIGINT))), 0) AS line_chars,
       |    COALESCE(list_sum(list_transform(list_distinct(lines), l -> CAST(length(l) AS BIGINT))), 0) AS dline_chars
       |  FROM ${p}gt),
       |${p}gr AS (SELECT doc_id, n_words,
       |    COALESCE(CAST(tok_chars AS DOUBLE) / CASE WHEN n_words = 0 THEN NULL ELSE n_words END, 0.0) AS mean_word_len,
       |    COALESCE(CAST(symbols AS DOUBLE) / CASE WHEN n_words = 0 THEN NULL ELSE n_words END, 0.0) AS symbol_word_ratio,
       |    COALESCE(CAST(bullet_lines AS DOUBLE) / CASE WHEN n_lines = 0 THEN NULL ELSE n_lines END, 0.0) AS bullet_line_frac,
       |    COALESCE(CAST(ellipsis_lines AS DOUBLE) / CASE WHEN n_lines = 0 THEN NULL ELSE n_lines END, 0.0) AS ellipsis_line_frac,
       |    COALESCE(CAST(alpha_words AS DOUBLE) / CASE WHEN n_words = 0 THEN NULL ELSE n_words END, 0.0) AS alpha_word_frac,
       |    stopword_count,
       |    COALESCE(CAST(dup_lines AS DOUBLE) / CASE WHEN n_lines = 0 THEN NULL ELSE n_lines END, 0.0) AS dup_line_frac,
       |    COALESCE(CAST(line_chars - dline_chars AS DOUBLE) / CASE WHEN line_chars = 0 THEN NULL ELSE line_chars END, 0.0) AS dup_line_char_frac
       |  FROM ${p}gm),
       |${p}g AS (SELECT *,
       |    CAST(CASE WHEN n_words BETWEEN $minWords AND 100000
       |      AND mean_word_len BETWEEN 3.0 AND 10.0
       |      AND symbol_word_ratio <= 0.1
       |      AND bullet_line_frac <= 0.9
       |      AND ellipsis_line_frac <= 0.3
       |      AND alpha_word_frac >= 0.8
       |      AND stopword_count >= 2
       |      AND dup_line_frac <= 0.3
       |      AND dup_line_char_frac <= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
       |  FROM ${p}gr)""".stripMargin

  /** documents ∪ near-duplicate copies (first ~80% of tokens). The
    * truncated twin coalesces NULL text to '' so a token-less document
    * gets an ''-text twin on both engines (Spark's array_join(NULL)
    * is NULL but DuckDB's array_to_string([]) is ALSO NULL — only the
    * shared ''-convention keeps the twins identical). */
  /** The planted-duplicate fixture every near-dup gate query runs on
    * (documents + 80%-token truncated twins at id+ID_OFFSET). Shared
    * with the measurement probes (StreamDedupProbe) so their recorded
    * equivalence evidence is over the SAME corpus the oracle gates —
    * a probe with its own hand-rolled copy would silently diverge if
    * this convention ever changed. */
  private[graft] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsSpread(s, dir).select(col("doc_id").as("id"), col("text"))
    val toks = TextFunctions.tokens(coalesce(col("text"), lit("")))
    val truncated = d.select((col("id") + ID_OFFSET).as("id"),
      array_join(slice(toks, lit(1),
        greatest((size(toks) * 4) / 5, lit(1)).cast("int")), " ").as("text"))
    d.unionByName(truncated)
  }

  /** The full-corpus nlist=16/seed=9 IVF codebook every shared-corpus
    * ANN gate query consumes (ivf top-k, distributed ivf, kNN graph,
    * IVF-PQ coarse stage, embed clustering), memoized per (dir) via
    * [[graft.CodebookCache]] — one fit per Verify session. The key
    * encodes dir + slice + params, the whole fit identity. */
  private def embCodebook16(s: SparkSession, dir: String): Similarity.Codebook =
    graft.CodebookCache.getOrFit(s"$dir|embeddings|nlist=16|seed=9") {
      Similarity.fitIvfCodebook(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, nlist = 16)
    }

  /** The parity-sliced nlist=8/seed=9 codebooks the three bitext gate
    * queries share (forward fits on the odd corpus; mutual/two-sided
    * need both directions) — two fits per Verify session instead of
    * five. */
  private def embCodebookParity8(s: SparkSession, dir: String,
                                 parity: Int): Similarity.Codebook =
    graft.CodebookCache.getOrFit(s"$dir|embeddings%2=$parity|nlist=8|seed=9") {
      Similarity.fitIvfCodebook(
        Tables.embeddings(s, dir).where(col("vec_id") % 2 === parity),
        "vec_id", "embedding", dim = 64, nlist = 8)
    }

  private val stop = "'the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','it','that','this','be'"

  // ── DuckDB fragments mirroring Similarity's expression trees ─────
  // Ordered left folds match Spark's aggregate/zip_with bit-exactly.
  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
       |  (acc, v) -> acc + v)""".stripMargin
  private def sqlNorm(a: String): String =
    s"""sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))""".stripMargin
  /** Cosine with [[graft.functions.CosineSimExpr]]'s zero-norm arm:
    * a zero vector scores 0.0 against everything (NOT 0/0 = NaN,
    * whose ordering/comparison rules differ across engines). */
  private def sqlCosine(a: String, b: String): String =
    s"""CASE WHEN ${sqlNorm(a)} = 0 OR ${sqlNorm(b)} = 0 THEN 0.0
       |  ELSE ${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)}) END""".stripMargin

  /** The md5-derived ±1 hyperplanes of [[Similarity.withLshBands]]
    * (seed 20220901, 32 planes × 64 dims), recomputed in SQL: the
    * sign is the parity of the first hex digit of md5("plane:seed:p:d"). */
  private val sqlPlanes: String =
    """pl AS (
      |  SELECT list(list_transform(generate_series(0,63), d ->
      |    CASE WHEN (('0x'||substr(md5('plane:20220901:'||p||':'||d),1,1))::BIGINT & 1) = 1
      |      THEN 1.0 ELSE -1.0 END) ORDER BY p) AS planes
      |  FROM (SELECT unnest(generate_series(0,31)) AS p))""".stripMargin

  /** The n-gram inverted-index pipeline as shared CTEs (corpus →
    * shingles → DF-filtered postings → pair intersections), reused by
    * the jaccard-pairs oracle and the survivor-components oracle. */
  private val ngramCtes: String =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS id,
      |    COALESCE(array_to_string((regexp_extract_all(COALESCE(text, ''), '\S+'))
      |      [1:greatest((len(regexp_extract_all(COALESCE(text, ''), '\S+'))*4)//5, 1)], ' '), '') AS text
      |  FROM documents),
      |sh AS (
      |  SELECT id, list_distinct([array_to_string(toks[i:i+2], ' ')
      |            for i in generate_series(1, len(toks)-2)]) AS shingles
      |  FROM (SELECT id, regexp_extract_all(text, '\S+') AS toks FROM corpus)),
      |grams AS (SELECT id, unnest(shingles) AS gram FROM sh),
      |rare AS (SELECT gram FROM grams GROUP BY gram
      |         HAVING COUNT(*) <= 10000 AND COUNT(*) >= 2),
      |filtered AS (SELECT g.id, g.gram FROM grams g JOIN rare USING (gram)),
      |sizes AS (SELECT id, COUNT(*) AS sz FROM grams GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
      |  FROM filtered a JOIN filtered b ON a.gram = b.gram AND a.id < b.id
      |  GROUP BY a.id, b.id)""".stripMargin

  /** Band signatures (4 bands × 8 sign bits) for an (id, embedding) source. */
  private def sqlSigs(src: String): String =
    s"""sigs AS (
       |  SELECT id, embedding,
       |    list_transform(generate_series(0,3), b ->
       |      CAST(list_sum(list_transform(generate_series(0,7), r ->
       |        CASE WHEN ${sqlDot("embedding", "planes[b*8+r+1]")} >= 0
       |          THEN (1::BIGINT << r) ELSE 0::BIGINT END)) AS BIGINT)) AS bands
       |  FROM $src, pl)""".stripMargin

  /** q_sim_ivf_topk oracle: bit-exact DuckDB replay of the IVF
    * codebook fit + probe. The codebook is [[Similarity.ivfTopK]]'s
    * deterministic Lloyd (md5-digest sample order, init = first 16,
    * 10 fixed iterations — see [[graft.operators.CoreT.lloyd]]);
    * every float op is an ordered left fold with a 0.0 seed, which
    * matches Scala's `s += diff*diff` accumulation bit-exactly.
    *
    * The sp CTE caps the digest-ordered fit sample at 100000 rows to
    * mirror ivfTopK's `fitCap` — without the slice the oracle would
    * silently fit on the full corpus and diverge past 100k vectors.
    * The `vs[1:nlist]` init additionally assumes the corpus has at
    * least nlist=16 vectors (Spark uses min(nlist, max(2, n))); the
    * gate corpus has 500, so the branch never diverges there. */
  private def sqlDist(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
       |  z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)""".stripMargin

  /** The plain-corpus `emb` CTE for [[ivfFitCtes]] — q_dedup_semantic
    * swaps in a duplicate-augmented corpus instead.
    *
    * MATERIALIZED (here and on every multi-consumer fit CTE below):
    * DuckDB inlines plain CTEs per reference, so the recursive Lloyd
    * fit chain re-ran once per consumer — q_sim_ivfpq_topk replayed
    * its codebook fits ~5× for 21.7-27s of gate time; with the hints
    * it runs once, 0.94s, value-identical (round-8 gate-budget work;
    * the BPE oracle already used the same hint for the same reason). */
  private def plainEmbCte: String =
    """emb AS MATERIALIZED (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings)""".stripMargin

  /** Shared fit-and-assign CTE chain for the IVF family oracles: the
    * deterministic Lloyd codebook (digest-sample order, init = first
    * `nlist`, `iters` fixed rounds) and the per-vector nearest-list
    * assignment, ending at `bucketed(id, v, lst, d2)`. */
  private def ivfFitCtes(nlist: Int, iters: Int,
                         embCte: String = plainEmbCte,
                         p: String = ""): String =
    s"""$embCte,
       |${p}sp AS MATERIALIZED (SELECT (list(v ORDER BY md5(id || ':9')))[1:100000] AS vs,
       |              LEAST(COUNT(*), 100000) AS m FROM ${p}emb),
       |${p}it(i, cs) AS (
       |  SELECT 0, vs[1:$nlist] FROM ${p}sp
       |  UNION ALL
       |  SELECT i + 1,
       |    [CASE WHEN len(ixs[c]) = 0 THEN cs[c]
       |          ELSE list_transform(
       |                 list_reduce(list_prepend(list_transform(generate_series(1, 64), z -> 0.0),
       |                                          [vs[j] FOR j IN ixs[c]]),
       |                             (a, v) -> list_transform(list_zip(a, v), z -> z[1] + z[2])),
       |                 s -> s / len(ixs[c])) END
       |     FOR c IN generate_series(1, $nlist)]
       |  FROM (SELECT i, cs, vs,
       |               [[j FOR j IN generate_series(1, m) IF asg[j] = c]
       |                FOR c IN generate_series(1, $nlist)] AS ixs
       |        FROM (SELECT i, cs, vs, m,
       |                     list_transform(generate_series(1, m), j ->
       |                       list_position(list_transform(cs, c -> ${sqlDist("vs[j]", "c")}),
       |                                     list_min(list_transform(cs, c -> ${sqlDist("vs[j]", "c")})))) AS asg
       |              FROM ${p}it, ${p}sp WHERE i < $iters))),
       |${p}fin AS MATERIALIZED (SELECT cs FROM ${p}it WHERE i = $iters),
       |${p}bucketed AS MATERIALIZED (
       |  SELECT id, v,
       |    CAST(list_position(list_transform(cs, c -> ${sqlDist("v", "c")}),
       |                       list_min(list_transform(cs, c -> ${sqlDist("v", "c")}))) - 1 AS INT) AS lst,
       |    list_min(list_transform(cs, c -> ${sqlDist("v", "c")})) AS d2
       |  FROM ${p}emb, ${p}fin)""".stripMargin

  /** q_embed_cluster oracle: the shared fit/assign chain, projected. */
  /** The q_corpus_clean WITH-body (corpus fixture through the `losers`
    * CTE), shared by q_corpus_clean and q_corpus_to_shards so the two
    * oracles can never drift. Ends with `gated` (survivor candidates +
    * quality/lang) and `losers` (near-dup non-keepers). */
  /** The duplicate-augmented corpus fixture ([[nearDupCorpus]] in SQL):
    * documents ∪ first-~80%-of-tokens truncated copies. Shared by the
    * corpus-clean chain and the span-dedup oracle. */
  private def corpusFixtureCte: String =
    s"""corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS id,
      |    COALESCE(array_to_string((regexp_extract_all(COALESCE(text, ''), '\\S+'))
      |      [1:greatest((len(regexp_extract_all(COALESCE(text, ''), '\\S+'))*4)//5, 1)], ' '), '') AS text
      |  FROM documents)""".stripMargin

  private def corpusCleanCtes: String =
    s"""$corpusFixtureCte,
      |fpt AS (SELECT id, text,
      |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM corpus),
      |keepex AS (SELECT MIN(id) AS id FROM fpt GROUP BY fp),
      |exact AS (SELECT f.id, f.text FROM fpt f JOIN keepex k USING (id)),
      |tq AS (SELECT id, text,
      |  regexp_extract_all(lower(text), '\\S+') AS toks,
      |  len(regexp_extract_all(text, '\\S+')) AS ntok FROM exact),
      |scoredq AS (SELECT id, text, toks,
      |  (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END * 0.2)
      |  + (CASE WHEN COALESCE(CAST(list_sum(list_transform(regexp_extract_all(text, '\\S+'), x -> length(x))) AS DOUBLE)
      |       / CASE WHEN ntok = 0 THEN NULL ELSE ntok END, 0.0) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END * 0.2)
      |  + (COALESCE(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |       / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END, 0.0) * 0.3)
      |  + (LEAST(COALESCE(CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE)
      |       / CASE WHEN ntok = 0 THEN NULL ELSE ntok END, 0.0) * 5.0, 1.0) * 0.2)
      |  + ((1.0 - COALESCE(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |       / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END, 0.0)) * 0.1) AS quality,
      |  CASE WHEN len(toks) = 0 THEN NULL ELSE CAST(len(toks) AS DOUBLE) END AS total
      |  FROM tq),
      |langed AS (SELECT id, text, quality,
      |  list_sort([
      |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
      |     ('the','and','of','to','in','is','that','it','was','for','with','are','this','have','not'))) AS DOUBLE) / total, 0.0), lang := 'en'),
      |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
      |     ('der','die','das','und','ist','nicht','ein','eine','mit','von','auf','für','sich','dass','werden'))) AS DOUBLE) / total, 0.0), lang := 'de'),
      |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
      |     ('le','la','les','de','des','et','est','une','dans','que','pour','qui','pas','sur','avec'))) AS DOUBLE) / total, 0.0), lang := 'fr'),
      |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
      |     ('el','la','los','las','de','que','y','en','un','una','es','por','con','para','su'))) AS DOUBLE) / total, 0.0), lang := 'es')
      |  ])[-1] AS best FROM scoredq),
      |gated AS (SELECT id, text, quality,
      |  CASE WHEN COALESCE(CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
      |         / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END, 0.0) > 0.3
      |       THEN 'zh'
      |       WHEN best.score >= 0.05 THEN best.lang
      |       ELSE 'und' END AS lang
      |  FROM langed WHERE quality >= 0.3),
      |sh AS (
      |  SELECT id, list_distinct([array_to_string(toks2[i:i+2], ' ')
      |            for i in generate_series(1, len(toks2)-2)]) AS shingles
      |  FROM (SELECT id, regexp_extract_all(text, '\\S+') AS toks2 FROM gated)),
      |ab AS (SELECT id, ('0x'||substr(md5(gram),1,7))::BIGINT AS a,
      |              (('0x'||substr(md5(gram),8,7))::BIGINT | 1) AS b
      |       FROM (SELECT id, unnest(shingles) AS gram FROM sh)),
      |abl AS (SELECT id, list([a, b]) AS abs_ FROM ab GROUP BY id),
      |sigs AS (SELECT id, list_transform(generate_series(0,31), i ->
      |           list_min(list_transform(abs_, p -> (p[1] + i*p[2]) % 2147483647))) AS sig
      |         FROM abl),
      |bucketed AS (SELECT id, sig, band, sig[band*4+1 : band*4+4] AS bucket
      |             FROM (SELECT id, sig, unnest(generate_series(0,7)) AS band FROM sigs)
      |             QUALIFY COUNT(*) OVER (PARTITION BY band, sig[band*4+1 : band*4+4]) <= 100000),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      |         FROM bucketed a JOIN bucketed b
      |         ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
      |pairs AS (SELECT id_a, id_b FROM (
      |  SELECT id_a, id_b,
      |    CAST(CAST(list_sum(list_transform(list_zip(sig_a, sig_b),
      |      z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE) / 32
      |    AS est_jaccard FROM cand) t
      |  WHERE est_jaccard >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
      |losers AS (SELECT id FROM (
      |  SELECT id, LEAST(id, MIN(r)) AS keep_id FROM reach GROUP BY id)
      |  WHERE id <> keep_id)""".stripMargin

  private def clusterOracle: String =
    s"""WITH RECURSIVE
       |${ivfFitCtes(16, 10)}
       |SELECT id AS vec_id, CAST(lst AS BIGINT) AS cluster_id, d2 AS dist2
       |FROM bucketed""".stripMargin

  /** q_dedup_semantic oracle: the same fit/assign chain on the
    * duplicate-augmented corpus, pairwise cosine within each cluster,
    * then the q_dedup_survivors transitive-closure CTE. */
  private def semanticDedupOracle: String =
    s"""WITH RECURSIVE
       |${ivfFitCtes(16, 10,
          """emb AS MATERIALIZED (SELECT vec_id AS id,
            |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |        FROM embeddings
            |        UNION ALL
            |        SELECT vec_id + 1000000 AS id,
            |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            |        FROM embeddings)""".stripMargin)},
       |bb AS (SELECT id, v, lst FROM bucketed
       |       QUALIFY COUNT(*) OVER (PARTITION BY lst) <= 100000),
       |pr AS (SELECT a.id AS id_a, b.id AS id_b,
       |         ${sqlCosine("a.v", "b.v")} AS cosine
       |       FROM bb a JOIN bb b ON a.lst = b.lst AND a.id < b.id),
       |j AS (SELECT id_a, id_b FROM pr WHERE cosine >= 0.99),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM j
       |          UNION ALL SELECT id_b, id_a FROM j),
       |reach(id, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
       |SELECT id, LEAST(id, MIN(r)) AS keep_id FROM reach GROUP BY id""".stripMargin

  /** q_kmeans_refine oracle: the [[ivfFitCtes]] sample-fit replay as
    * the init, then two unrolled FULL-corpus Lloyd refinement stages
    * mirroring [[graft.operators.Similarity.refineCodebook]]: per
    * (cluster, dim) the 2⁻⁴⁰ pinned component sums are plain BIGINT
    * SUMs here (order-free integer addition = Spark's split-long
    * reassembly), each centroid mean takes exactly two double
    * roundings (HUGEINT→DOUBLE cast, ÷count after the exact ÷2⁴⁰),
    * and clusters that lose every member COALESCE back to their
    * previous centroid. */
  private def kmeansRefineOracle: String = {
    val (nlist, dim) = (16, 64)
    def refineStage(src: String, prevCs: String, out: String): String =
      s"""r$out AS (SELECT b.cl, u.j,
         |    SUM(CAST(floor(b.v[u.j] * 1099511627776.0) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM $src b, (SELECT unnest(generate_series(1, $dim)) AS j) u
         |  GROUP BY 1, 2),
         |a$out AS (SELECT cl, list(CAST(s AS DOUBLE) / 1099511627776.0 / n ORDER BY j) AS ctr
         |  FROM r$out GROUP BY cl),
         |m$out AS (SELECT map(list(cl), list(ctr)) AS m FROM a$out),
         |c$out AS (SELECT [COALESCE(map_extract(m$out.m, c - 1)[1], p.cs[c])
         |    FOR c IN generate_series(1, $nlist)] AS cs
         |  FROM $prevCs p, m$out)""".stripMargin
    def assign(csSrc: String, out: String): String =
      s"""$out AS (SELECT e.v,
         |    CAST(list_position(list_transform(p.cs, ct -> ${sqlDist("e.v", "ct")}),
         |                       list_min(list_transform(p.cs, ct -> ${sqlDist("e.v", "ct")}))) - 1 AS INT) AS cl
         |  FROM emb e, $csSrc p)""".stripMargin
    s"""WITH RECURSIVE
       |${ivfFitCtes(nlist, 10)},
       |b1 AS (SELECT v, CAST(lst AS INT) AS cl FROM bucketed),
       |${refineStage("b1", "fin", "1")},
       |${assign("c1", "b2")},
       |${refineStage("b2", "c1", "2")}
       |SELECT cx.c - 1 AS cluster_id, dx.j - 1 AS dim, c2.cs[cx.c][dx.j] AS center
       |FROM c2,
       |  (SELECT unnest(generate_series(1, $nlist)) AS c) cx,
       |  (SELECT unnest(generate_series(1, $dim)) AS j) dx""".stripMargin
  }

  private def ivfOracle: String = ivfOracleFor("e.id < 5")

  /** q_sim_ivf_distributed oracle: the IDENTICAL replay with the query
    * predicate widened to half the corpus — the distributed probe join
    * is value-identical to the driver path by construction (same fit,
    * same (dist, cidx) probe order, same rank cut), so only the query
    * set differs. */
  private def ivfDistributedOracle: String = ivfOracleFor("e.id % 2 = 0")

  private def ivfOracleFor(queryPred: String): String = {
    val (nlist, nprobe, k, iters) = (16, 4, 5, 10)
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
         |  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (x, y) -> x + y)""".stripMargin
    def dist = sqlDist _
    def nrm(a: String) = s"sqrt(${dot(a, a)})"
    s"""WITH RECURSIVE
       |${ivfFitCtes(nlist, iters)},
       |probes AS (
       |  SELECT id AS query_id, v AS qv, cidx - 1 AS lst
       |  FROM (SELECT e.id, e.v, u.cidx, ${dist("e.v", "cs[u.cidx]")} AS d
       |        FROM emb e, fin, (SELECT unnest(generate_series(1, $nlist)) AS cidx) u
       |        WHERE $queryPred)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cidx) <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, b.id AS neighbor_id,
       |    ${dot("p.qv", "b.v")} /
       |      (${nrm("p.qv")} * ${nrm("b.v")}) AS cosine
       |  FROM bucketed b JOIN probes p ON b.lst = p.lst AND b.id <> p.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= $k""".stripMargin
  }

  /** The duplicate-augmented-corpus LSH candidate-pair oracle, shared
    * by q_dedup_minhash_lsh and (as the pair CTE) q_split_leakage. */
  private def lshPairsOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS id,
      |    COALESCE(array_to_string((regexp_extract_all(COALESCE(text, ''), '\S+'))
      |      [1:greatest((len(regexp_extract_all(COALESCE(text, ''), '\S+'))*4)//5, 1)], ' '), '') AS text
      |  FROM documents),
      |sh AS (
      |  SELECT id, list_distinct([array_to_string(toks[i:i+2], ' ')
      |            for i in generate_series(1, len(toks)-2)]) AS shingles
      |  FROM (SELECT id, regexp_extract_all(text, '\S+') AS toks FROM corpus)),
      |ab AS (SELECT id, ('0x'||substr(md5(gram),1,7))::BIGINT AS a,
      |              (('0x'||substr(md5(gram),8,7))::BIGINT | 1) AS b
      |       FROM (SELECT id, unnest(shingles) AS gram FROM sh)),
      |abl AS (SELECT id, list([a, b]) AS abs_ FROM ab GROUP BY id),
      |sigs AS (SELECT id, list_transform(generate_series(0,31), i ->
      |           list_min(list_transform(abs_, p -> (p[1] + i*p[2]) % 2147483647))) AS sig
      |         FROM abl),
      |bucketed AS (SELECT id, sig, band, sig[band*4+1 : band*4+4] AS bucket
      |             FROM (SELECT id, sig, unnest(generate_series(0,7)) AS band FROM sigs)
      |             QUALIFY COUNT(*) OVER (PARTITION BY band, sig[band*4+1 : band*4+4]) <= 100000),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      |         FROM bucketed a JOIN bucketed b
      |         ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
      |SELECT id_a, id_b, est_jaccard FROM (
      |  SELECT id_a, id_b,
      |    CAST(CAST(list_sum(list_transform(list_zip(sig_a, sig_b),
      |      z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE) / 32
      |    AS est_jaccard FROM cand) t
      |WHERE est_jaccard >= 0.3""".stripMargin

  /** The rolling z-score oracle, shared by q_events_anomaly and the
    * streaming twin's q_anomaly_stream_state. */
  private def anomalyOracle: String =
    """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us, value,
      |             CAST(FLOOR(value * 1024.0) AS BIGINT) AS v FROM events
      |           WHERE value IS NOT NULL),
      |m AS (SELECT event_id, event_type, ts_us, value, v,
      |        COUNT(*) OVER w AS n,
      |        CAST(SUM(v) OVER w AS BIGINT) AS s,
      |        CAST(SUM(v * v) OVER w AS BIGINT) AS q
      |      FROM e WINDOW w AS (PARTITION BY event_type
      |                          ORDER BY ts_us, event_id
      |                          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT event_id, event_type, ts_us, value, zq,
      |  CAST(CASE WHEN abs(zq) > 3.0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_anomaly
      |FROM (
      |  SELECT event_id, event_type, ts_us, value,
      |    CASE WHEN (CAST(q AS DOUBLE)
      |               - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / 24.0) <= 0.0
      |         THEN 0.0
      |         ELSE (CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / 24.0)
      |              / sqrt((CAST(q AS DOUBLE)
      |                      - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / 24.0)
      |                     / 24.0)
      |    END AS zq
      |  FROM m WHERE n = 24) t""".stripMargin

  /** The greedy-first funnel oracle (per-step min() CTE chain), shared
    * by q_events_funnel and the streaming twin's q_funnel_stream_state. */
  private def funnelOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS y
      |           FROM events),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE y = 'view'
      |       GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.y = 'click' AND e.t > s1.t1
      |         AND e.t - s1.t1 <= 7200000000 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.y = 'purchase' AND e.t > s2.t2
      |         AND e.t - s2.t2 <= 7200000000 GROUP BY e.user_id)
      |SELECT s1.user_id,
      |  CAST(CASE WHEN t3 IS NOT NULL THEN 3
      |            WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
      |    AS steps_completed,
      |  s1.t1 AS t_first, COALESCE(t3, t2, t1) AS t_last
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  /** q_graph_pagerank oracle: the fixed-point iteration unrolled as
    * chained CTEs — pure BIGINT multiply/floor-divide/add, so the
    * GROUP BY sums match Spark's shuffled sums exactly (integer
    * addition is order-free; that is the operator's whole design,
    * [[graft.operators.PageRank]]). SUMs cast to BIGINT because DuckDB
    * widens integer SUM to HUGEINT. */
  private def pageRankOracle: String = {
    val iters = 3
    val tele = "((1000000000000 // nn.n) * 15) // 100"
    val iterCtes = (0 until iters).map { i =>
      s"""d$i AS (SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS ds
         |      FROM r$i r LEFT JOIN outdeg o ON r.node = o.src
         |      WHERE o.src IS NULL),
         |s$i AS (SELECT e.dst AS node, CAST(SUM(r.r // o.outd) AS BIGINT) AS insum
         |      FROM edges e JOIN r$i r ON e.src = r.node
         |      JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
         |r${i + 1} AS (SELECT nd.node,
         |        $tele + (85 * (COALESCE(s.insum, 0) + d$i.ds // nn.n)) // 100 AS r
         |      FROM nodes nd LEFT JOIN s$i s USING (node), nn, d$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey + $GRAPH_ID_OFFSET AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |outdeg AS (SELECT src, count(*) AS outd FROM edges GROUP BY src),
       |r0 AS (SELECT node, 1000000000000 // nn.n AS r FROM nodes, nn),
       |$iterCtes
       |SELECT node, r AS pagerank_micro, r / 1000000000000.0 AS pagerank
       |FROM r$iters""".stripMargin
  }

  /** q_sim_knn_graph oracle: [[ivfOracle]] with the corpus itself as
    * the query side — same shared Lloyd fit, same (dist, list idx)
    * probe order, same (cosine DESC, neighbor ASC) top-k cut. */
  private def knnGraphOracle: String = {
    val (nlist, nprobe, k, iters) = (16, 4, 3, 10)
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
         |  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (x, y) -> x + y)""".stripMargin
    def dist = sqlDist _
    def nrm(a: String) = s"sqrt(${dot(a, a)})"
    s"""WITH RECURSIVE
       |${ivfFitCtes(nlist, iters)},
       |probes AS (
       |  SELECT id AS query_id, v AS qv, cidx - 1 AS lst
       |  FROM (SELECT e.id, e.v, u.cidx, ${dist("e.v", "cs[u.cidx]")} AS d
       |        FROM emb e, fin, (SELECT unnest(generate_series(1, $nlist)) AS cidx) u)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cidx) <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, b.id AS neighbor_id,
       |    ${dot("p.qv", "b.v")} /
       |      (${nrm("p.qv")} * ${nrm("b.v")}) AS cosine
       |  FROM bucketed b JOIN probes p ON b.lst = p.lst AND b.id <> p.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= $k""".stripMargin
  }

  /** One direction of the bitext replay under CTE prefix `p`: fit
    * chain on the `fitParity` vec_id slice, probes from the other
    * parity, the forward ratio margin folded over the rank-ordered
    * top-k cosines (the same list_reduce left-fold the Spark side pins
    * via its sort_array + aggregate spelling) — ending at
    * `${p}mined(query_id, match_id, cosine, margin)`, pre-τ. */
  private def bitextForwardCtes(p: String, fitParity: Int, nlist: Int,
                                nprobe: Int, k: Int, iters: Int): String = {
    def dot(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b),
         |  z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (x, y) -> x + y)""".stripMargin
    def nrm(a: String) = s"sqrt(${dot(a, a)})"
    val fitEmb =
      s"""${p}emb AS MATERIALIZED (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings WHERE vec_id % 2 = $fitParity)""".stripMargin
    s"""${ivfFitCtes(nlist, iters, fitEmb, p)},
       |${p}qry AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings WHERE vec_id % 2 = ${1 - fitParity}),
       |${p}probes AS (
       |  SELECT id AS query_id, v AS qv, cidx - 1 AS lst
       |  FROM (SELECT q.id, q.v, u.cidx, ${sqlDist("q.v", "cs[u.cidx]")} AS d
       |        FROM ${p}qry q, ${p}fin, (SELECT unnest(generate_series(1, $nlist)) AS cidx) u)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cidx) <= $nprobe),
       |${p}topk AS (
       |  SELECT p.query_id, b.id AS neighbor_id,
       |    ${dot("p.qv", "b.v")} / (${nrm("p.qv")} * ${nrm("b.v")}) AS cosine
       |  FROM ${p}bucketed b JOIN ${p}probes p ON b.lst = p.lst
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) <= $k),
       |${p}agg AS (
       |  SELECT query_id,
       |    (list(neighbor_id ORDER BY cosine DESC, neighbor_id ASC))[1] AS match_id,
       |    list(cosine ORDER BY cosine DESC, neighbor_id ASC) AS cs2
       |  FROM ${p}topk GROUP BY query_id),
       |${p}mined AS (
       |  SELECT query_id, match_id, cs2[1] AS cosine,
       |    cs2[1] / (list_reduce(list_prepend(0.0, cs2), (x, y) -> x + y)
       |              / len(cs2)) AS margin,
       |    list_reduce(list_prepend(0.0, cs2), (x, y) -> x + y)
       |      / len(cs2) AS mean_cos
       |  FROM ${p}agg)""".stripMargin
  }

  /** q_sim_bitext_mine oracle: one forward chain, τ=1.15. */
  private def bitextOracle: String =
    s"""WITH RECURSIVE
       |${bitextForwardCtes("", fitParity = 1, nlist = 8, nprobe = 4, k = 4, iters = 10)}
       |SELECT query_id, match_id, cosine, margin FROM mined
       |WHERE margin >= 1.15""".stripMargin

  /** q_sim_bitext_mutual oracle: BOTH forward chains (prefix `r` for
    * the reverse fit on the even slice), joined on mutual best,
    * τ=1.1 each way. */
  private def bitextMutualOracle: String =
    s"""WITH RECURSIVE
       |${bitextForwardCtes("", fitParity = 1, nlist = 8, nprobe = 4, k = 4, iters = 10)},
       |${bitextForwardCtes("r", fitParity = 0, nlist = 8, nprobe = 4, k = 4, iters = 10)}
       |SELECT f.query_id AS a_id, f.match_id AS b_id, f.cosine,
       |  f.margin AS margin_ab, r.margin AS margin_ba
       |FROM mined f JOIN rmined r
       |  ON f.query_id = r.match_id AND f.match_id = r.query_id
       |WHERE f.margin >= 1.1 AND r.margin >= 1.1""".stripMargin

  /** q_sim_bitext_2way oracle: the paper-faithful two-sided margin —
    * the A→B chain's (match, cosine, query-side mean) joined to the
    * reverse chain's per-y neighborhood mean on the match id, the
    * denominator averaging both means; same association order as the
    * Spark select. */
  private def bitextTwoSidedOracle: String =
    s"""WITH RECURSIVE
       |${bitextForwardCtes("", fitParity = 1, nlist = 8, nprobe = 4, k = 4, iters = 10)},
       |${bitextForwardCtes("r", fitParity = 0, nlist = 8, nprobe = 4, k = 4, iters = 10)}
       |SELECT * FROM (
       |  SELECT f.query_id, f.match_id, f.cosine,
       |    f.cosine / ((f.mean_cos + r.mean_cos) / 2.0) AS margin
       |  FROM mined f JOIN rmined r ON f.match_id = r.query_id) t
       |WHERE margin >= 1.0""".stripMargin

  /** q_sim_pq_topk oracle: bit-exact DuckDB replay of the PQ pipeline
    * ([[graft.operators.Similarity.pqTopK]]) — one shared digest-order
    * fit sample, four per-subspace 16-centroid Lloyd fits (the same
    * fixed-iteration replay as [[ivfFitCtes]], on 16-dim slices),
    * argmin encode, the 4-term left-associated ADC sum (the Scala
    * side's LUT lookup is the same distance arithmetic, computed once
    * per query instead of per pair — identical values), the
    * 50-candidate cut ordered (adc, neighbor id), and the exact cosine
    * re-rank. Assumes ≥ ksub fit vectors, like the IVF replay. */
  /** Per-subspace Lloyd-replay CTEs (`sp\$j` / `it\$j` / `fin\$j`) over
    * subDim-wide slices of a fit-sample CTE `src(vs, m)` — the same
    * fixed-iteration deterministic replay as [[ivfFitCtes]]. Shared by
    * [[pqOracle]] (raw-vector sample `sp`) and [[ivfpqOracle]]
    * (coarse-residual sample `spr`). */
  private def pqSubFitCtes(src: String, j: Int, ksub: Int, iters: Int,
                           subDim: Int): String = {
    val (lo, hi) = (j * subDim + 1, (j + 1) * subDim)
    s"""sp$j AS MATERIALIZED (SELECT list_transform(vs, v -> v[$lo:$hi]) AS vs, m FROM $src),
       |it$j(i, cs) AS (
       |  SELECT 0, vs[1:$ksub] FROM sp$j
       |  UNION ALL
       |  SELECT i + 1,
       |    [CASE WHEN len(ixs[c]) = 0 THEN cs[c]
       |          ELSE list_transform(
       |                 list_reduce(list_prepend(list_transform(generate_series(1, $subDim), z -> 0.0),
       |                                          [vs[jj] FOR jj IN ixs[c]]),
       |                             (a, v) -> list_transform(list_zip(a, v), z -> z[1] + z[2])),
       |                 s -> s / len(ixs[c])) END
       |     FOR c IN generate_series(1, $ksub)]
       |  FROM (SELECT i, cs, vs,
       |               [[jj FOR jj IN generate_series(1, m) IF asg[jj] = c]
       |                FOR c IN generate_series(1, $ksub)] AS ixs
       |        FROM (SELECT i, cs, vs, m,
       |                     list_transform(generate_series(1, m), jj ->
       |                       list_position(list_transform(cs, c -> ${sqlDist("vs[jj]", "c")}),
       |                                     list_min(list_transform(cs, c -> ${sqlDist("vs[jj]", "c")})))) AS asg
       |              FROM it$j, sp$j WHERE i < $iters))),
       |fin$j AS MATERIALIZED (SELECT cs AS cs$j FROM it$j WHERE i = $iters)""".stripMargin
  }

  private def pqOracle: String = {
    val (m, ksub, iters, cand, k, subDim) = (4, 16, 10, 50, 5, 16)
    def lo(j: Int) = j * subDim + 1
    def hi(j: Int) = (j + 1) * subDim
    def fitCtes(j: Int): String = pqSubFitCtes("sp", j, ksub, iters, subDim)
    val codes = (0 until m).map { j =>
      s"""CAST(list_position(list_transform(cs$j, c -> ${sqlDist(s"v[${lo(j)}:${hi(j)}]", "c")}),
         |       list_min(list_transform(cs$j, c -> ${sqlDist(s"v[${lo(j)}:${hi(j)}]", "c")}))) - 1 AS INT) AS c$j""".stripMargin
    }.mkString(",\n    ")
    val adc = (0 until m).map(j =>
      sqlDist(s"qv[${lo(j)}:${hi(j)}]", s"cs$j[c$j + 1]")).mkString(" + ")
    val fins = (0 until m).map(j => s"fin$j").mkString(", ")
    s"""WITH RECURSIVE
       |$plainEmbCte,
       |sp AS MATERIALIZED (SELECT (list(v ORDER BY md5(id || ':9')))[1:100000] AS vs,
       |              LEAST(COUNT(*), 100000) AS m FROM emb),
       |${(0 until m).map(fitCtes).mkString(",\n")},
       |coded AS MATERIALIZED (SELECT id,
       |    $codes
       |  FROM emb, $fins),
       |q AS (SELECT id AS query_id, v AS qv FROM emb WHERE id < 5),
       |scored AS (SELECT q.query_id, t.id AS neighbor_id,
       |    $adc AS adc
       |  FROM coded t, q, $fins WHERE t.id <> q.query_id),
       |cands AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
       |  FROM scored) t WHERE rn <= $cand),
       |rer AS (SELECT cd.query_id, cd.neighbor_id,
       |    ${sqlCosine("q.qv", "e.v")} AS cosine
       |  FROM cands cd JOIN emb e ON e.id = cd.neighbor_id
       |  JOIN q ON q.query_id = cd.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM rer) t
       |WHERE rank <= $k""".stripMargin
  }

  /** q_sim_ivfpq_topk oracle: bit-exact DuckDB replay of the IVF-PQ
    * pipeline ([[graft.operators.Similarity.ivfPqTopK]]) — the
    * [[ivfFitCtes]] coarse fit + corpus list assignment, sample
    * residuals against the nearest coarse centroid (same first-min
    * argmin), four residual-subspace Lloyd fits via [[pqSubFitCtes]],
    * the residual argmin encode, the [[ivfOracle]] probe CTE, ADC on
    * per-(query, list) residuals restricted to probed lists, the
    * 50-candidate cut and the exact cosine re-rank. The Scala side's
    * LUT lookup is the same distance arithmetic as the direct
    * `sqlDist(qr slice, centroid)` here — computed once per probe
    * instead of per pair, identical values. */
  private def ivfpqOracle: String = ivfpqOracleFor("e.id < 5", "id < 5")

  /** q_sim_ivfpq_distributed oracle: the identical IVF-PQ replay with
    * the query predicate widened to the even parity — the distributed
    * probe/LUT/re-rank path is value-identical to the driver path by
    * construction, so only the query set differs. */
  private def ivfpqDistributedOracle: String =
    ivfpqOracleFor("e.id % 2 = 0", "id % 2 = 0")

  private def ivfpqOracleFor(probePred: String, rerankPred: String): String = {
    val (nlist, nprobe, m, ksub, iters, cand, k, subDim) = (16, 4, 4, 16, 10, 50, 5, 16)
    def lo(j: Int) = j * subDim + 1
    def hi(j: Int) = (j + 1) * subDim
    val fins = (0 until m).map(j => s"fin$j").mkString(", ")
    val codes = (0 until m).map { j =>
      s"""CAST(list_position(list_transform(cs$j, c -> ${sqlDist(s"r[${lo(j)}:${hi(j)}]", "c")}),
         |       list_min(list_transform(cs$j, c -> ${sqlDist(s"r[${lo(j)}:${hi(j)}]", "c")}))) - 1 AS INT) AS c$j""".stripMargin
    }.mkString(",\n    ")
    val adc = (0 until m).map(j =>
      sqlDist(s"p.qr[${lo(j)}:${hi(j)}]", s"cs$j[t.c$j + 1]")).mkString(" + ")
    s"""WITH RECURSIVE
       |${ivfFitCtes(nlist, iters)},
       |spr AS MATERIALIZED (SELECT list_transform(vs, x -> list_transform(list_zip(x,
       |          cs[list_position(list_transform(cs, c -> ${sqlDist("x", "c")}),
       |                           list_min(list_transform(cs, c -> ${sqlDist("x", "c")})))]),
       |          z -> z[1] - z[2])) AS vs, m
       |        FROM sp, fin),
       |${(0 until m).map(j => pqSubFitCtes("spr", j, ksub, iters, subDim)).mkString(",\n")},
       |rv AS (SELECT b.id, b.lst,
       |    list_transform(list_zip(b.v, cs[b.lst + 1]), z -> z[1] - z[2]) AS r
       |  FROM bucketed b, fin),
       |coded AS MATERIALIZED (SELECT id, lst,
       |    $codes
       |  FROM rv, $fins),
       |probes AS (
       |  SELECT id AS query_id, v AS qv, cidx - 1 AS lst
       |  FROM (SELECT e.id, e.v, u.cidx, ${sqlDist("e.v", "cs[u.cidx]")} AS d
       |        FROM emb e, fin, (SELECT unnest(generate_series(1, $nlist)) AS cidx) u
       |        WHERE $probePred)
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cidx) <= $nprobe),
       |prv AS (SELECT p.query_id, p.lst,
       |    list_transform(list_zip(p.qv, cs[p.lst + 1]), z -> z[1] - z[2]) AS qr
       |  FROM probes p, fin),
       |scored AS (SELECT p.query_id, t.id AS neighbor_id,
       |    $adc AS adc
       |  FROM coded t JOIN prv p ON t.lst = p.lst AND t.id <> p.query_id, $fins),
       |cands AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rn
       |  FROM scored) t WHERE rn <= $cand),
       |rer AS (SELECT cd.query_id, cd.neighbor_id,
       |    ${sqlCosine("q.qv", "e.v")} AS cosine
       |  FROM cands cd JOIN emb e ON e.id = cd.neighbor_id
       |  JOIN (SELECT id AS query_id, v AS qv FROM emb WHERE $rerankPred) q
       |    ON q.query_id = cd.query_id)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM rer) t
       |WHERE rank <= $k""".stripMargin
  }

  /** q_quality_model oracle: bit-exact replay of
    * [[graft.operators.QualityModel.distill]] — the proven
    * q_text_quality / q_text_rare_tokens feature fragments, the proven
    * 2⁻⁴⁰ pinned moment sums (HUGEINT promotion = Spark's split-long
    * BigInt reassembly, one DOUBLE rounding each), and a generated
    * Gaussian-elimination CTE chain whose operation order mirrors
    * QualityModel.gaussSolve line for line. Each elimination step gets
    * its own column-name prefix (a1_, a2_, a3_) because DuckDB lateral
    * column aliases could otherwise shadow the previous step's values
    * mid-SELECT. No output rounding anywhere. */
  private def qualityModelOracle: String = {
    val S = "1099511627776.0"
    val lam = "0.0009765625e0"
    val D = 4
    def xref(i: Int) = if (i == 0) "1.0" else s"x$i"
    val gsel = ((for (i <- 0 until D; j <- i until D) yield
        s"CAST(sum(CAST(floor((${xref(i)} * ${xref(j)}) * $S) AS BIGINT)) AS DOUBLE) / $S AS g_${i}_$j") ++
      (0 until D).map(i =>
        s"CAST(sum(CAST(floor((${xref(i)} * y) * $S) AS BIGINT)) AS DOUBLE) / $S AS b_$i"))
      .mkString(",\n    ")
    // m0: symmetric Gram + ridge, step-0 names a0_i_j / bb0_i
    val m0 = ((for (i <- 0 until D; j <- 0 until D) yield {
        val (lo, hi) = (math.min(i, j), math.max(i, j))
        val e = if (i == j) s"g_${lo}_$hi + $lam" else s"g_${lo}_$hi"
        s"$e AS a0_${i}_$j"
      }) ++ (0 until D).map(i => s"b_$i AS bb0_$i")).mkString(", ")
    // elimination step k: rows > k update cols >= k and their b entry
    def stepSel(k: Int): String = {
      val p = s"a$k"; val q = s"a${k + 1}"
      val pb = s"bb$k"; val qb = s"bb${k + 1}"
      val as = for (i <- 0 until D; j <- 0 until D) yield {
        if (i > k && j >= k)
          s"(${p}_${i}_$j - (${p}_${i}_$k / ${p}_${k}_$k) * ${p}_${k}_$j) AS ${q}_${i}_$j"
        else s"${p}_${i}_$j AS ${q}_${i}_$j"
      }
      val bs = (0 until D).map { i =>
        if (i > k) s"(${pb}_$i - (${p}_${i}_$k / ${p}_${k}_$k) * ${pb}_$k) AS ${qb}_$i"
        else s"${pb}_$i AS ${qb}_$i"
      }
      (as ++ bs).mkString(", ")
    }
    // back substitution, ascending-j subtraction per row (w3 first)
    val backSub =
      """ws3 AS (SELECT *, bb3_3 / a3_3_3 AS w3 FROM m3),
        |ws2 AS (SELECT *, (bb3_2 - a3_2_3 * w3) / a3_2_2 AS w2 FROM ws3),
        |ws1 AS (SELECT *, (bb3_1 - a3_1_2 * w2 - a3_1_3 * w3) / a3_1_1 AS w1 FROM ws2),
        |ws AS (SELECT *, (bb3_0 - a3_0_1 * w1 - a3_0_2 * w2 - a3_0_3 * w3) / a3_0_0 AS w0 FROM ws1)""".stripMargin
    val pred = "ws.w0 * 1.0 + ws.w1 * x1 + ws.w2 * x2 + ws.w3 * x3"
    s"""WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
       |wtk AS (SELECT doc_id, unnest(regexp_extract_all(t, '\\S+')) AS word FROM base),
       |com AS (SELECT word FROM wtk GROUP BY word HAVING COUNT(*) >= 10),
       |h AS (SELECT doc_id, COUNT(*) AS n_common FROM wtk JOIN com USING (word) GROUP BY 1),
       |feats AS (SELECT b.doc_id,
       |  COALESCE(CAST(length(regexp_replace(b.t, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |    / CASE WHEN length(b.t) = 0 THEN NULL ELSE length(b.t) END, 0e0) AS x1,
       |  COALESCE(CAST(len(list_filter(regexp_extract_all(lower(b.t), '\\S+'), x -> x IN ($stop))) AS DOUBLE)
       |    / CASE WHEN len(regexp_extract_all(lower(b.t), '\\S+')) = 0 THEN NULL
       |           ELSE len(regexp_extract_all(lower(b.t), '\\S+')) END, 0e0) AS x2,
       |  LEAST(COALESCE(CAST(list_sum(list_transform(regexp_extract_all(b.t, '\\S+'), x -> length(x))) AS DOUBLE)
       |    / CASE WHEN len(regexp_extract_all(b.t, '\\S+')) = 0 THEN NULL
       |           ELSE len(regexp_extract_all(b.t, '\\S+')) END, 0e0) / 20.0, 1.0) AS x3,
       |  COALESCE(CAST(len(regexp_extract_all(b.t, '\\S+')) - COALESCE(h.n_common, 0) AS DOUBLE)
       |    / CASE WHEN len(regexp_extract_all(b.t, '\\S+')) = 0 THEN NULL
       |           ELSE len(regexp_extract_all(b.t, '\\S+')) END, 0e0) AS y
       |  FROM base b LEFT JOIN h USING (doc_id)),
       |g AS (SELECT
       |    $gsel
       |  FROM feats),
       |m0 AS (SELECT $m0 FROM g),
       |m1 AS (SELECT ${stepSel(0)} FROM m0),
       |m2 AS (SELECT ${stepSel(1)} FROM m1),
       |m3 AS (SELECT ${stepSel(2)} FROM m2),
       |$backSub
       |SELECT f.doc_id, f.y AS rare_frac,
       |  $pred AS pred,
       |  f.y - ($pred) AS resid
       |FROM feats f, ws""".stripMargin
  }

  /** q_bpe_tokenize oracle: bit-exact replay of
    * [[graft.operators.BpeTokenizer]] — the digest-order 2000-doc
    * sample, 20 UNROLLED train stages (pair counts within words →
    * arg-max merge with the md5(a‖0x01‖b) tie-break → list_reduce
    * rewrite — the fold is value-equal to leftmost-greedy BPE, see
    * BpeEncodeExpr), then the same 20 folds chained over every
    * document's words. A pair-less round COALESCEs to the chr(2)
    * sentinel, exactly like the Scala trainer, so every stage is
    * total. Code-point semantics on both sides (substr(w,i,1) ↔
    * Bpe.codePointSplit). */
  private def bpeOracle: String = {
    val n = 20
    // one merge-application fold; DuckDB list_reduce seeded with [] via
    // the list_prepend trick (acc and elements both VARCHAR[])
    def fold(toksRef: String, aRef: String, bRef: String): String =
      s"""list_reduce(list_prepend(CAST([] AS VARCHAR[]), list_transform($toksRef, t -> [t])),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $aRef AND x[1] = $bRef
         |                       THEN acc[1:len(acc)-1] || [$aRef || $bRef]
         |                       ELSE acc || x END)""".stripMargin
    def trainStage(k: Int): String =
      s"""p$k AS MATERIALIZED (SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS c FROM (
         |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
         |                               i -> [toks[i], toks[i+1]])) AS pr
         |  FROM w${k - 1}) GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT
         |  COALESCE((SELECT a FROM p$k ORDER BY c DESC, md5(a || chr(1) || b) ASC LIMIT 1), chr(2)) AS a,
         |  COALESCE((SELECT b FROM p$k ORDER BY c DESC, md5(a || chr(1) || b) ASC LIMIT 1), chr(2)) AS b),
         |w$k AS MATERIALIZED (SELECT ${fold("toks", s"m$k.a", s"m$k.b")} AS toks
         |  FROM w${k - 1}, m$k)""".stripMargin
    def encStage(k: Int): String =
      s"""e$k AS MATERIALIZED (SELECT doc_id, wpos, ${fold("toks", s"m$k.a", s"m$k.b")} AS toks
         |  FROM e${k - 1}, m$k)""".stripMargin
    s"""WITH smp AS MATERIALIZED (SELECT md5(doc_id || ':9') AS h, COALESCE(text, '') AS t
       |  FROM documents ORDER BY h LIMIT 2000),
       |w0 AS MATERIALIZED (SELECT list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS toks
       |  FROM (SELECT unnest(regexp_extract_all(t, '\\S+')) AS w FROM smp)),
       |${(1 to n).map(trainStage).mkString(",\n")},
       |dw AS MATERIALIZED (SELECT doc_id, regexp_extract_all(COALESCE(text, ''), '\\S+') AS words
       |  FROM documents),
       |e0p AS MATERIALIZED (SELECT doc_id,
       |    unnest(generate_series(1, len(words))) AS wpos,
       |    unnest(words) AS w
       |  FROM dw),
       |e0 AS MATERIALIZED (SELECT doc_id, wpos,
       |    list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS toks
       |  FROM e0p),
       |${(1 to n).map(encStage).mkString(",\n")},
       |agg AS (SELECT doc_id,
       |    CAST(SUM(len(toks)) AS BIGINT) AS n_bpe_tokens,
       |    md5(array_to_string(flatten(list(toks ORDER BY wpos)), chr(1))) AS bpe_fp
       |  FROM e$n GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(len(d.words) AS BIGINT) AS n_words,
       |  COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |  COALESCE(a.bpe_fp, md5('')) AS bpe_fp
       |FROM dw d LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  // mirrors LmScore.score term for term: same caps, same md5
  // tie-breaks, same exact-ratio probabilities, same pinned mean;
  // shared CTE chain — q_lm_score selects it directly, q_lm_buckets
  // layers the min-rank tertile cut on top
  private val lmScoreCtes =
    """WITH dw AS (SELECT doc_id, regexp_extract_all(lower(COALESCE(text, '')), '\S+') AS ws
      |  FROM documents),
        |tk AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, unnest(ws) AS word
        |  FROM dw),
        |vc AS (SELECT word FROM (SELECT word, COUNT(*) AS c FROM tk GROUP BY 1) t
        |  ORDER BY c DESC, md5(word) ASC LIMIT 2000),
        |mp AS (SELECT t.doc_id, t.pos,
        |    CASE WHEN v.word IS NOT NULL THEN t.word ELSE chr(3) END AS m
        |  FROM tk t LEFT JOIN vc v USING (word)),
        |un AS (SELECT m, COUNT(*) AS uc FROM mp GROUP BY 1),
        |nt AS (SELECT COUNT(*) AS n FROM mp),
        |pr AS (SELECT doc_id, pos, m, lag(m) OVER (PARTITION BY doc_id ORDER BY pos) AS a
        |  FROM mp),
        |bg AS (SELECT a, m, COUNT(*) AS bc FROM pr WHERE a IS NOT NULL GROUP BY 1, 2
        |  ORDER BY bc DESC, md5(a || chr(1) || m) ASC LIMIT 10000),
        |ps AS (SELECT pr.doc_id,
        |    CASE WHEN pr.a IS NULL
        |         THEN CAST(uf.uc + 1 AS DOUBLE) / CAST(nt.n + 2001 AS DOUBLE)
        |         ELSE CAST(COALESCE(bg.bc, 0) + 1 AS DOUBLE) / CAST(up.uc + 2001 AS DOUBLE)
        |    END AS p
        |  FROM pr
        |  LEFT JOIN bg ON bg.a = pr.a AND bg.m = pr.m
        |  JOIN un uf ON uf.m = pr.m
        |  LEFT JOIN un up ON up.m = pr.a
        |  CROSS JOIN nt),
      |pd AS (SELECT doc_id,
      |    CAST(SUM(CAST(floor(p * 1099511627776.0) AS BIGINT)) AS DOUBLE)
      |      / 1099511627776.0 / COUNT(*) AS lm_score
      |  FROM ps GROUP BY doc_id),
      |sc AS (SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_tokens,
      |    COALESCE(pd.lm_score, 0e0) AS lm_score
      |  FROM dw d LEFT JOIN pd USING (doc_id))""".stripMargin

  val entries: Seq[Query] = Seq(
    // ── text analysis ──────────────────────────────────────────────
    Query("q_text_tokens", Headline)(
      // n_tokens mirrors tokenCount's NULL≡'' convention (0, not NULL);
      // n_bpeish stays raw-null-propagating like the bare tokenizer
      """SELECT doc_id,
        | len(regexp_extract_all(COALESCE(text, ''), '\S+')) AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        size(TextFunctions.bpeishTokens(col("text"))).as("n_bpeish"))
    },
    Query("q_text_quality", Headline)(
      s"""WITH t AS (SELECT doc_id, text,
        |  regexp_extract_all(lower(text), '\\S+') AS toks,
        |  len(regexp_extract_all(text, '\\S+')) AS ntok FROM documents)
        |SELECT doc_id,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |   / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END AS alpha_ratio,
        | CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE)
        |   / CASE WHEN ntok = 0 THEN NULL ELSE ntok END AS stopword_ratio,
        | CAST(list_sum(list_transform(regexp_extract_all(text, '\\S+'), x -> length(x))) AS DOUBLE)
        |   / CASE WHEN ntok = 0 THEN NULL ELSE ntok END AS mean_token_len,
        | (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END * 0.2)
        |  + (CASE WHEN COALESCE(CAST(list_sum(list_transform(regexp_extract_all(text, '\\S+'), x -> length(x))) AS DOUBLE)
        |       / CASE WHEN ntok = 0 THEN NULL ELSE ntok END, 0.0) BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END * 0.2)
        |  + (COALESCE(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |       / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END, 0.0) * 0.3)
        |  + (LEAST(COALESCE(CAST(len(list_filter(toks, x -> x IN ($stop))) AS DOUBLE)
        |       / CASE WHEN ntok = 0 THEN NULL ELSE ntok END, 0.0) * 5.0, 1.0) * 0.2)
        |  + ((1.0 - COALESCE(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |       / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END, 0.0)) * 0.1) AS quality
        |FROM t""".stripMargin) { (s, dir) =>
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("__toks"),
          TextFunctions.tokens(lower(col("text"))).as("__ltoks"))
        .select(col("doc_id"),
          TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
          TextFunctions.stopwordRatioOf(col("__ltoks")).as("stopword_ratio"),
          TextFunctions.meanTokenLenOf(col("__toks")).as("mean_token_len"),
          TextFunctions.qualityScoreOf(col("text"), col("__toks"), col("__ltoks")).as("quality"))
    },
    Query("q_text_langid", Headline)(
      """WITH t AS (SELECT doc_id, text,
        |  regexp_extract_all(lower(text), '\S+') AS toks,
        |  CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0 THEN NULL
        |       ELSE CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) END AS total
        | FROM documents),
        |scored AS (SELECT doc_id, text,
        |  list_sort([
        |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
        |     ('the','and','of','to','in','is','that','it','was','for','with','are','this','have','not'))) AS DOUBLE) / total, 0.0), lang := 'en'),
        |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
        |     ('der','die','das','und','ist','nicht','ein','eine','mit','von','auf','für','sich','dass','werden'))) AS DOUBLE) / total, 0.0), lang := 'de'),
        |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
        |     ('le','la','les','de','des','et','est','une','dans','que','pour','qui','pas','sur','avec'))) AS DOUBLE) / total, 0.0), lang := 'fr'),
        |   struct_pack(score := COALESCE(CAST(len(list_filter(toks, x -> x IN
        |     ('el','la','los','las','de','que','y','en','un','una','es','por','con','para','su'))) AS DOUBLE) / total, 0.0), lang := 'es')
        |  ])[-1] AS best FROM t)
        |SELECT doc_id,
        | CASE WHEN COALESCE(CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
        |        / CASE WHEN length(text) = 0 THEN NULL ELSE length(text) END, 0.0) > 0.3
        |      THEN 'zh'
        |      WHEN best.score >= 0.05 THEN best.lang
        |      ELSE 'und' END AS lang_pred
        |FROM scored""".stripMargin) { (s, dir) =>
      Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("text"),
          TextFunctions.tokens(lower(col("text"))).as("__ltoks"))
        .select(col("doc_id"),
          TextFunctions.langIdOf(col("text"), col("__ltoks")).as("lang_pred"))
    },
    Query("q_text_fingerprint", Headline)(
      """SELECT doc_id,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
    },
    Query("q_text_simhash", Headline)(
      """WITH t AS (SELECT doc_id,
        |  list_transform(regexp_extract_all(text, '\S+'),
        |    w -> ('0x'||substr(md5(w),1,15))::BIGINT) AS hs FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(generate_series(0,59), j ->
        |    CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
        |        CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
        |      THEN (1::BIGINT << j) ELSE 0::BIGINT END)), 0) AS BIGINT) AS simhash
        |FROM t""".stripMargin) { (s, dir) =>
      Tables.documentsSpread(s, dir).select(col("doc_id"),
        TextFunctions.simhash(col("text")).as("simhash"))
    },
    Query("q_text_repetition", Headline)(
      // one struct-tagged gram frame → per-(doc, n, gram) counts → two
      // roll-ups, the exact shape of PipelineOps.repetitionSignals; all
      // fractions are double divisions of exact integers, thresholds in
      // e-notation so they parse as DOUBLE (the DECIMAL-literal trap)
      """WITH t AS (SELECT doc_id, regexp_extract_all(COALESCE(text,''), '\S+') AS ws
        |           FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, ws,
        |        [array_to_string(ws[i:i+1],' ') FOR i IN generate_series(1, len(ws)-1)] AS g2,
        |        [array_to_string(ws[i:i+4],' ') FOR i IN generate_series(1, len(ws)-4)] AS g5
        |      FROM t),
        |g AS (SELECT doc_id, 1 AS n, unnest(ws) AS gram FROM b
        |      UNION ALL SELECT doc_id, 2, unnest(g2) FROM b
        |      UNION ALL SELECT doc_id, 5, unnest(g5) FROM b),
        |c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |a AS (SELECT doc_id, n, MAX(cnt) AS mx, SUM(cnt) AS tot,
        |        SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
        |      FROM c GROUP BY 1, 2),
        |p AS (SELECT doc_id,
        |        MAX(CASE WHEN n = 1 THEN mx END) AS mx1,
        |        MAX(CASE WHEN n = 2 THEN mx END) AS mx2,
        |        MAX(CASE WHEN n = 5 THEN dup END) AS dup5,
        |        MAX(CASE WHEN n = 5 THEN tot END) AS tot5
        |      FROM a GROUP BY 1),
        |f AS (SELECT b.doc_id, b.n_words,
        |        COALESCE(CAST(mx1 AS DOUBLE)
        |          / CASE WHEN b.n_words = 0 THEN NULL ELSE b.n_words END, 0e0) AS top_word_frac,
        |        COALESCE(CAST(mx2 * 2 AS DOUBLE)
        |          / CASE WHEN b.n_words = 0 THEN NULL ELSE b.n_words END, 0e0) AS top_bigram_frac,
        |        COALESCE(CAST(dup5 AS DOUBLE) / tot5, 0e0) AS dup_ngram_frac
        |      FROM b LEFT JOIN p USING (doc_id))
        |SELECT doc_id, n_words, top_word_frac, top_bigram_frac, dup_ngram_frac,
        |  CAST(CASE WHEN top_word_frac > 3e-1 OR top_bigram_frac > 2e-1
        |              OR dup_ngram_frac > 15e-2 THEN 1 ELSE 0 END AS BIGINT) AS repetitive
        |FROM f""".stripMargin) { (s, dir) =>
      PipelineOps.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
    },
    Query("q_text_rare_tokens", Headline)(
      // the vocabulary head (tf >= 10) joined back to token OCCURRENCES
      // (not distinct words) — all counts exact integers, rare_frac one
      // IEEE-exact division, mirroring rareTokenSignals
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(COALESCE(text,''), '\S+')) AS word
        |           FROM documents),
        |com AS (SELECT word FROM w GROUP BY word HAVING COUNT(*) >= 10),
        |h AS (SELECT doc_id, COUNT(*) AS n_common FROM w JOIN com USING (word) GROUP BY 1),
        |b AS (SELECT doc_id,
        |        CAST(len(regexp_extract_all(COALESCE(text,''), '\S+')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |SELECT b.doc_id, b.n_tokens,
        |  b.n_tokens - COALESCE(h.n_common, 0) AS n_rare,
        |  COALESCE(CAST(b.n_tokens - COALESCE(h.n_common, 0) AS DOUBLE)
        |    / CASE WHEN b.n_tokens = 0 THEN NULL ELSE b.n_tokens END, 0e0) AS rare_frac
        |FROM b LEFT JOIN h USING (doc_id)""".stripMargin) { (s, dir) =>
      // OOV profile against the corpus's own unigram head (tf >= 10)
      PipelineOps.rareTokenSignals(Tables.documents(s, dir), "doc_id", "text",
        minCount = 10L)
    },
    Query("q_lm_score", Headline)(
      s"""$lmScoreCtes
        |SELECT doc_id, n_tokens, lm_score FROM sc""".stripMargin) { (s, dir) =>
      // corpus-LM scoring: bigram add-one model fit on the corpus
      // itself, docs score the mean transition probability — the
      // perplexity filter without the log's cross-libm ulp hazard
      LmScore.score(Tables.documentsSpread(s, dir), "doc_id", "text",
        vocabSize = 2000, bigramCap = 10000)
    },
    Query("q_lm_buckets", Headline)(
      // RANK() = min-rank: ties (bit-identical scores) share a bucket in
      // both engines with no tie-break column; the tertile index is pure
      // BIGINT floor division — no double rounding at the boundaries
      s"""$lmScoreCtes,
        |rk AS (SELECT *, RANK() OVER (ORDER BY lm_score) AS r,
        |    COUNT(*) OVER () AS n FROM sc)
        |SELECT doc_id, n_tokens, lm_score,
        |  CASE (r - 1) * 3 // n WHEN 2 THEN 'head' WHEN 1 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM rk""".stripMargin) { (s, dir) =>
      // CCNet head/middle/tail perplexity tertiles over the corpus-LM
      // score; min-rank cut, no global window
      LmScore.buckets(Tables.documentsSpread(s, dir), "doc_id", "text",
        vocabSize = 2000, bigramCap = 10000)
    },
    Query("q_bpe_tokenize", Headline)(bpeOracle) { (s, dir) =>
      // BPE induction: 20 merges learned on the 2000-doc digest sample
      // driver-side (the codebook pattern applied to tokenizers), then
      // one literal-merge-table expression scan encodes every doc; the
      // fingerprint column gates the exact token stream
      BpeTokenizer.trainEncode(Tables.documentsSpread(s, dir), "doc_id", "text",
        numMerges = 20)
    },
    Query("q_quality_model", Headline)(qualityModelOracle) { (s, dir) =>
      // distilled linear quality model: ridge-fit cheap surface
      // features onto the OOV rate, score every doc + residual —
      // fit + solve + scoring all bit-exactly replayed by the oracle
      QualityModel.distill(Tables.documents(s, dir), "doc_id", "text",
        minCount = 10L)
    },
    Query("q_pii_redact")(
      """WITH t AS (SELECT doc_id,
        |  'contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.'
        |    || CAST(doc_id % 256 AS VARCHAR) || '.0.1 ' || COALESCE(text, '') AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_fp
        |FROM t""".stripMargin) { (s, dir) =>
      // the synthetic corpus carries no PII, so the fixture injects a
      // deterministic email + IPv4 per row — the oracle hashes the full
      // redacted text, so the whole match/replace surface is gated
      Tables.documentsSpread(s, dir).select(col("doc_id"),
        concat(lit("contact user"), col("doc_id"), lit("@example.com from 10."),
          col("doc_id") % 256, lit(".0.1 "), coalesce(col("text"), lit(""))).as("__pii"))
        .select(col("doc_id"),
          TextFunctions.countMatches(col("__pii"), TextFunctions.emailPattern).as("n_emails"),
          TextFunctions.countMatches(col("__pii"), TextFunctions.ipv4Pattern).as("n_ips"),
          md5(TextFunctions.redactPii(col("__pii"))).as("redacted_fp"))
    },
    Query("q_sample_stratified")(
      // dyadic fractions (k/2^m) make frac·2^32 integer-exact whether the
      // engine folds the literal as DECIMAL or DOUBLE; e-notation keeps
      // DuckDB in DOUBLE regardless
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8))::BIGINT
        |  < (CASE lang WHEN 'en' THEN 5e-1 WHEN 'zh' THEN 1e0 ELSE 75e-2 END)
        |    * 4294967296e0""".stripMargin) { (s, dir) =>
      // dyadic fractions so frac·2^32 is integer-exact in any engine
      PipelineOps.stratifiedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
        "doc_id", "lang", Map("en" -> 0.5, "zh" -> 1.0), defaultFrac = 0.75)
    },
    Query("q_sample_weighted")(
      // floor(w)+bernoulli replication; fractional parts are dyadic so
      // (w - floor(w))·2^32 is integer-exact in DOUBLE on both engines
      """WITH w AS (SELECT doc_id, lang, source,
        |    CASE lang WHEN 'en' THEN 25e-1 WHEN 'zh' THEN 25e-2 ELSE 1e0 END AS wt,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-mix'), 1, 8))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT doc_id, lang, source,
        |    CAST(floor(wt) AS BIGINT)
        |      + CASE WHEN h < (wt - floor(wt)) * 4294967296e0 THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, lang, source, CAST(unnest(range(0, n)) AS BIGINT) AS copy_idx
        |FROM c WHERE n > 0""".stripMargin) { (s, dir) =>
      // mixture weights with dyadic fractional parts (cross-engine
      // exact): en 2.5× up, zh 0.25× down, rest unchanged
      PipelineOps.upsampleByWeight(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
        "doc_id", "lang", Map("en" -> 2.5, "zh" -> 0.25))
    },
    Query("q_sample_temperature", Headline)(
      """WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |w AS (SELECT source, cnt, sqrt(CAST(cnt AS DOUBLE)) AS wt FROM c),
        |tot AS (SELECT list_reduce(list_prepend(0.0, list(wt ORDER BY source)),
        |    (a, b) -> a + b) AS tw FROM w),
        |tgt AS (SELECT source, LEAST(CAST(floor(1000 * wt / tw) AS BIGINT), cnt) AS target
        |  FROM w, tot),
        |rk AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft-temp'), doc_id)
        |      AS domain_rank
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.domain_rank
        |FROM rk r JOIN tgt t USING (source)
        |WHERE r.domain_rank <= t.target""".stripMargin) { (s, dir) =>
      // α=½ temperature mixing over the source domains: budgets
      // ∝ √count (sqrt is IEEE-exact; pow(c, α) is the libm hazard),
      // selection in deterministic (md5, id) order
      PipelineOps.temperatureSample(Tables.documents(s, dir),
        "doc_id", "source", n = 1000)
    },
    Query("q_sample_priority", Headline)(
      // α=½ temperature budgets: √count per domain, Σ folded in
      // domain-name order (one rounding per op, same as the Scala
      // driver fold), floor(n·w/W) capped at the domain count; ROW_NUMBER
      // per domain over (md5, id) = the zipWithIndex-minus-offset rank
      // priority sampling: u = (h32+1)/2^32 dyadic-exact, priority = w/u
      // is ONE IEEE division — replayed with the identical expression
      // tree (w / (…/2^32)), so doubles compare bit-equal
      """WITH w AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS weight,
        |    CAST(n_chars AS DOUBLE) /
        |      ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-prio'), 1, 8))::BIGINT + 1)
        |        / 4294967296e0) AS priority
        |  FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY priority DESC, doc_id ASC) AS rn FROM w),
        |t AS (SELECT source,
        |        coalesce(max(CASE WHEN rn = 17 THEN priority END), 0e0) AS tau
        |      FROM r WHERE rn <= 17 GROUP BY source)
        |SELECT r.doc_id, r.source, r.weight, r.priority, t.tau,
        |       greatest(r.weight, t.tau) AS est_weight
        |FROM r JOIN t USING (source) WHERE r.rn <= 16""".stripMargin) { (s, dir) =>
      // weighted sample WITHOUT replacement, 16 docs per source by
      // n_chars-weighted priority w/u — the Horvitz-Thompson
      // est_weight column sums unbiasedly to each source's total
      PipelineOps.prioritySample(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", k = 16, strataCol = Some("source"))
    },
    Query("q_decontaminate", Headline)(
      // span decontamination: 1-based SQL positions mirror the 0-based
      // Spark token indices one-for-one (start s covers s..s+n-1 in both)
      """WITH pr AS (SELECT list_distinct([array_to_string(ws[i:i+4],' ')
        |              FOR i IN generate_series(1, len(ws)-4)]) AS gs
        |            FROM (SELECT regexp_extract_all(COALESCE(text,''), '\S+') AS ws
        |                  FROM documents WHERE doc_id % 50 = 0)),
        |pg AS (SELECT DISTINCT unnest(gs) AS gram FROM pr),
        |co AS (SELECT doc_id, regexp_extract_all(COALESCE(text,''), '\S+') AS ws
        |       FROM documents WHERE doc_id % 50 <> 0),
        |cg AS (SELECT doc_id, unnest([{'s': i, 'g': array_to_string(ws[i:i+4],' ')}
        |         FOR i IN generate_series(1, len(ws)-4)], recursive := false) AS sg FROM co),
        |m AS (SELECT doc_id, sg.s AS s FROM cg JOIN pg ON sg.g = pg.gram),
        |cov AS (SELECT doc_id, unnest(range(s, s+5)) AS p FROM m),
        |cl AS (SELECT doc_id, list_sort(list(DISTINCT p)) AS cov FROM cov GROUP BY 1),
        |fin AS (SELECT c.doc_id, c.ws, COALESCE(cl.cov, []) AS cov
        |        FROM co c LEFT JOIN cl USING (doc_id))
        |SELECT doc_id,
        |  COALESCE(array_to_string([ws[i] FOR i IN generate_series(1, len(ws))
        |                   IF NOT list_contains(cov, i)], ' '), '') AS text_clean,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(cov) AS BIGINT) AS n_removed
        |FROM fin""".stripMargin) { (s, dir) =>
      // span excision twin of q_contamination: same probe split, but
      // overlapping 5-gram spans are cut out and the text rebuilt
      val d = Tables.documentsSpread(s, dir)
      PipelineOps.decontaminateSpans(d.where(col("doc_id") % 50 =!= 0),
        d.where(col("doc_id") % 50 === 0), "doc_id", "text", n = 5)
    },
    Query("q_bm25_topk", Headline)(
      // BM25 replay: quarter-power idf (sqrt∘sqrt — correctly rounded,
      // unlike ln), literal-for-literal the same constant arithmetic as
      // the Scala plan, pinned per-(query,doc) term sum
      """WITH co AS (SELECT doc_id, regexp_extract_all(COALESCE(text, ''), '\S+') AS ws
        |  FROM documents WHERE doc_id % 97 <> 0),
        |qt AS (SELECT doc_id AS query_id,
        |    unnest(list_distinct((regexp_extract_all(COALESCE(text, ''), '\S+'))[1:4])) AS term
        |  FROM documents WHERE doc_id % 97 = 0),
        |st AS (SELECT COUNT(*) AS n, CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM co),
        |tok AS (SELECT doc_id AS neighbor_id, len(ws) AS len, unnest(ws) AS term FROM co),
        |po AS (SELECT neighbor_id, term, len, COUNT(*) AS tf FROM tok
        |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
        |dfs AS (SELECT term, COUNT(*) AS df FROM po GROUP BY 1),
        |sc AS (SELECT q.query_id, p.neighbor_id,
        |    sqrt(sqrt((CAST(st.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5)))
        |      * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0)) /
        |         (CAST(p.tf AS DOUBLE)
        |           + 1.2 * (1.0 - 0.75 + 0.75 * CAST(p.len AS DOUBLE) / st.avgdl))) AS s
        |  FROM po p JOIN qt q USING (term) JOIN dfs d USING (term) CROSS JOIN st),
        |agg AS (SELECT query_id, neighbor_id,
        |    CAST(SUM(CAST(floor(s * 1099511627776.0) AS BIGINT)) AS DOUBLE)
        |      / 1099511627776.0 AS bm25
        |  FROM sc GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, bm25, rank FROM (
        |  SELECT query_id, neighbor_id, bm25,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, neighbor_id ASC) AS rank
        |  FROM agg) t
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      // lexical retrieval audit: every 97th doc's first 4 tokens stand
      // in for an audit query set, retrieving top-5 from the rest
      val d = Tables.documentsSpread(s, dir)
      val qs = d.where(col("doc_id") % 97 === 0)
        .select(col("doc_id"), array_join(slice(
          graft.functions.TextFunctions.tokens(coalesce(col("text"), lit(""))),
          1, 4), " ").as("text"))
      Bm25.bm25TopK(d.where(col("doc_id") % 97 =!= 0), qs, "doc_id", "text", k = 5)
    },
    Query("q_dsir_weights", Headline)(
      // DSIR replay: unigrams+bigrams → md5-hash32 buckets (the
      // stratifiedSample hash), add-one bucket distributions, importance
      // ratio with the exact operand order ((ct+1)·(Nr+B))/((Nt+B)·(cr+1)),
      // and the 2⁻⁴⁰ pinned per-doc mean (HUGEINT sum = Spark's split-long
      // reassembly)
      """WITH rw AS (SELECT doc_id, regexp_extract_all(COALESCE(text, ''), '\S+') AS ws
        |  FROM documents WHERE doc_id % 50 <> 0),
        |tg AS (SELECT regexp_extract_all(COALESCE(text, ''), '\S+') AS ws
        |  FROM documents WHERE doc_id % 50 = 0),
        |rb AS (SELECT doc_id,
        |    ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS b
        |  FROM (SELECT doc_id, unnest(ws || [array_to_string(ws[i:i+1], ' ')
        |          FOR i IN generate_series(1, len(ws) - 1)]) AS gram FROM rw)),
        |tb AS (SELECT ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS b
        |  FROM (SELECT unnest(ws || [array_to_string(ws[i:i+1], ' ')
        |          FOR i IN generate_series(1, len(ws) - 1)]) AS gram FROM tg)),
        |rc AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY 1),
        |tc AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY 1),
        |nr AS (SELECT COUNT(*) AS n FROM rb),
        |nt AS (SELECT COUNT(*) AS n FROM tb),
        |ps AS (SELECT rb.doc_id,
        |    LEAST((CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) * (nr.n + 4096)) /
        |          ((nt.n + 4096) * CAST(COALESCE(rc.cr, 0) + 1 AS DOUBLE)),
        |          65536.0) AS r
        |  FROM rb LEFT JOIN tc USING (b) LEFT JOIN rc USING (b)
        |  CROSS JOIN nr CROSS JOIN nt),
        |pd AS (SELECT doc_id, COUNT(*) AS n_grams,
        |    CAST(SUM(CAST(floor(r * 1099511627776.0) AS BIGINT)) AS DOUBLE)
        |      / 1099511627776.0 / COUNT(*) AS dsir_weight
        |  FROM ps GROUP BY 1)
        |SELECT w.doc_id, COALESCE(pd.n_grams, 0) AS n_grams,
        |  COALESCE(pd.dsir_weight, 0e0) AS dsir_weight
        |FROM rw w LEFT JOIN pd USING (doc_id)""".stripMargin) { (s, dir) =>
      // DSIR importance weights: every 50th doc stands in for the
      // target corpus (the contamination split), the rest is the raw
      // corpus being scored
      val d = Tables.documentsSpread(s, dir)
      Dsir.dsirWeights(d.where(col("doc_id") % 50 =!= 0),
        d.where(col("doc_id") % 50 === 0), "doc_id", "text")
    },
    Query("q_split_assign", Headline)(
      // dyadic thresholds: frac·2^32 is integer-exact in DOUBLE on both
      // engines (the stratifiedSample argument)
      """SELECT doc_id, source,
        |  CASE WHEN h < 0.90625 * 4294967296e0 THEN 'train'
        |       WHEN h < 0.953125 * 4294967296e0 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-split'), 1, 8))::BIGINT AS h
        |  FROM documents)""".stripMargin) { (s, dir) =>
      // deterministic train/val/test labels: dyadic 29/32+3/64+3/64
      // hash thresholds — a doc's split never changes as others arrive
      PipelineOps.assignSplits(
        Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
    },
    Query("q_sample_unimax", Headline)(
      // UniMax waterfill replayed by a recursive CTE over domains sorted
      // (cap asc, name asc): alloc = min(cap, left // remaining), all
      // BIGINT — bit-exact by construction; full epochs for every doc +
      // a partial epoch for the first (alloc % cnt) docs in (md5, id)
      // order, the same ROW_NUMBER-per-domain rank as the other samplers
      """WITH RECURSIVE c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |caps AS (SELECT source, cnt, cnt * 2 AS cap,
        |    ROW_NUMBER() OVER (ORDER BY cnt * 2, source) AS rn,
        |    (SELECT COUNT(*) FROM c) AS m
        |  FROM c),
        |wf(rn, leftb, alloc) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(3000 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT k.rn, wf.leftb - LEAST(k.cap, wf.leftb // (k.m - wf.rn)),
        |         LEAST(k.cap, wf.leftb // (k.m - wf.rn))
        |  FROM wf JOIN caps k ON k.rn = wf.rn + 1),
        |ep AS (SELECT k.source, k.cnt, wf.alloc // k.cnt AS full_ep,
        |    wf.alloc % k.cnt AS part
        |  FROM wf JOIN caps k USING (rn) WHERE wf.rn >= 1),
        |rk AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft-unimax'), doc_id)
        |      AS domain_rank
        |  FROM documents),
        |cp AS (SELECT r.doc_id, r.source,
        |    e.full_ep + CASE WHEN r.domain_rank <= e.part THEN 1 ELSE 0 END AS copies
        |  FROM rk r JOIN ep e USING (source))
        |SELECT doc_id, source, unnest(generate_series(0, copies - 1)) AS copy_idx
        |FROM cp WHERE copies > 0""".stripMargin) { (s, dir) =>
      // UniMax budget waterfill: n=3000 docs spread uniformly across
      // source domains, each capped at 2 epochs — pure LONG arithmetic,
      // replication + partial epoch in deterministic (md5, id) order
      PipelineOps.unimaxSample(Tables.documents(s, dir),
        "doc_id", "source", n = 3000, maxEpochs = 2L)
    },
    Query("q_text_chunks", Headline)(
      // range() is exclusive-stop (starts while start < n) and DuckDB
      // list slices are 1-based inclusive, clamped at the tail — both
      // mirror sequence(0, n-1, stride) + slice(toks, start+1, size)
      """WITH t AS (SELECT doc_id, regexp_extract_all(COALESCE(text,''), '\S+') AS ws
        |           FROM documents),
        |s AS (SELECT doc_id, ws, unnest(range(0, len(ws), 48)) AS start FROM t)
        |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
        |  CAST(len(ws[start+1 : start+64]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[start+1 : start+64], ' ') AS chunk_text
        |FROM s""".stripMargin) { (s, dir) =>
      // overlapping windows (stride < chunkSize) exercise the clamp at
      // the document tail and the sliding-window arithmetic
      PipelineOps.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 64, stride = 48)
    },
    Query("q_shard_pack", Headline)(
      // exclusive prefix sum over the md5 shuffle order (k, doc_id is a
      // total order; md5 hex compares identically in both engines), then
      // integer-floor shard assignment — mirrors shardPack's distributed
      // prefix sum exactly
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(COALESCE(text,''), '\S+')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR) || ':graft-shard') AS k
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM d)
        |SELECT doc_id, n_tokens, CAST(before // 1000 AS BIGINT) AS shard_id,
        |  CAST(before % 1000 AS BIGINT) AS shard_offset FROM p""".stripMargin) { (s, dir) =>
      // token-budget shards over the md5-shuffled corpus; budget 1000
      // gives tens of shards at gate scale so boundaries are exercised
      PipelineOps.shardPack(
        Tables.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 1000L)
    },
    Query("q_shard_payload")(
      // the same prefix chain, grouped back into per-shard file contents;
      // string_agg order (offset, id) mirrors the sort INSIDE Spark's
      // collect_list aggregate
      """WITH d AS (SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(COALESCE(text,''), '\S+')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR) || ':graft-shard') AS k
        |  FROM documents),
        |p AS (SELECT doc_id, text, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM d),
        |a AS (SELECT doc_id, text, CAST(before // 1000 AS BIGINT) AS shard_id,
        |        CAST(before % 1000 AS BIGINT) AS shard_offset FROM p)
        |SELECT shard_id, COUNT(*) AS n_rows,
        |  string_agg(text, chr(10) ORDER BY shard_offset, doc_id) AS payload
        |FROM a GROUP BY shard_id""".stripMargin) { (s, dir) =>
      // pack → materialize: the shard file contents a trainer reads
      val packed = PipelineOps.shardPack(
        Tables.documents(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          col("text")),
        "doc_id", "n_tokens", budget = 1000L)
      PipelineOps.shardPayloads(packed, "doc_id", "text")
        .select(col("shard_id"), col("n_rows"), col("payload"))
    },
    Query("q_strip_boilerplate", Headline)(
      // DISTINCT (doc, word) → doc freq; words above the threshold are
      // anti-joined out; string_agg ORDER BY the original position
      // rebuilds the surviving text in place
      """WITH l AS (SELECT doc_id,
        |    CAST(generate_subscripts(sl, 1) AS BIGINT) AS pos, unnest(sl) AS line
        |  FROM (SELECT doc_id, string_split(COALESCE(text,''), ' ') AS sl
        |        FROM documents)),
        |f AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
        |      GROUP BY line HAVING COUNT(*) > 390),
        |kp AS (SELECT doc_id, pos, line FROM l ANTI JOIN f USING (line)),
        |r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean,
        |        COUNT(*) AS n_lines_kept
        |      FROM kp GROUP BY doc_id),
        |t AS (SELECT doc_id,
        |        CAST(len(string_split(COALESCE(text,''), ' ')) AS BIGINT) AS n_total
        |      FROM documents)
        |SELECT t.doc_id, COALESCE(r.text_clean, '') AS text_clean,
        |  COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
        |  t.n_total - COALESCE(r.n_lines_kept, 0) AS n_lines_removed
        |FROM t LEFT JOIN r USING (doc_id)""".stripMargin) { (s, dir) =>
      // word granularity (the synthetic docs are single-line);
      // maxDocFreq 390 drops the ~15 near-ubiquitous words at sf0.01,
      // keeping the rebuild order-sensitive
      PipelineOps.stripBoilerplate(
        Tables.documentsSpread(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", maxDocFreq = 390L, delim = " ")
    },
    Query("q_dedup_lines", Headline)(
      // corpus-wide first occurrence = ROW_NUMBER over (doc_id, pos) —
      // the same total order as Spark's min(struct(doc_id, pos)) winner
      // aggregate (the Spark side keys on md5(line); injective here)
      """WITH l AS (SELECT doc_id,
        |    CAST(generate_subscripts(sl, 1) AS BIGINT) AS pos, unnest(sl) AS line
        |  FROM (SELECT doc_id, string_split(COALESCE(text,''), ' ') AS sl
        |        FROM documents)),
        |k AS (SELECT doc_id, pos, line,
        |        ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |      FROM l),
        |r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_dedup,
        |        COUNT(*) AS n_lines_kept
        |      FROM k WHERE rn = 1 GROUP BY doc_id),
        |t AS (SELECT doc_id,
        |        CAST(len(string_split(COALESCE(text,''), ' ')) AS BIGINT) AS n_lines
        |      FROM documents)
        |SELECT t.doc_id, COALESCE(r.text_dedup, '') AS text_dedup, t.n_lines,
        |  CAST(COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
        |FROM t LEFT JOIN r USING (doc_id)""".stripMargin) { (s, dir) =>
      // word granularity (same single-line synthetic corpus as the
      // strip query): every occurrence of a word beyond the corpus-wide
      // first (smallest doc_id, then position) is removed
      PipelineOps.dedupLines(
        Tables.documentsSpread(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", delim = " ")
    },
    Query("q_events_funnel")(
      // greedy-first funnel as per-step min() CTEs: t_{i+1} = first
      // qualifying event strictly after t_i within the window — exactly
      // the scan the Spark state machine performs in (user, ts) order.
      // SHARED with q_funnel_stream_state: the streaming twin's batch
      // fold must equal the batch operator, so the oracles cannot drift
      funnelOracle) { (s, dir) =>
      // view → click → purchase with a 2-hour per-step window,
      // greedy-first anchoring (the operator's pinned convention —
      // the oracle replays it as a chain of per-step min() CTEs)
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
      Funnel.funnel(e, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), 7200000000L)
    },
    Query("q_events_retention")(
      // retention triangle: the distinct (user, period) frame is the
      // operator's collect_set in relational form; the cohort-size
      // window's offset-0 row always exists (the cohort period is itself
      // active), and retention is a per-row long/long division —
      // identical bits on both engines, no reduction order in play
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS p
        |           FROM events),
        |up AS (SELECT DISTINCT u, p FROM e),
        |c AS (SELECT u, min(p) AS cp FROM up GROUP BY u),
        |a AS (SELECT c.cp AS cohort_period, up.p - c.cp AS period_offset,
        |        count(*) AS n_active
        |      FROM up JOIN c USING (u) GROUP BY 1, 2)
        |SELECT cohort_period, period_offset, n_active,
        |  max(CASE WHEN period_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_period) AS cohort_size,
        |  CAST(n_active AS DOUBLE) /
        |    max(CASE WHEN period_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_period) AS retention
        |FROM a""".stripMargin) { (s, dir) =>
      // daily-grain cohort retention triangle; period arithmetic is
      // pure integer µs division, so the oracle replays it exactly
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
      Retention.cohortRetention(e, "user_id", "ts_us", DAY_US)
    },
    Query("q_events_intervals")(
      // full recompute over the logically-updated table — the operator's
      // semantic contract is maintenance == recompute, bit-equal because
      // the value column is DECIMAL (order-free exact sums on both sides)
      // the same three windows in SQL — running max over preceding,
      // island heads, prefix-sum ids — then the island collapse
      """WITH e AS (SELECT user_id, epoch_us(ts) AS s0,
        |             epoch_us(ts) + 1800000000 AS e0 FROM events),
        |m AS (SELECT user_id, s0, e0,
        |        MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, e0
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM e),
        |h AS (SELECT user_id, s0, e0,
        |        CASE WHEN pm IS NULL OR s0 > pm + 0 THEN 1 ELSE 0 END AS head
        |      FROM m),
        |i AS (SELECT user_id, s0, e0,
        |        SUM(head) OVER (PARTITION BY user_id ORDER BY s0, e0
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |      FROM h)
        |SELECT user_id, MIN(s0) AS span_start, MAX(e0) AS span_end,
        |  COUNT(*) AS n_merged
        |FROM i GROUP BY user_id, island""".stripMargin) { (s, dir) =>
      // per-user activity coverage: each event opens a 30-minute
      // interval, overlapping/touching ones coalesce — interval-merge
      // sessionization, the islands-and-gaps construction
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
        .select(col("user_id"), col("ts_us").as("ivl_start"),
          (col("ts_us") + lit(1800000000L)).as("ivl_end"))
      Intervals.mergeIntervals(e, "user_id", "ivl_start", "ivl_end")
    },
    Query("q_events_anomaly")(
      // the same quantized moments and the same per-row z arithmetic,
      // parenthesized identically; long window sums are order-free so
      // the segment-tree/linear-frame difference cannot show. SHARED
      // with q_anomaly_stream_state (the streaming twin's batch fold)
      anomalyOracle) { (s, dir) =>
      // rolling 24-event z-scores per event type; values quantized to
      // 2^-10 so the window moments are exact long sums (identical
      // under Spark's linear frames and DuckDB's segment trees)
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
        .select(col("event_id"), col("event_type"), col("ts_us"), col("value"))
      Anomaly.rollingZScores(e, "event_type", "ts_us", "event_id", "value",
          windowN = 24)
        .select("event_id", "event_type", "ts_us", "value", "zq", "is_anomaly")
    },
    Query("q_graph_pagerank")(pageRankOracle) { (s, dir) =>
      // link-graph centrality on the customer→supplier purchase graph
      // (supplier ids offset into their own node space); 3 pinned
      // iterations of integer micro-unit arithmetic — the fixed-point
      // design makes the shuffled sums bit-identical on both engines
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + GRAPH_ID_OFFSET).as("dst"))
      PageRank.pageRank(edges, "src", "dst", iters = 3)
    },
    Query("q_graph_components")(
      // min-reachable-id closure over the undirected edge set — the
      // losers-CTE precedent, components instead of survivors
      s"""WITH RECURSIVE edges AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + $GRAPH_ID_OFFSET AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_orderkey % 50 = 0),
        |e2 AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |reach(id, r) AS (
        |  SELECT src, dst FROM e2
        |  UNION
        |  SELECT e.src, r.r FROM e2 e JOIN reach r ON e.dst = r.id)
        |SELECT id AS node, LEAST(id, MIN(r)) AS component
        |FROM reach GROUP BY id""".stripMargin) { (s, dir) =>
      // connected components of a sparsified purchase graph (every
      // 50th order) — sparse enough for several components; the oracle
      // is the recursive min-reachable-id closure
      val o = Tables.orders(s, dir)
        .where(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + GRAPH_ID_OFFSET).as("dst"))
      GraphComponents.connectedComponents(edges, "src", "dst")
    },
    Query("q_anomaly_stream_state")(anomalyOracle) { (s, dir) =>
      // the streaming anomaly twin's batch path: same quantized rolling
      // fold per type, so the oracle is q_events_anomaly's SQL verbatim
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
      StreamingDemo.anomalyStream(e, "event_type", "ts_us", "event_id",
        "value", windowN = 24).toDF()
    },
    Query("q_funnel_stream_state")(funnelOracle) { (s, dir) =>
      // the streaming funnel twin's batch path: same greedy-first fold
      // per user, final row only — must equal the batch operator, so
      // the oracle is q_events_funnel's SQL verbatim
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
      StreamingDemo.funnelStream(e, "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), 7200000000L).toDF()
    },
    Query("q_budget_admit_stream")(
      // the budget-admission twin: inclusive running weight over the
      // (ts_us, event_id) order, kept while <= budget — the oracle can
      // afford the global window the Spark side's prefix sum avoids
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us,
        |             event_id % 97 AS weight FROM events)
        |SELECT event_id, ts_us, weight, cum_weight FROM (
        |  SELECT event_id, ts_us, weight,
        |    CAST(SUM(weight) OVER (ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_weight
        |  FROM e) t
        |WHERE cum_weight <= 200000""".stripMargin) { (s, dir) =>
      // the streaming budget-admission twin's batch path — which IS
      // the anchor operator (selectByBudget's distributed prefix sum
      // at (ts ASC, id ASC) via the negated score). Weight = event_id
      // % 97 (deterministic, engine-replayable); budget 200k cuts
      // ~4.1k events in at sf0.01, so the prefix boundary is exercised
      StreamingDemo.budgetAdmitStream(
        Tables.eventsRawNanos(s, dir)
          .select(col("event_id"), expr(NS_TO_US).as("ts_us"),
            pmod(col("event_id"), lit(97L)).as("weight")),
        "event_id", "ts_us", "weight", budget = 200000L).toDF()
    },
    Query("q_changelog_stream_state")(
      // same winner order as the stream's fold: version DESC, then op
      // ('U' > 'D'), then payload — (okey, version) is unique here so
      // version alone decides
      """WITH base AS (SELECT o_orderkey AS okey, o_orderpriority AS pri
        |              FROM orders),
        |chg AS (
        |  SELECT okey, CAST(0 AS BIGINT) AS version, 'U' AS op, pri AS payload
        |  FROM base
        |  UNION ALL SELECT okey, 1, 'U', 're-' || pri FROM base WHERE okey % 7 = 0
        |  UNION ALL SELECT okey, 2, 'U', 're2-' || pri FROM base WHERE okey % 7 = 0
        |  UNION ALL SELECT okey, 3, 'D', '' FROM base WHERE okey % 11 = 0),
        |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY okey
        |        ORDER BY version DESC, op DESC, payload DESC) AS rn FROM chg)
        |SELECT okey, version, op, payload FROM w WHERE rn = 1""".stripMargin) { (s, dir) =>
      // the streaming CDC twin's batch path: fold the same derived
      // changelog (v0 baseline, v1/v2 re-prices on %7 keys, v3 deletes
      // on %11 keys) to one winner row per key, tombstones included
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority").as("pri"))
      def mk(f: DataFrame, v: Long, op: String,
             pay: org.apache.spark.sql.Column): DataFrame =
        f.select(col("okey"), lit(v).as("version"), lit(op).as("op"),
          pay.as("payload"))
      val chg = mk(base, 0L, "U", col("pri"))
        .unionByName(mk(base.where(col("okey") % 7 === 0), 1L, "U",
          concat(lit("re-"), col("pri"))))
        .unionByName(mk(base.where(col("okey") % 7 === 0), 2L, "U",
          concat(lit("re2-"), col("pri"))))
        .unionByName(mk(base.where(col("okey") % 11 === 0), 3L, "D", lit("")))
      StreamingDemo.applyChangelogStream(chg, keyCol = "okey")
        .toDF("okey", "version", "op", "payload")
    },
    Query("q_changelog_apply")(
      // (key, version) is unique in the fixture, so ROW_NUMBER over
      // version DESC is the same winner the Spark max(struct) picks;
      // +1000.0*v is per-row double arithmetic, identical bits on both
      // engines (no reduction order in play)
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    CAST(-1 AS BIGINT) AS version, 'U' AS op FROM orders),
        |ups AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 1000.0 * v AS o_totalprice,
        |    CAST(v AS BIGINT) AS version, 'U' AS op
        |  FROM orders, (VALUES (1), (2)) t(v) WHERE o_orderkey % 7 = 0),
        |dels AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    CAST(3 AS BIGINT) AS version, 'D' AS op
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |u AS (SELECT * FROM snap UNION ALL SELECT * FROM ups
        |      UNION ALL SELECT * FROM dels),
        |w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |        ORDER BY version DESC) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  version AS last_version
        |FROM w WHERE rn = 1 AND op <> 'D'""".stripMargin) { (s, dir) =>
      // CDC apply on the orders snapshot: keys %7==0 get two versioned
      // re-prices (v1 +1000, v2 +2000 — v2 must win), keys %11==0 get a
      // v3 delete (overriding the upserts on %77 keys); the changelog
      // is derived from the table itself so the oracle rebuilds it
      // exactly
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val snap = Tables.orders(s, dir).select(cols.map(col): _*)
      val ups = snap.where(col("o_orderkey") % 7 === 0)
        .withColumn("version", explode(array(lit(1L), lit(2L))))
        .withColumn("o_totalprice",
          col("o_totalprice") + lit(1000.0) * col("version"))
        .withColumn("op", lit("U"))
      val dels = snap.where(col("o_orderkey") % 11 === 0)
        .withColumn("version", lit(3L)).withColumn("op", lit("D"))
      ChangeApply.applyChangelog(snap, ups.unionByName(dels),
        Seq("o_orderkey"), "version", "op")
    },
    Query("q_incr_agg_stream_state")(
      // per-key version-ordered fold: dedupe same-version deliveries to
      // the first (op, value) — the stream's strictly-greater rule —
      // then signed integer sums (order-free, exact on both engines)
      """WITH o AS (SELECT o_orderkey AS okey,
        |             CAST(FLOOR(o_totalprice) AS BIGINT) AS v FROM orders),
        |chg AS (
        |  SELECT okey, CAST(0 AS BIGINT) AS version, 'I' AS op, v AS value
        |  FROM o
        |  UNION ALL SELECT okey, 1, 'I', 1000 FROM o WHERE okey % 7 = 0
        |  UNION ALL SELECT okey, 1, 'I', 1000 FROM o WHERE okey % 7 = 0
        |  UNION ALL SELECT okey, 2, 'D', v FROM o WHERE okey % 11 = 0),
        |d AS (SELECT okey, version, op, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY okey, version
        |           ORDER BY op, value) AS rn FROM chg) t
        |  WHERE rn = 1)
        |SELECT okey AS key, MAX(version) AS last_version,
        |  CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE -1 END) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN op = 'I' THEN value ELSE -value END) AS BIGINT)
        |    AS total
        |FROM d GROUP BY okey""".stripMargin) { (s, dir) =>
      // the streaming agg-maintenance twin's batch path: fold a
      // versioned changelog (v0 inserts for all keys, v1 +1000 re-adds
      // on %7 keys DELIVERED TWICE, v2 deletes on %11 keys) to one
      // maintained (count, sum) row per key — the duplicate v1
      // delivery is skipped by the strictly-greater version rule, so
      // redelivery idempotency is pinned inside the gate itself
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        floor(col("o_totalprice")).cast("long").as("v"))
      def mk(f: DataFrame, ver: Long, op: String,
             value: org.apache.spark.sql.Column): DataFrame =
        f.select(col("okey"), lit(ver).as("version"), lit(op).as("op"),
          value.as("value"))
      val dupd = mk(o.where(col("okey") % 7 === 0), 1L, "I", lit(1000L))
      val chg = mk(o, 0L, "I", col("v"))
        .unionByName(dupd).unionByName(dupd)
        .unionByName(mk(o.where(col("okey") % 11 === 0), 2L, "D", col("v")))
      StreamingDemo.maintainAggStream(chg, keyCol = "okey").toDF()
    },
    Query("q_incr_agg_maintain")(
      """WITH o AS (SELECT o_orderkey AS okey, o_orderpriority AS pri,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS val FROM orders),
        |final_rows AS (
        |  SELECT pri, val FROM o WHERE okey % 11 <> 0 AND okey % 7 <> 0
        |  UNION ALL
        |  SELECT pri, val + 1000 AS val FROM o
        |  WHERE okey % 7 = 0 AND okey % 11 <> 0
        |  UNION ALL
        |  SELECT 'X-NEW' AS pri, val FROM o WHERE okey % 13 = 0)
        |SELECT pri, COUNT(*) AS n_rows, CAST(SUM(val) AS DOUBLE) AS total
        |FROM final_rows GROUP BY pri""".stripMargin) { (s, dir) =>
      // incremental view maintenance: the per-priority (count, sum)
      // aggregate maintained from a changelog — re-prices (%7 \ %11)
      // as D(old)+I(new), deletes (%11), and a BORN group ('X-NEW',
      // %13). The oracle recomputes the aggregate from scratch; the
      // decimal value column makes maintenance == recompute exact
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("okey"),
        col("o_orderpriority").as("pri"),
        col("o_totalprice").cast("decimal(18,2)").as("val"))
      val base = o.groupBy("pri")
        .agg(count(lit(1)).as("n_rows"), sum(col("val")).as("total"))
      val reK = o.where(col("okey") % 7 === 0 && col("okey") % 11 =!= 0)
      val changes = reK.select(col("pri"), col("val"), lit("D").as("op"))
        .unionByName(reK.select(col("pri"),
          (col("val") + lit(1000).cast("decimal(18,2)")).as("val"),
          lit("I").as("op")))
        .unionByName(o.where(col("okey") % 11 === 0)
          .select(col("pri"), col("val"), lit("D").as("op")))
        .unionByName(o.where(col("okey") % 13 === 0)
          .select(lit("X-NEW").as("pri"), col("val"), lit("I").as("op")))
      IncrementalAgg.maintainSumCount(base, changes, Seq("pri"), "val", "op")
        .select(col("pri"), col("n_rows"),
          col("total").cast("double").as("total"))
    },
    Query("q_tfidf_terms")(
      // same (tf, df, N) counts, same quarter-power idf arithmetic
      """WITH tf AS (
        |  SELECT doc_id, unnest(regexp_extract_all(COALESCE(text, ''), '\S+')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tfc),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    CAST(tf AS DOUBLE) *
        |      sqrt(sqrt((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |                / (CAST(df AS DOUBLE) + 0.5))) AS tfidf
        |  FROM tfc JOIN dfc USING (term), nd)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS rank FROM scored) t
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      // per-document keyword extraction: top-5 terms by tf · the
      // quarter-power idf (the Bm25 exactness deviation — ln-free)
      PipelineOps.topTfidfTerms(Tables.documentsSpread(s, dir)
        .select(col("doc_id"), col("text")), "doc_id", "text", k = 5)
    },
    Query("q_collocations")(
      // the same χ² spelling as keyness over the bigram/margin table;
      // minCount applies after margins (they come from the FULL pair set)
      """WITH t AS (SELECT regexp_extract_all(COALESCE(text, ''), '\S+') AS toks
        |           FROM documents),
        |bgx AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM bgx),
        |pc AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY 1, 2),
        |lm AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_left
        |       FROM pc GROUP BY 1),
        |rm AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS n_right
        |       FROM pc GROUP BY 1),
        |nn AS (SELECT CAST(COALESCE(SUM(n_pair), 0) AS BIGINT) AS n FROM pc)
        |SELECT w1, w2, n_pair, n_left, n_right,
        |  (CAST(n AS DOUBLE) *
        |   ((CAST(n_pair AS DOUBLE)
        |      * CAST((n - n_left - n_right) + n_pair AS DOUBLE)
        |     - CAST(n_left - n_pair AS DOUBLE)
        |      * CAST(n_right - n_pair AS DOUBLE))
        |    * (CAST(n_pair AS DOUBLE)
        |      * CAST((n - n_left - n_right) + n_pair AS DOUBLE)
        |     - CAST(n_left - n_pair AS DOUBLE)
        |      * CAST(n_right - n_pair AS DOUBLE))))
        |  / ((CAST(n_left AS DOUBLE) * CAST(n - n_left AS DOUBLE))
        |     * (CAST(n_right AS DOUBLE) * CAST(n - n_right AS DOUBLE)))
        |    AS chi2
        |FROM pc JOIN lm USING (w1) JOIN rm USING (w2), nn
        |WHERE n_pair >= 5
        |ORDER BY chi2 DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin) { (s, dir) =>
      // phrase mining: the 50 most-associated adjacent token pairs by
      // 2×2 χ² vs margin independence, hapaxes guarded at minCount 5
      PipelineOps.collocations(Tables.documentsSpread(s, dir), "text", k = 50)
    },
    Query("q_k_anonymity")(
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS cs
        |           FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |  CAST(COALESCE(SUM(CASE WHEN cs < 10 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_violating,
        |  CAST(COALESCE(SUM(CASE WHEN cs < 10 THEN cs ELSE 0 END), 0) AS BIGINT)
        |    AS rows_at_risk,
        |  MIN(cs) AS min_class_size
        |FROM c""".stripMargin) { (s, dir) =>
      // release-gate audit on (nation, market segment) quasi-ids over
      // customers, k=10: classes, violators, rows at risk, worst size
      Privacy.kAnonymityAudit(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)
    },
    Query("q_k_anon_violations")(
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 25
        |ORDER BY class_size ASC, c_nationkey ASC, c_mktsegment ASC
        |LIMIT 40""".stripMargin) { (s, dir) =>
      // the riskiest classes themselves, smallest first (k=25 so the
      // gate fixture actually yields rows)
      Privacy.kAnonymityViolations(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 25L, top = 40)
    },
    Query("q_ks_drift")(
      // the oracle CAN afford the global cumulative window at gate
      // scale; the Spark side replaces it with a distributed prefix sum
      // — same exact longs, same per-row division, same argmax tiebreak
      """WITH s AS (SELECT o_totalprice AS v,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS b
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |    AND o_orderpriority IS NOT NULL),
        |counts AS (SELECT v, CAST(SUM(a) AS BIGINT) AS na,
        |             CAST(SUM(b) AS BIGINT) AS nb FROM s GROUP BY v),
        |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS n,
        |               CAST(SUM(nb) AS BIGINT) AS m FROM counts),
        |cum AS (SELECT v,
        |    CAST(SUM(na) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
        |    CAST(SUM(nb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
        |  FROM counts)
        |SELECT abs(CAST(ca AS DOUBLE) / CAST(n AS DOUBLE)
        |         - CAST(cb AS DOUBLE) / CAST(m AS DOUBLE)) AS ks_stat,
        |  v AS at_value, n AS n_a, m AS n_b
        |FROM cum, tot
        |ORDER BY ks_stat DESC, at_value ASC LIMIT 1""".stripMargin) { (s, dir) =>
      // exact KS statistic between urgent and non-urgent order price
      // distributions — the numeric-drift alarm; the cumulative runs
      // as a distributed prefix sum, never a global window
      val o = Tables.orders(s, dir)
      Drift.ksTwoSample(
        o.where(col("o_orderpriority") === "1-URGENT"),
        o.where(col("o_orderpriority") =!= "1-URGENT"),
        "o_totalprice")
    },
    Query("q_drift_tv")(
      // ln-free TV: HUGEINT cross-products mirror Spark's DECIMAL(38,0)
      // term-for-term; the one double division comes last in both
      """WITH u AS (
        |  SELECT o_orderpriority AS c, 1 AS xa, 0 AS xb FROM orders
        |    WHERE o_orderdate < TIMESTAMP '1998-07-01'
        |  UNION ALL
        |  SELECT o_orderpriority AS c, 0 AS xa, 1 AS xb FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1998-07-01'),
        |counts AS (SELECT c, CAST(SUM(xa) AS BIGINT) AS ca,
        |             CAST(SUM(xb) AS BIGINT) AS cb FROM u GROUP BY c),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |          CAST(SUM(cb) AS BIGINT) AS nb,
        |          COUNT(*) AS ncat FROM counts)
        |SELECT
        |  CAST(SUM(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
        |       AS DOUBLE)
        |    / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS tv_dist,
        |  na AS n_a, nb AS n_b, ncat AS n_categories
        |FROM counts, tot GROUP BY na, nb, ncat""".stripMargin) { (s, dir) =>
      // categorical drift: did the order-priority MIX move between the
      // early and late halves of the order history? Exact ln-free TV
      // distance — one category shuffle, 1-row result. Pivot at the
      // fixture's midpoint (dates span 1995..2001 at every SF)
      val o = Tables.orders(s, dir)
      Drift.tvDistance(
        o.where(col("o_orderdate") < lit("1998-07-01").cast("timestamp")),
        o.where(col("o_orderdate") >= lit("1998-07-01").cast("timestamp")),
        "o_orderpriority")
    },
    Query("q_drift_tv_windowed")(
      // per-window TV vs the global reference; the missing-mass term
      // (nb − Σ present cb)·na closes the category union without an
      // outer join, replayed textually — exact HUGEINTs to one division.
      // FLOOR bucketing via the positive-mod spelling: DuckDB's integer
      // `//` TRUNCATES toward zero (verified: (-1)::BIGINT // 100 = 0),
      // so `tu − ((tu % w) + w) % w` is the exact-integer mirror of the
      // Spark side's `ts − pmod(ts, w)` for either sign
      s"""WITH e0 AS (SELECT epoch_us(ts) AS tu, event_type AS c
        |            FROM events WHERE ts IS NOT NULL),
        |e AS (SELECT tu - ((tu % $DAY_US) + $DAY_US) % $DAY_US AS w, c
        |      FROM e0),
        |ref AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cb FROM e GROUP BY c),
        |rt AS (SELECT CAST(SUM(cb) AS BIGINT) AS nb FROM ref),
        |wc AS (SELECT w, c, CAST(COUNT(*) AS BIGINT) AS ca FROM e GROUP BY w, c),
        |wt AS (SELECT w, CAST(SUM(ca) AS BIGINT) AS na FROM wc GROUP BY w),
        |terms AS (SELECT wc.w, wt.na, rt.nb,
        |    abs(CAST(wc.ca AS HUGEINT) * rt.nb
        |        - CAST(COALESCE(r.cb, 0) AS HUGEINT) * wt.na) AS term,
        |    CAST(COALESCE(r.cb, 0) AS HUGEINT) AS cb0
        |  FROM wc LEFT JOIN ref r ON wc.c IS NOT DISTINCT FROM r.c
        |  JOIN wt ON wc.w = wt.w, rt)
        |SELECT w AS window_start, na AS n_events,
        |  CAST(SUM(term) + (nb - SUM(cb0)) * CAST(na AS HUGEINT) AS DOUBLE)
        |    / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS tv_dist
        |FROM terms GROUP BY w, na, nb""".stripMargin) { (s, dir) =>
      // the drift-dashboard series: each day's event-type mix vs the
      // whole-corpus reference distribution, exact TV per window
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
      val ref = e.groupBy(col("event_type").as("category"))
        .agg(count(lit(1)).as("n"))
      Drift.windowedTvDrift(e, "ts_us", "event_type", DAY_US, ref)
    },
    Query("q_corpus_keyness")(
      // 2×2 χ² keyness, arithmetic mirrored textually (casts, the single
      // subtraction, the two final roundings — all in the same order)
      """WITH a AS (SELECT unnest(regexp_extract_all(COALESCE(text, ''), '\S+')) AS word
        |           FROM documents WHERE lang = 'en'),
        |b AS (SELECT unnest(regexp_extract_all(COALESCE(text, ''), '\S+')) AS word
        |      FROM documents WHERE lang <> 'en'),
        |ca AS (SELECT word, count(*) AS cnt_a FROM a GROUP BY word),
        |cb AS (SELECT word, count(*) AS cnt_b FROM b GROUP BY word),
        |ta AS (SELECT CAST(COALESCE(SUM(cnt_a), 0) AS BIGINT) AS tta FROM ca),
        |tb AS (SELECT CAST(COALESCE(SUM(cnt_b), 0) AS BIGINT) AS ttb FROM cb),
        |j AS (SELECT word, COALESCE(cnt_a, 0) AS cnt_a,
        |             COALESCE(cnt_b, 0) AS cnt_b
        |      FROM ca FULL JOIN cb USING (word))
        |SELECT word, cnt_a, cnt_b,
        |  (CAST(tta + ttb AS DOUBLE) *
        |   ((CAST(cnt_a AS DOUBLE) * CAST(ttb - cnt_b AS DOUBLE)
        |     - CAST(cnt_b AS DOUBLE) * CAST(tta - cnt_a AS DOUBLE))
        |    * (CAST(cnt_a AS DOUBLE) * CAST(ttb - cnt_b AS DOUBLE)
        |     - CAST(cnt_b AS DOUBLE) * CAST(tta - cnt_a AS DOUBLE))))
        |  / ((CAST(cnt_a + cnt_b AS DOUBLE)
        |      * CAST((tta - cnt_a) + (ttb - cnt_b) AS DOUBLE))
        |     * (CAST(tta AS DOUBLE) * CAST(ttb AS DOUBLE))) AS chi2,
        |  CAST(CASE WHEN cnt_a * ttb > cnt_b * tta THEN 1
        |            WHEN cnt_a * ttb < cnt_b * tta THEN -1
        |            ELSE 0 END AS BIGINT) AS direction
        |FROM j, ta, tb
        |ORDER BY chi2 DESC, word ASC LIMIT 50""".stripMargin) { (s, dir) =>
      // drift report: the 50 tokens most over/under-represented in the
      // English slice vs the rest, ranked by the 2×2 χ² (ln-free by
      // design, so scores are bit-identical cross-engine)
      val d = Tables.documentsSpread(s, dir)
      PipelineOps.corpusKeyness(d.where(col("lang") === "en"),
        d.where(col("lang") =!= "en"), "text", k = 50)
    },
    Query("q_heavy_hitters")(
      // the sketch is candidates-only machinery; the RESULT contract is
      // the plain frequent-items definition, which SQL states directly
      """WITH w AS (SELECT unnest(regexp_extract_all(COALESCE(text,''), '\S+')) AS value
        |           FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM w)
        |SELECT w.value, CAST(count(*) AS BIGINT) AS cnt, t.total
        |FROM w, t GROUP BY w.value, t.total
        |HAVING count(*) * 32 > t.total""".stripMargin) { (s, dir) =>
      // every word above 1/32 of the corpus token mass, exact counts:
      // MG sketch pass (bounded state, complete candidates) + confirm
      // pass over the ≤k candidates only — the full vocabulary never
      // shuffles
      HeavyHitters.frequentTokens(Tables.documentsSpread(s, dir), "text", k = 32)
    },
    Query("q_fuzzy_join")(
      // FastSS/SymSpell deletion-neighborhood blocking replayed in SQL:
      // identity ∪ single-deletion keys, key equi-join, exact
      // levenshtein confirm (both engines' substr is 1-based
      // character-semantics length-clamped; both levenshteins are
      // unit-cost DP)
      """WITH n AS (SELECT c_custkey AS id, c_name AS name FROM customer
        |           WHERE c_name IS NOT NULL),
        |keys AS (
        |  SELECT id, name AS key FROM n
        |  UNION ALL
        |  SELECT id, substr(name, 1, CAST(i-1 AS INT)) ||
        |         substr(name, CAST(i+1 AS INT)) AS key
        |  FROM (SELECT id, name, unnest(range(1, length(name)+1)) AS i FROM n)
        |),
        |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |          FROM keys a JOIN keys b ON a.key = b.key AND a.id < b.id)
        |SELECT p.id_a, p.id_b, x.name AS name_a, y.name AS name_b,
        |  CAST(levenshtein(x.name, y.name) AS BIGINT) AS dist
        |FROM pairs p JOIN n x ON x.id = p.id_a JOIN n y ON y.id = p.id_b
        |WHERE levenshtein(x.name, y.name) <= 1""".stripMargin) { (s, dir) =>
      // record linkage on customer names: every pair within edit
      // distance 1 (the zero-padded ids make one-digit substitutions
      // dense — ~19.5k pairs at sf0.01), found via deletion-key
      // blocking, never a pairwise scan
      FuzzyJoin.editDist1SelfJoin(
        Tables.customer(s, dir), "c_custkey", "c_name")
    },
    Query("q_dedup_intradoc")(
      // doc-local first occurrence = ROW_NUMBER over pos within
      // (doc_id, line) — the same order array_distinct keeps
      """WITH l AS (SELECT doc_id,
        |    CAST(generate_subscripts(sl, 1) AS BIGINT) AS pos, unnest(sl) AS line
        |  FROM (SELECT doc_id, string_split(COALESCE(text,''), ' ') AS sl
        |        FROM documents)),
        |k AS (SELECT doc_id, pos, line,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |      FROM l),
        |r AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_dedup,
        |        COUNT(*) AS n_lines_kept
        |      FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(r.text_dedup, '') AS text_dedup,
        |  CAST(len(string_split(COALESCE(d.text,''), ' ')) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
        |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin) { (s, dir) =>
      // word granularity (single-line synthetic corpus): repeats of a
      // word WITHIN a document collapse to the doc-local first
      // occurrence; zero-shuffle row-local projection
      PipelineOps.dedupLinesInDoc(
        Tables.documentsSpread(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", delim = " ")
    },
    Query("q_text_normalize") {
      // the dirty fixture and the normalization chain are BOTH generated
      // from TextNormalize's pinned tables (sqlLit/oracleExpr), so the
      // Spark query and this oracle cannot drift
      val dirty = s"${TextNormalize.sqlLit(DIRTY_PREFIX)} || " +
        "COALESCE(text,'') || '  '"
      val norm = TextNormalize.oracleExpr(dirty)
      s"""SELECT doc_id, $norm AS text_norm,
         |  CAST(length($dirty) AS BIGINT) AS len_raw,
         |  CAST(length($norm) AS BIGINT) AS len_norm
         |FROM documents""".stripMargin
    } { (s, dir) =>
      // each document decorated with the dirty fixture prefix (every
      // pinned mojibake entry + NFC + control/zero-width/NBSP + tab
      // runs) and trailing spaces, then normalized; the oracle builds
      // the IDENTICAL dirty text and runs TextNormalize.oracleExpr
      val raw = concat(lit(DIRTY_PREFIX),
        coalesce(col("text"), lit("")), lit("  "))
      Tables.documentsSpread(s, dir).select(col("doc_id"),
          TextNormalize.normalizeText(raw).as("text_norm"),
          length(raw).cast("long").as("len_raw"))
        .withColumn("len_norm", length(col("text_norm")).cast("long"))
    },
    Query("q_vocab_topk", Headline)(
      // (tf DESC, word) is a total order — words are unique per group —
      // so the LIMIT cut is deterministic on both engines
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(COALESCE(text,''), '\S+')) AS word
        |           FROM documents),
        |pd AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY 1, 2)
        |SELECT word, CAST(SUM(n) AS BIGINT) AS tf, COUNT(*) AS doc_freq
        |FROM pd GROUP BY word
        |ORDER BY tf DESC, word LIMIT 50""".stripMargin) { (s, dir) =>
      PipelineOps.vocabProfile(Tables.documentsSpread(s, dir), "doc_id", "text", k = 50)
    },
    Query("q_snapshot_diff")(
      // digests row-local on both sides, one full-outer id join — the
      // fixture mutations (drop %13, revise %7, add %11 twins) are
      // replayed textually
      s"""WITH oldc AS (SELECT doc_id, md5(COALESCE(text, '')) AS old_digest
        |              FROM documents),
        |newsrc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN COALESCE(text, '') || ' :rev2'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + $ID_OFFSET AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |newc AS (SELECT doc_id, md5(COALESCE(text, '')) AS new_digest
        |         FROM newsrc)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.old_digest = n.new_digest THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.old_digest, n.new_digest
        |FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id""".stripMargin) { (s, dir) =>
      // crawl-refresh delta: new snapshot drops every 13th doc,
      // revises every 7th, adds an offset twin for every 11th —
      // deterministic known positives for all four statuses
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val newSnap = d.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(coalesce(col("text"), lit("")), lit(" :rev2")))
          .otherwise(col("text")))
        .unionByName(d.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + ID_OFFSET).as("doc_id"), col("text")))
      PipelineOps.snapshotDiff(d, newSnap, "doc_id", "text")
    },
    Query("q_oov_rate")(
      // same deterministic (tf DESC, word ASC) vocab cut as q_vocab_topk,
      // LEFT JOIN membership, exact-long ratio division
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(COALESCE(text,''), '\S+')) AS word
        |           FROM documents),
        |pd AS (SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |vocab AS (SELECT word FROM (
        |  SELECT word, CAST(SUM(n) AS BIGINT) AS tf FROM pd GROUP BY word
        |  ORDER BY tf DESC, word LIMIT 200) t)
        |SELECT doc_id,
        |  COUNT(*) AS n_tokens,
        |  CAST(COALESCE(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END), 0)
        |       AS BIGINT) AS n_oov,
        |  CAST(COALESCE(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END), 0)
        |       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_ratio
        |FROM w LEFT JOIN vocab v ON w.word = v.word
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      // tokenizer-coverage audit: per-doc fraction of tokens outside
      // the corpus's own top-200 vocabulary — broadcast vocab against
      // the exploded token stream, one doc-key shuffle
      PipelineOps.oovRate(Tables.documentsSpread(s, dir), "doc_id", "text",
        vocabSize = 200)
    },
    Query("q_oov_rate_supplied")(
      // the same vocab machinery as q_oov_rate, but the cut comes from
      // the lang='en' slice only — the supplied-vocabulary overload
      """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(COALESCE(text,''), '\S+')) AS word
        |           FROM documents),
        |we AS (SELECT doc_id, unnest(regexp_extract_all(COALESCE(text,''), '\S+')) AS word
        |       FROM documents WHERE lang = 'en'),
        |pd AS (SELECT doc_id, word, COUNT(*) AS n FROM we GROUP BY 1, 2),
        |vocab AS (SELECT word FROM (
        |  SELECT word, CAST(SUM(n) AS BIGINT) AS tf FROM pd GROUP BY word
        |  ORDER BY tf DESC, word LIMIT 100) t)
        |SELECT doc_id,
        |  COUNT(*) AS n_tokens,
        |  CAST(COALESCE(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END), 0)
        |       AS BIGINT) AS n_oov,
        |  CAST(COALESCE(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END), 0)
        |       AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_ratio
        |FROM w LEFT JOIN vocab v ON w.word = v.word
        |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      // FOREIGN-tokenizer audit (the supplied-vocabulary overload):
      // the whole corpus scored against only the English slice's
      // top-100 vocabulary — "how badly does an en-fit vocab shred
      // the other languages?"
      val d = Tables.documentsSpread(s, dir)
      PipelineOps.oovRateAgainst(d, "doc_id", "text",
        PipelineOps.vocabProfile(d.where(col("lang") === "en"),
          "doc_id", "text", k = 100), "word")
    },
    Query("q_shuffle_order")(
      // the seeded md5 order, materialized: ROW_NUMBER over
      // (md5(seed:id), id) — the engine-replayable corpus shuffle
      """SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5('20260816:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS shuffle_pos
        |FROM documents""".stripMargin) { (s, dir) =>
      // deterministic training-order materialization: every doc's
      // 1-based position in the seeded md5 order — reproducible shard
      // write order, replayed exactly by the oracle's ROW_NUMBER
      PipelineOps.shuffleOrder(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", seed = 20260816L)
    },
    Query("q_domain_diversity")(
      // HUGEINT mirrors DECIMAL(38,0) term-for-term; ONE double division
      """WITH c AS (SELECT source AS cat, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, COUNT(*) AS ncat,
        |        CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS ss
        |      FROM c)
        |SELECT tot AS n_rows, ncat AS n_categories,
        |  CAST(CAST(tot AS HUGEINT) * tot - ss AS DOUBLE)
        |    / CAST(CAST(tot AS HUGEINT) * tot AS DOUBLE) AS simpson_diversity
        |FROM t""".stripMargin) { (s, dir) =>
      // mixture-balance diagnostic: exact Simpson diversity of the
      // source mix — ln-free (vs Shannon), so the score is exact
      // integer arithmetic to one trailing division
      PipelineOps.categoricalDiversity(Tables.documents(s, dir), "source")
    },
    Query("q_diversity_windowed")(
      // same floor-bucketed window counts as q_drift_tv_windowed, same
      // HUGEINT Simpson terms as q_domain_diversity, per window
      s"""WITH e0 AS (SELECT epoch_us(ts) AS tu, event_type AS c
        |            FROM events WHERE ts IS NOT NULL),
        |e AS (SELECT tu - ((tu % $DAY_US) + $DAY_US) % $DAY_US AS w, c
        |      FROM e0),
        |wc AS (SELECT w, c, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM e GROUP BY w, c)
        |SELECT w AS window_start, CAST(SUM(n) AS BIGINT) AS n_events,
        |  COUNT(*) AS n_categories,
        |  CAST(CAST(SUM(n) AS HUGEINT) * SUM(n)
        |         - SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)
        |    / CAST(CAST(SUM(n) AS HUGEINT) * SUM(n) AS DOUBLE)
        |    AS simpson_diversity
        |FROM wc GROUP BY w""".stripMargin) { (s, dir) =>
      // the monoculture-alarm dashboard series: each day's event-type
      // Simpson diversity — same shared (window, category) count
      // stage as q_drift_tv_windowed, same exact per-window reduce
      val e = Tables.eventsRawNanos(s, dir)
        .withColumn("ts_us", expr(NS_TO_US))
      PipelineOps.windowedDiversity(e, "ts_us", "event_type", DAY_US)
    },
    Query("q_select_budget")(
      // the strict-prefix budget cut: inclusive running sum over the
      // (score DESC, id) order, kept while <= budget — the oracle can
      // afford the global window the Spark side's prefix sum avoids.
      // No COALESCE: the operator contract forbids NULL weights (raises
      // loudly, spec-pinned), so the oracle assumes non-NULL too
      """SELECT doc_id, lang, n_chars, cum_weight FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY n_chars DESC NULLS LAST, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_weight
        |  FROM documents) t
        |WHERE cum_weight <= 60000""".stripMargin) { (s, dir) =>
      // data selection under an exact char budget: longest-first
      // (score = weight = n_chars) until 60k chars — the strict-prefix
      // cut via the distributed prefix sum, no global window
      PipelineOps.selectByBudget(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", weightCol = "n_chars", scoreCol = "n_chars",
        budget = 60000L)
    },
    Query("q_interleave_groups")(
      // within-group seeded rank, then the (round, group) order — both
      // ROW_NUMBERs replay the Spark side's two zipWithIndex ranks
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS rr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (ORDER BY rr, lang NULLS FIRST) AS BIGINT)
        |    AS interleave_pos
        |FROM r""".stripMargin) { (s, dir) =>
      // epoch domain mixing: positions cycle through the languages
      // round-robin, each language's internal order seeded-shuffled —
      // one global rank + broadcast group offsets + one final rank
      PipelineOps.interleaveGroups(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", seed = 7L)
    },
    Query("q_shuffle_to_shards")(
      // seeded shuffle order (q_shuffle_order's ROW_NUMBER) feeding the
      // SAME exclusive-prefix-sum shard arithmetic as q_shard_pack, just
      // ordered by shuffle_pos instead of the salted digest
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (
        |      ORDER BY md5('20260816:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS shuffle_pos
        |  FROM documents),
        |p AS (SELECT doc_id, n_chars, shuffle_pos,
        |    COALESCE(SUM(n_chars) OVER (ORDER BY shuffle_pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM r)
        |SELECT doc_id, n_chars, shuffle_pos,
        |  CAST(before // 8192 AS BIGINT) AS shard_id,
        |  CAST(before % 8192 AS BIGINT) AS shard_offset FROM p""".stripMargin) { (s, dir) =>
      // the reproducible-epoch story END-TO-END: seeded order
      // (q_shuffle_order's digest order) feeding contiguous char-budget
      // shards through shardPackByOrder — (seed, budget) alone
      // reproduces the epoch's shard layout. Budget 8192 chars gives
      // tens of shards at gate scale so boundaries are exercised
      PipelineOps.shardPackByOrder(
        PipelineOps.shuffleOrder(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", seed = 20260816L),
        "shuffle_pos", "n_chars", budget = 8192L)
    },
    Query("q_contamination", Headline)(
      """WITH pr AS (SELECT list_distinct([array_to_string(ws[i:i+4],' ')
        |              FOR i IN generate_series(1, len(ws)-4)]) AS gs
        |            FROM (SELECT regexp_extract_all(COALESCE(text,''), '\S+') AS ws
        |                  FROM documents WHERE doc_id % 50 = 0)),
        |pg AS (SELECT DISTINCT unnest(gs) AS gram FROM pr),
        |co AS (SELECT doc_id, regexp_extract_all(COALESCE(text,''), '\S+') AS ws
        |       FROM documents WHERE doc_id % 50 <> 0),
        |cg AS (SELECT doc_id, unnest(list_distinct([array_to_string(ws[i:i+4],' ')
        |         FOR i IN generate_series(1, len(ws)-4)])) AS gram FROM co),
        |h AS (SELECT doc_id, COUNT(*) AS n_overlap FROM cg JOIN pg USING (gram) GROUP BY 1)
        |SELECT c.doc_id, COALESCE(h.n_overlap, 0) AS n_overlap,
        |  CAST(CASE WHEN COALESCE(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM co c LEFT JOIN h USING (doc_id)""".stripMargin) { (s, dir) =>
      // probe set = every 50th doc standing in for a benchmark; corpus
      // = the rest, screened for shared word 5-grams
      val d = Tables.documentsSpread(s, dir)
      PipelineOps.contaminationCheck(d.where(col("doc_id") % 50 =!= 0),
        d.where(col("doc_id") % 50 === 0), "doc_id", "text", n = 5)
    },
    Query("q_events_asof", Headline)(
      // the union + running-last twin of AsofJoin.asofJoin: side 0 (right)
      // sorts before side 1 (left) at equal time, event_id breaks right-
      // side ties — the same total order the Spark window uses
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |           FROM events),
        |u AS (SELECT event_id, user_id, ts_us, value, 1 AS side, NULL::DOUBLE AS pay
        |      FROM e WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT event_id, user_id, ts_us, NULL::DOUBLE, 0, value
        |      FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT event_id, user_id, ts_us, value, side,
        |        LAST_VALUE(pay IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY ts_us NULLS FIRST, side, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        |      FROM u)
        |SELECT event_id, user_id, ts_us, value, asof_value FROM w WHERE side = 1""".stripMargin) { (s, dir) =>
      // clicks enriched with the user's most recent purchase value at
      // or before the click (microsecond domain — see q_events_sessionize)
      val e = Tables.eventsRawNanos(s, dir)
        .select(col("event_id"), col("user_id"), expr(NS_TO_US).as("ts_us"),
          col("event_type"), col("value"))
      AsofJoin.asofJoin(
        e.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us", "value"),
        e.where(col("event_type") === "purchase"),
        keyCols = Seq("user_id"), timeCol = "ts_us", tieCol = "event_id",
        payloadCols = Seq("value"))
    },
    Query("q_events_asof_nearest")(
      // both directional chains carrying ONE packed (value, time) struct
      // per right row — ROW-ATOMIC like the Spark operator (a null
      // payload FIELD rides inside the adjacent row's struct instead of
      // re-opening the search per column) — joined on the unique left
      // id; ties (equal |Δt|) go backward like pandas
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |           FROM events),
        |u AS (SELECT event_id, user_id, ts_us, value, 1 AS side,
        |             CAST(NULL AS STRUCT(v DOUBLE, t BIGINT)) AS pay
        |      FROM e WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT event_id, user_id, ts_us, NULL::DOUBLE, 0,
        |             {'v': value, 't': ts_us}
        |      FROM e WHERE event_type = 'purchase'),
        |b AS (SELECT event_id, user_id, ts_us, value,
        |        LAST_VALUE(pay IGNORE NULLS) OVER wb AS b_row, side
        |      FROM u WINDOW wb AS (PARTITION BY user_id
        |        ORDER BY ts_us NULLS FIRST, side, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |u2 AS (SELECT event_id, user_id, ts_us, 0 AS side,
        |              CAST(NULL AS STRUCT(v DOUBLE, t BIGINT)) AS pay
        |       FROM e WHERE event_type = 'click'
        |       UNION ALL
        |       SELECT event_id, user_id, ts_us, 1,
        |              {'v': value, 't': ts_us}
        |       FROM e WHERE event_type = 'purchase'),
        |f AS (SELECT event_id,
        |        FIRST_VALUE(pay IGNORE NULLS) OVER wf AS f_row, side
        |      FROM u2 WINDOW wf AS (PARTITION BY user_id
        |        ORDER BY ts_us NULLS FIRST, side, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT b.event_id, b.user_id, b.ts_us, b.value,
        |  CASE WHEN f.f_row.t IS NULL
        |         OR (b.b_row.t IS NOT NULL
        |             AND (b.ts_us - b.b_row.t) <= (f.f_row.t - b.ts_us))
        |       THEN b.b_row.v ELSE f.f_row.v END AS asof_value
        |FROM (SELECT * FROM b WHERE side = 1) b
        |JOIN (SELECT * FROM f WHERE side = 0) f USING (event_id)""".stripMargin) { (s, dir) =>
      // pandas direction='nearest' parity: the closer of the previous
      // and next purchase, ties to backward
      val e = Tables.eventsRawNanos(s, dir)
        .select(col("event_id"), col("user_id"), expr(NS_TO_US).as("ts_us"),
          col("event_type"), col("value"))
      AsofJoin.asofJoinNearest(
        e.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us", "value"),
        e.where(col("event_type") === "purchase"),
        keyCols = Seq("user_id"), timeCol = "ts_us", tieCol = "event_id",
        payloadCols = Seq("value"))
    },
    Query("q_events_asof_forward")(
      // the forward mirror: side 0 (left) sorts before side 1 (right) at
      // equal time, FIRST_VALUE over the following frame — "at or after"
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |           FROM events),
        |u AS (SELECT event_id, user_id, ts_us, value, 0 AS side, NULL::DOUBLE AS pay
        |      FROM e WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT event_id, user_id, ts_us, NULL::DOUBLE, 1, value
        |      FROM e WHERE event_type = 'purchase'),
        |w AS (SELECT event_id, user_id, ts_us, value, side,
        |        FIRST_VALUE(pay IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY ts_us NULLS FIRST, side, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS asof_value
        |      FROM u)
        |SELECT event_id, user_id, ts_us, value, asof_value FROM w WHERE side = 0""".stripMargin) { (s, dir) =>
      // the attribution mirror: clicks enriched with the user's NEXT
      // purchase value at or after the click
      val e = Tables.eventsRawNanos(s, dir)
        .select(col("event_id"), col("user_id"), expr(NS_TO_US).as("ts_us"),
          col("event_type"), col("value"))
      AsofJoin.asofJoinForward(
        e.where(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us", "value"),
        e.where(col("event_type") === "purchase"),
        keyCols = Seq("user_id"), timeCol = "ts_us", tieCol = "event_id",
        payloadCols = Seq("value"))
    },
    Query("q_events_range_join", Headline)(
      // plain BETWEEN join — DuckDB's IEJoin handles it exactly; the
      // Spark side reaches the same pair set through time-bin bucketing
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |           FROM events)
        |SELECT c.user_id, c.event_id, c.ts_us, c.value,
        |  p.ts_us AS win_start, p.ts_us + 86400000000 AS win_end,
        |  p.event_id AS purchase_id, p.value AS purchase_value
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND c.ts_us BETWEEN p.ts_us AND p.ts_us + 86400000000""".stripMargin) { (s, dir) =>
      // every click inside the 24h attribution window opened by a
      // purchase of the same user — the binned point-in-interval join;
      // binWidth = the window span, so each interval hits ≤2 buckets
      val e = Tables.eventsRawNanos(s, dir)
        .select(col("event_id"), col("user_id"), expr(NS_TO_US).as("ts_us"),
          col("event_type"), col("value"))
      RangeJoin.pointInInterval(
        e.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us"), col("value")),
        e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us").as("win_start"),
            (col("ts_us") + lit(DAY_US)).as("win_end"),
            col("event_id").as("purchase_id"), col("value").as("purchase_value")),
        keyCols = Seq("user_id"), pointTimeCol = "ts_us",
        startCol = "win_start", endCol = "win_end", binWidth = DAY_US)
    },

    // ── dedup family ───────────────────────────────────────────────
    Query("q_dedup_exact_docs", Headline)(
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        | MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
    },
    Query("q_dedup_incremental", Headline)(
      // exact anti-join semantics — the Bloom filter in incrementalDedup
      // only prunes, so the oracle needs no sketch replay
      """WITH cfp AS (SELECT DISTINCT
        |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |      FROM documents WHERE doc_id % 10 <> 0),
        |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |        UNION ALL
        |        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 1),
        |i AS (SELECT doc_id,
        |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |      FROM inc)
        |SELECT doc_id, fp FROM i ANTI JOIN cfp USING (fp)""".stripMargin) { (s, dir) =>
      // corpus = 9/10 of documents; increment = the held-out tenth
      // (genuinely new) + shifted copies of every 7th document (true
      // duplicates wherever the source doc sits in the corpus)
      val d = Tables.documents(s, dir)
      val inc = d.where(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 7 === 1)
          .select((col("doc_id") + ID_OFFSET).as("doc_id"), col("text")))
      Dedup.incrementalDedup(d.where(col("doc_id") % 10 =!= 0), inc,
          "doc_id", "text")
        .select(col("doc_id"), col("fp"))
    },
    Query("q_dedup_ngram_jaccard")(
      s"""WITH $ngramCtes
        |SELECT id_a, id_b,
        |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(nearDupCorpus(s, dir), "id", "text",
        shingleSize = 3, tau = 0.3, maxDocFreq = 10000)
    },
    Query("q_dedup_containment")(
      // both directions of each unordered intersection, thresholded on
      // the CONTAINED side's size — the same shared CTE chain
      s"""WITH $ngramCtes,
        |dirs AS (
        |  SELECT id_a AS id_contained, id_b AS id_container,
        |    CAST(inter AS DOUBLE) / sa.sz AS containment
        |  FROM inter JOIN sizes sa ON sa.id = id_a
        |  UNION ALL
        |  SELECT id_b, id_a, CAST(inter AS DOUBLE) / sb.sz
        |  FROM inter JOIN sizes sb ON sb.id = id_b)
        |SELECT id_contained, id_container, containment FROM dirs
        |WHERE containment >= 0.8""".stripMargin) { (s, dir) =>
      // excerpt detection: the truncated twins are ~fully contained in
      // their originals even where Jaccard is diluted by length
      Dedup.ngramContainmentPairs(nearDupCorpus(s, dir), "id", "text",
        shingleSize = 3, tau = 0.8, maxDocFreq = 10000)
    },
    Query("q_dedup_minhash_incr", Headline)(
      // the cross-side twin of q_dedup_minhash_lsh: the identical
      // signature chain runs over the side-tagged union, the bucket cap
      // partitions per side, and the candidate join requires a.side=1
      // (increment) × b.side=0 (corpus) — corpus×corpus never pairs
      """WITH corpus AS (SELECT doc_id AS id, text, 0 AS side FROM documents),
        |inc AS (
        |  SELECT doc_id + 1000000 AS id,
        |    COALESCE(array_to_string((regexp_extract_all(COALESCE(text, ''), '\S+'))
        |      [1:greatest((len(regexp_extract_all(COALESCE(text, ''), '\S+'))*4)//5, 1)], ' '), '') AS text,
        |    1 AS side
        |  FROM documents WHERE doc_id % 3 = 0),
        |u AS (SELECT * FROM corpus UNION ALL SELECT * FROM inc),
        |sh AS (
        |  SELECT id, side, list_distinct([array_to_string(toks[i:i+2], ' ')
        |            for i in generate_series(1, len(toks)-2)]) AS shingles
        |  FROM (SELECT id, side, regexp_extract_all(text, '\S+') AS toks FROM u)),
        |ab AS (SELECT id, side, ('0x'||substr(md5(gram),1,7))::BIGINT AS a,
        |              (('0x'||substr(md5(gram),8,7))::BIGINT | 1) AS b
        |       FROM (SELECT id, side, unnest(shingles) AS gram FROM sh)),
        |abl AS (SELECT id, side, list([a, b]) AS abs_ FROM ab GROUP BY id, side),
        |sigs AS (SELECT id, side, list_transform(generate_series(0,31), i ->
        |           list_min(list_transform(abs_, p -> (p[1] + i*p[2]) % 2147483647))) AS sig
        |         FROM abl),
        |bucketed AS (SELECT id, side, sig, band, sig[band*4+1 : band*4+4] AS bucket
        |             FROM (SELECT id, side, sig, unnest(generate_series(0,7)) AS band FROM sigs)
        |             QUALIFY COUNT(*) OVER (PARTITION BY side, band, sig[band*4+1 : band*4+4]) <= 100000),
        |cand AS (SELECT DISTINCT a.id AS inc_id, b.id AS corpus_id,
        |                a.sig AS sig_a, b.sig AS sig_b
        |         FROM bucketed a JOIN bucketed b
        |         ON a.band = b.band AND a.bucket = b.bucket
        |         AND a.side = 1 AND b.side = 0)
        |SELECT inc_id, corpus_id, est_jaccard FROM (
        |  SELECT inc_id, corpus_id,
        |    CAST(CAST(list_sum(list_transform(list_zip(sig_a, sig_b),
        |      z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE) / 32
        |    AS est_jaccard FROM cand) t
        |WHERE est_jaccard >= 0.3""".stripMargin) { (s, dir) =>
      // crawl-vs-corpus: corpus = all documents; increment = truncated
      // (80%-token) copies of every 3rd doc — near-dups the cross join
      // must surface without ever pairing corpus×corpus
      val d = Tables.documentsSpread(s, dir)
      val corpusSigs = Dedup.minhashSignatures(
        d.select(col("doc_id").as("id"), col("text")), "id", "text",
        numHashes = 32, shingleSize = 3)
      // same ''-twin convention as nearDupCorpus for token-less docs
      val incToks = TextFunctions.tokens(coalesce(col("text"), lit("")))
      val inc = d.where(col("doc_id") % 3 === 0).select(
        (col("doc_id") + ID_OFFSET).as("id"),
        array_join(slice(incToks, lit(1),
          greatest((size(incToks) * 4) / 5, lit(1)).cast("int")),
          " ").as("text"))
      val incSigs = Dedup.minhashSignatures(inc, "id", "text",
        numHashes = 32, shingleSize = 3)
      Dedup.minhashIncrementalPairs(corpusSigs, incSigs,
        numHashes = 32, bands = 8, tau = 0.3)
    },
    Query("q_dedup_minhash_lsh", Headline)(lshPairsOracle) { (s, dir) =>
      val sigs = Dedup.minhashSignatures(nearDupCorpus(s, dir), "id", "text",
        numHashes = 32, shingleSize = 3)
      Dedup.minhashCandidatePairs(sigs, numHashes = 32, bands = 8, tau = 0.3)
    },
    Query("q_split_leakage")(
      // the LSH pair chain verbatim, each side joined to the split CASE
      // (q_split_assign's oracle expression) — leaks are cross-split pairs
      s"""WITH p AS ($lshPairsOracle),
        |spl AS (SELECT id,
        |  CASE WHEN h < 0.90625 * 4294967296e0 THEN 'train'
        |       WHEN h < 0.953125 * 4294967296e0 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM (SELECT id,
        |    ('0x' || substr(md5(CAST(id AS VARCHAR) || ':graft-split'), 1, 8))::BIGINT AS h
        |    FROM (SELECT doc_id AS id FROM documents
        |          UNION ALL SELECT doc_id + 1000000 FROM documents)))
        |SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b,
        |  p.est_jaccard
        |FROM p JOIN spl sa ON p.id_a = sa.id JOIN spl sb ON p.id_b = sb.id
        |WHERE sa.split <> sb.split""".stripMargin) { (s, dir) =>
      // eval-contamination audit: near-dup pairs whose members land in
      // DIFFERENT splits — three gate-proven operators composed
      // (split assignment ∘ minhash signatures ∘ LSH candidate pairs);
      // the duplicate-augmented corpus guarantees planted leaks, since
      // a twin's id hashes to an independent split
      val corpus = nearDupCorpus(s, dir)
      val splits = PipelineOps.assignSplits(corpus.select(col("id")), "id")
      val sigs = Dedup.minhashSignatures(corpus, "id", "text",
        numHashes = 32, shingleSize = 3)
      Dedup.minhashCandidatePairs(sigs, numHashes = 32, bands = 8, tau = 0.3)
        .join(splits.select(col("id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(splits.select(col("id").as("id_b"), col("split").as("split_b")), "id_b")
        .where(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          col("est_jaccard"))
    },
    Query("q_dedup_stream_verdicts")(
      // the per-document collapse of the SAME pair machinery: doc b is
      // a dup iff some a < b shares a bucket at est ≥ τ; winner = max
      // est, ties to min a. Every signature-bearing corpus doc gets a
      // row (the left join's null arm is the not-a-dup verdict).
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id,
        |    COALESCE(array_to_string((regexp_extract_all(COALESCE(text, ''), '\S+'))
        |      [1:greatest((len(regexp_extract_all(COALESCE(text, ''), '\S+'))*4)//5, 1)], ' '), '') AS text
        |  FROM documents),
        |sh AS (
        |  SELECT id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |            for i in generate_series(1, len(toks)-2)]) AS shingles
        |  FROM (SELECT id, regexp_extract_all(text, '\S+') AS toks FROM corpus)),
        |ab AS (SELECT id, ('0x'||substr(md5(gram),1,7))::BIGINT AS a,
        |              (('0x'||substr(md5(gram),8,7))::BIGINT | 1) AS b
        |       FROM (SELECT id, unnest(shingles) AS gram FROM sh)),
        |abl AS (SELECT id, list([a, b]) AS abs_ FROM ab GROUP BY id),
        |sigs AS (SELECT id, list_transform(generate_series(0,31), i ->
        |           list_min(list_transform(abs_, p -> (p[1] + i*p[2]) % 2147483647))) AS sig
        |         FROM abl),
        |bucketed AS (SELECT id, sig, band, sig[band*4+1 : band*4+4] AS bucket
        |             FROM (SELECT id, sig, unnest(generate_series(0,7)) AS band FROM sigs)),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |         FROM bucketed a JOIN bucketed b
        |         ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |hits AS (SELECT id_b AS did, id_a AS dup_of,
        |    CAST(CAST(list_sum(list_transform(list_zip(sig_a, sig_b),
        |      z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) AS BIGINT) AS DOUBLE) / 32
        |    AS est FROM cand),
        |best AS (SELECT did, dup_of, est FROM hits WHERE est >= 0.3
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY did ORDER BY est DESC, dup_of ASC) = 1)
        |SELECT s.id AS doc_id,
        |  CAST(CASE WHEN b.did IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
        |  CAST(COALESCE(b.dup_of, -1) AS BIGINT) AS dup_of,
        |  CAST(COALESCE(b.est, -1.0) AS DOUBLE) AS best_sim
        |FROM sigs s LEFT JOIN best b ON b.did = s.id""".stripMargin) { (s, dir) =>
      // the BATCH path of the streaming near-dedup operator
      // (StreamingDemo.minhashDedupStream) over the same
      // planted-duplicate corpus as q_dedup_minhash_lsh: one
      // first-arrival verdict per document (dup iff a τ-similar
      // smaller id shares an LSH bucket; winner = highest sim, ties
      // to smallest id). Stream/batch twin equivalence across
      // micro-batch boundaries is spec-pinned in StreamingSpec.
      graft.streaming.StreamingDemo.collapseNearDupVerdicts(
        graft.streaming.StreamingDemo.minhashDedupStream(
          nearDupCorpus(s, dir), "id", "text",
          numHashes = 32, bands = 8, shingleSize = 3, tau = 0.3).toDF())
    },
    Query("q_dedup_simhash", Headline)(
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS id,
        |    COALESCE(array_to_string((regexp_extract_all(COALESCE(text, ''), '\S+'))
        |      [1:greatest((len(regexp_extract_all(COALESCE(text, ''), '\S+'))*4)//5, 1)], ' '), '') AS text
        |  FROM documents),
        |t AS (SELECT id, list_transform(regexp_extract_all(text, '\S+'),
        |        w -> ('0x'||substr(md5(w),1,15))::BIGINT) AS hs FROM corpus),
        |sims AS (SELECT id,
        |  CAST(COALESCE(list_sum(list_transform(generate_series(0,59), j ->
        |    CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
        |        CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
        |      THEN (1::BIGINT << j) ELSE 0::BIGINT END)), 0) AS BIGINT) AS sim FROM t),
        |pv AS (SELECT id, sim, pc, (sim >> (15*pc)) & 32767 AS piece
        |       FROM (SELECT id, sim, unnest(generate_series(0,3)) AS pc FROM sims)
        |       QUALIFY COUNT(*) OVER (PARTITION BY pc, (sim >> (15*pc)) & 32767) <= 100000),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sim AS sim_a, b.sim AS sim_b
        |         FROM pv a JOIN pv b ON a.pc = b.pc AND a.piece = b.piece AND a.id < b.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 12""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(nearDupCorpus(s, dir), "id", "text", maxHamming = 12)
    },
    Query("q_dedup_survivors")(
      s"""WITH RECURSIVE $ngramCtes,
        |j AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM j
        |          UNION ALL SELECT id_b, id_a FROM j),
        |reach(id, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id, LEAST(id, MIN(r)) AS keep_id FROM reach GROUP BY id""".stripMargin) { (s, dir) =>
      // end-to-end near-dedup: candidate pairs → connected components →
      // min-id survivor per component
      Dedup.nearDupSurvivors(Dedup.ngramJaccardPairs(nearDupCorpus(s, dir),
        "id", "text", shingleSize = 3, tau = 0.3, maxDocFreq = 10000))
    },
    Query("q_dedup_survivors_best")(
      // the same closure, re-labeled per component by (token count DESC,
      // id ASC) — Spark's min(struct(−score, id)) winner order verbatim
      s"""WITH RECURSIVE $ngramCtes,
        |j AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM j
        |          UNION ALL SELECT id_b, id_a FROM j),
        |reach(id, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id),
        |tok AS (SELECT id,
        |    CAST(len(regexp_extract_all(COALESCE(text, ''), '\\S+')) AS BIGINT) AS s
        |  FROM corpus),
        |win AS (SELECT comp.c,
        |    (list(comp.id ORDER BY tok.s DESC, comp.id ASC))[1] AS w
        |  FROM comp JOIN tok ON comp.id = tok.id GROUP BY comp.c)
        |SELECT comp.id, win.w AS keep_id
        |FROM comp JOIN win ON comp.c = win.c""".stripMargin) { (s, dir) =>
      // quality-aware survivor selection: the component keeper is the
      // member with the most tokens (the full doc beats its truncated
      // twin), ties to smallest id — production "keep the best copy"
      val corpus = nearDupCorpus(s, dir)
      val scores = corpus.select(col("id"),
        size(graft.functions.TextFunctions.tokens(
          coalesce(col("text"), lit("")))).cast("long").as("n_tokens"))
      Dedup.nearDupSurvivorsBy(
        Dedup.ngramJaccardPairs(corpus, "id", "text",
          shingleSize = 3, tau = 0.3, maxDocFreq = 10000),
        scores, "id", "n_tokens")
    },
    Query("q_dedup_spans", Headline)(
      // span occurrences group on md5(span) like the Scala side (not the
      // raw gram — identical collision behavior, however unlikely); the
      // canonical keeper is rank 1 by (id, pos), the same order as
      // Spark's min(struct(id, pos)); coverage/rebuild positions are
      // 1-based here vs 0-based in Spark but never leave the query
      s"""WITH $corpusFixtureCte,
        |tk AS (SELECT id, regexp_extract_all(COALESCE(text, ''), '\\S+') AS ws
        |  FROM corpus),
        |occ AS (SELECT id,
        |    unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS pos,
        |    unnest([md5(array_to_string(ws[i:i+7], ' '))
        |            FOR i IN generate_series(1, greatest(len(ws) - 7, 0))]) AS h
        |  FROM tk),
        |marked AS (SELECT id, pos FROM (
        |    SELECT id, pos,
        |      COUNT(*) OVER (PARTITION BY h) AS c,
        |      ROW_NUMBER() OVER (PARTITION BY h ORDER BY id, pos) AS rn
        |    FROM occ) t
        |  WHERE c > 1 AND rn > 1),
        |cov AS (SELECT DISTINCT id, tp FROM (
        |    SELECT id, unnest(generate_series(pos, pos + 7)) AS tp FROM marked) t),
        |alltok AS (SELECT id,
        |    unnest(generate_series(1, len(ws))) AS tp,
        |    unnest(ws) AS tok
        |  FROM tk),
        |kept AS (SELECT a.id, a.tp, a.tok FROM alltok a
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.id = a.id AND c.tp = a.tp)),
        |reb AS (SELECT id, string_agg(tok, ' ' ORDER BY tp) AS text_dedup,
        |    COUNT(*) AS n_tokens_kept
        |  FROM kept GROUP BY id)
        |SELECT t.id, COALESCE(r.text_dedup, '') AS text_dedup,
        |  COALESCE(r.n_tokens_kept, 0) AS n_tokens_kept,
        |  CAST(len(t.ws) AS BIGINT) - COALESCE(r.n_tokens_kept, 0) AS n_tokens_removed
        |FROM tk t LEFT JOIN reb r USING (id)""".stripMargin) { (s, dir) =>
      // ExactSubstr-style duplicated-span removal (Lee et al. 2022)
      // over the truncated-copy fixture: every repeated 8-token span
      // keeps exactly its first (id, pos) occurrence
      Dedup.dedupSpans(nearDupCorpus(s, dir), "id", "text", k = 8)
    },
    Query("q_corpus_clean")(
      // the composed pipeline: every stage is the (already gate-proven)
      // oracle fragment of its operator — exact dedup (q_dedup_exact_docs
      // semantics as a min-id semi-join), the quality/lang expressions
      // (q_text_quality / q_text_langid), the minhash banding
      // (q_dedup_minhash_lsh, τ=0.5), and the reach-CC survivor collapse
      // (q_dedup_survivors) — chained as CTEs over the same fixture
      // (shared with q_corpus_to_shards via corpusCleanCtes)
      s"""WITH RECURSIVE $corpusCleanCtes
        |SELECT id, text, quality, lang FROM gated
        |WHERE id NOT IN (SELECT id FROM losers)""".stripMargin) { (s, dir) =>
      // the composed training-data flow, end to end: exact dedup →
      // quality gate → minhash near-dedup survivor collapse. τ=0.5
      // so the ~0.8-Jaccard truncated copies actually collapse.
      CorpusPipeline.clean(nearDupCorpus(s, dir), "id", "text",
        CorpusPipeline.Config(minQuality = 0.3, tau = 0.5,
          minhashBands = 8, minhashHashes = 32, shingleSize = 3))
    },
    Query("q_corpus_to_shards")(
      // the full corpus→training-shards flow: the q_corpus_clean chain, then
      // the q_text_chunks windowing (disjoint 64-token chunks) and the
      // q_shard_pack prefix-sum packing (budget 512) over composite
      // chunk ids
      s"""WITH RECURSIVE $corpusCleanCtes,
        |cleaned AS (SELECT id, text FROM gated
        |            WHERE id NOT IN (SELECT id FROM losers)),
        |ch AS (SELECT id, CAST(start // 64 AS BIGINT) AS chunk_idx,
        |         CAST(len(ws[start+1 : start+64]) AS BIGINT) AS n_tokens
        |       FROM (SELECT id, ws, unnest(range(0, len(ws), 64)) AS start
        |             FROM (SELECT id, regexp_extract_all(COALESCE(text,''), '\\S+') AS ws
        |                   FROM cleaned))),
        |ck AS (SELECT id || ':' || CAST(chunk_idx AS VARCHAR) AS chunk_id, n_tokens
        |       FROM ch),
        |pk AS (SELECT chunk_id, n_tokens,
        |         COALESCE(SUM(n_tokens) OVER (
        |           ORDER BY md5(chunk_id || ':graft-shard'), chunk_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |       FROM ck)
        |SELECT chunk_id, n_tokens, CAST(before // 512 AS BIGINT) AS shard_id,
        |  CAST(before % 512 AS BIGINT) AS shard_offset FROM pk""".stripMargin) { (s, dir) =>
      // the FULL corpus→training-shards flow: clean (as above) →
      // disjoint 64-token chunks → 512-token shard packing, addressed
      // by composite chunk ids. Every stage is an already-gated
      // operator; this query proves the composition end to end.
      val cleaned = CorpusPipeline.clean(nearDupCorpus(s, dir), "id", "text",
        CorpusPipeline.Config(minQuality = 0.3, tau = 0.5,
          minhashBands = 8, minhashHashes = 32, shingleSize = 3))
      val chunks = PipelineOps.chunkDocuments(cleaned, "id", "text",
          chunkSize = 64, stride = 64)
        .select(concat_ws(":", col("id"), col("chunk_idx")).as("chunk_id"),
          col("n_tokens"))
      PipelineOps.shardPack(chunks, "chunk_id", "n_tokens", budget = 512L)
    },
    Query("q_dedup_embed_cosine")(
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS id, embedding FROM embeddings),
         |$sqlPlanes,
         |${sqlSigs("corpus")},
         |bb AS (SELECT id, embedding, band, bands[band+1] AS bucket
         |       FROM (SELECT id, embedding, bands, unnest(generate_series(0,3)) AS band FROM sigs)
         |       QUALIFY COUNT(*) OVER (PARTITION BY band, bands[band+1]) <= 100000),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |           a.embedding AS va, b.embedding AS vb
         |         FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT id_a, id_b, ${sqlCosine("va", "vb")} AS cosine
         |  FROM cand) t
         |WHERE cosine >= 0.999""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding"))
      val jittered = e.select((col("id") + ID_OFFSET).as("id"),
        transform(col("embedding"), x => x * lit(1.0f)).as("embedding"))
      Similarity.embeddingNearDupPairs(e.unionByName(jittered), "id", "embedding",
        dim = 64, tau = 0.999)
    },
    Query("q_dedup_semantic", Headline)(semanticDedupOracle) { (s, dir) =>
      // SemDeDup end to end on the duplicate-augmented corpus: codebook
      // clusters block the pairwise cosine, survivors collapse to the
      // component min id; nlist pinned 16 for the shared Lloyd replay
      val e = Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding"))
      val dup = e.select((col("id") + ID_OFFSET).as("id"), col("embedding"))
      Dedup.nearDupSurvivors(
        Similarity.semanticDedupPairs(e.unionByName(dup), "id", "embedding",
          dim = 64, tau = 0.99, nlist = 16))
    },

    // ── similarity search ──────────────────────────────────────────
    // The shared-corpus IVF fits route through CodebookCache (keyed by
    // (dir, corpus slice, nlist, seed) — everything that determines the
    // deterministic fit), so ONE Verify session fits each codebook once
    // across its ANN queries instead of once per query; results are
    // bit-identical to fit-inside by the handle's contract, and
    // CacheScope.releaseAll clears the memo so Bench and Measure runs
    // still pay the fit per measured run.
    Query("q_embed_norm", Headline)(
      """SELECT vec_id,
        | sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |   (acc, v) -> acc + v)) AS l2norm
        |FROM embeddings""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir).select(col("vec_id"),
        Similarity.l2Norm(col("embedding")).as("l2norm"))
    },
    Query("q_sim_bruteforce_topk", Headline)(
      s"""WITH dots AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  ${sqlCosine("q.embedding", "c.embedding")} AS cosine
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM dots) t
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    },
    Query("q_sim_lsh_topk")(
      // mirrors lshTopK incl. the recall floor: queries with < k bucket
      // candidates brute-force the corpus (no-op at gate scale, where
      // every query already has ≥ 5 candidates — but the twin branches
      // must agree the day the data doesn't)
      s"""WITH $sqlPlanes,
         |${sqlSigs("(SELECT vec_id AS id, embedding FROM embeddings)")},
         |bb AS (SELECT id, embedding, band, bands[band+1] AS bucket
         |       FROM (SELECT id, embedding, bands, unnest(generate_series(0,3)) AS band FROM sigs)),
         |cand AS (SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id,
         |           q.embedding AS qv, c.embedding AS cv
         |         FROM bb q JOIN bb c ON q.band = c.band AND q.bucket = c.bucket
         |           AND q.id < 5 AND c.id <> q.id),
         |lack AS (SELECT e.vec_id AS query_id, e.embedding AS qv
         |         FROM embeddings e LEFT JOIN
         |           (SELECT query_id, COUNT(*) AS nc FROM cand GROUP BY query_id) n
         |           ON e.vec_id = n.query_id
         |         WHERE e.vec_id < 5 AND COALESCE(n.nc, 0) < 5),
         |allc AS (SELECT query_id, neighbor_id, qv, cv FROM cand
         |         WHERE query_id NOT IN (SELECT query_id FROM lack)
         |         UNION ALL
         |         SELECT l.query_id, e.vec_id, l.qv, e.embedding
         |         FROM lack l JOIN embeddings e ON e.vec_id <> l.query_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
         |  FROM (SELECT query_id, neighbor_id,
         |          ${sqlCosine("qv", "cv")} AS cosine FROM allc) s) t
         |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, dim = 64)
    },
    Query("q_sim_ivf_topk")(ivfOracle) { (s, dir) =>
      // nlist pinned to 16 (like kmeans pins fitCap): the DuckDB replay
      // hardcodes the same 16 — the operator default is auto (≈ √m,
      // Similarity.autoNlist, spec-tested at two corpus sizes)
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopKWith(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, embCodebook16(s, dir))
    },
    Query("q_sim_ivf_distributed")(ivfDistributedOracle) { (s, dir) =>
      // the corpus-scale query path: HALF the corpus as the query
      // frame — deliberately NOT driver-small — probed through the
      // row-local distributed probe join (no query collect, no forced
      // broadcast). Same fit/probe/rank semantics as q_sim_ivf_topk
      // (shared codebook handle), so the oracle is the same replay with
      // the query predicate widened to the even parity
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopKDistributedWith(e, e.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", k = 5, embCodebook16(s, dir))
    },
    Query("q_sim_knn_graph")(knnGraphOracle) { (s, dir) =>
      // every vector's top-3 neighbors — the all-pairs IVF shape with
      // BOTH join sides distributed (no query collect, no broadcast);
      // nlist pinned 16 to stay in lockstep with the shared fit replay
      val e = Tables.embeddings(s, dir)
      Similarity.knnGraphWith(e, "vec_id", "embedding", k = 3,
        embCodebook16(s, dir), nprobe = 4)
    },
    Query("q_sim_bitext_mine")(bitextOracle) { (s, dir) =>
      // margin-based bitext mining, forward strategy: even vec_ids are
      // the query corpus, odd the candidate corpus; nlist pinned 8 and
      // τ=1.15 (keeps ~25-50% of queries across the SF fixtures) so
      // the DuckDB fit replay stays in lockstep
      val e = Tables.embeddings(s, dir)
      Similarity.bitextMineForwardWith(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, embCodebookParity8(s, dir, 1),
        nprobe = 4, tau = 1.15)
    },
    Query("q_sim_bitext_mutual")(bitextMutualOracle) { (s, dir) =>
      // CCMatrix-grade acceptance: mutual best across BOTH directions
      // with both forward margins ≥ 1.1 — pure composition of the
      // forward operator (each direction fits its own corpus side)
      val e = Tables.embeddings(s, dir)
      Similarity.bitextMineMutualWith(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4,
        embCodebookParity8(s, dir, 1), embCodebookParity8(s, dir, 0),
        nprobe = 4, tau = 1.1)
    },
    Query("q_sim_bitext_2way")(bitextTwoSidedOracle) { (s, dir) =>
      // paper-faithful Artetxe–Schwenk two-sided margin: the A→B best
      // match scored against the AVERAGE of both sides' k-NN
      // neighborhood means; τ=1.0 = "better than the average
      // neighborhood" (the two-sided margin is not ≥1 by construction)
      val e = Tables.embeddings(s, dir)
      Similarity.bitextMineTwoSidedWith(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4,
        embCodebookParity8(s, dir, 1), embCodebookParity8(s, dir, 0),
        nprobe = 4, tau = 1.0)
    },
    Query("q_sim_pq_topk", Headline)(pqOracle) { (s, dir) =>
      // m=4 subspaces × ksub=16 centroids, 50-candidate ADC short list,
      // exact cosine re-rank to top-5 — every parameter pinned so the
      // DuckDB replay (4 per-subspace Lloyd fits) stays in lockstep
      val e = Tables.embeddings(s, dir)
      Similarity.pqTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, dim = 64, m = 4, ksub = 16, candidates = 50)
    },
    Query("q_kmeans_refine", Headline)(kmeansRefineOracle) { (s, dir) =>
      // the codebook-fit scale seam closed: sample-fit init + 2 full-
      // corpus distributed Lloyd iterations with pinned component sums
      Similarity.refineCodebook(Tables.embeddings(s, dir),
        "vec_id", "embedding", dim = 64, nlist = 16, iters = 2)
    },
    Query("q_sim_ivfpq_topk", Headline)(ivfpqOracle) { (s, dir) =>
      // coarse nlist=16 + residual PQ (m=4 × ksub=16), nprobe=4 lists,
      // 50-candidate ADC short list, exact cosine re-rank — the FAISS
      // IVFPQ composition, every parameter pinned for the DuckDB replay
      val e = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKWith(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, embCodebook16(s, dir), nprobe = 4, m = 4,
        ksub = 16, candidates = 50)
    },
    Query("q_sim_ivfpq_distributed")(ivfpqDistributedOracle) { (s, dir) =>
      // the compressed-corpus path at corpus-scale queries: HALF the
      // corpus as the query frame through the fully-distributed IVF-PQ
      // (row-local probes + residual LUTs, no query collect, no forced
      // broadcast); same fit/encode/ADC/re-rank semantics as
      // q_sim_ivfpq_topk (shared codebook handle), oracle = that
      // replay with the query predicate widened to the even parity
      val e = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKDistributedWith(e, e.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", k = 5, embCodebook16(s, dir), nprobe = 4,
        m = 4, ksub = 16, candidates = 50)
    },
    Query("q_embed_cluster", Headline)(clusterOracle) { (s, dir) =>
      // SemDeDup-style corpus clustering — the IVF bucketing stage
      // first-class; nlist pinned to 16 to stay in lockstep with the
      // shared DuckDB fit replay
      Similarity.clusterEmbeddingsWith(Tables.embeddings(s, dir),
        "vec_id", "embedding", embCodebook16(s, dir))
    },

    // ── multimodal plumbing ────────────────────────────────────────
    Query("q_multimodal_meta", Headline)(
      """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
        | octet_length(encode(COALESCE(text, ''))) AS byte_len,
        | sha256(COALESCE(text, '')) AS sha256,
        | CAST((octet_length(encode(COALESCE(text, ''))) % 640) + 16 AS BIGINT) AS width,
        | CAST((floor(octet_length(encode(COALESCE(text, ''))) / 7) % 480) + 16 AS BIGINT) AS height,
        | CAST((octet_length(encode(COALESCE(text, ''))) % 30) + 1 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.extractMetadata(
        Multimodal.attachFakeBinary(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id")
    },
    Query("q_multimodal_frames")(
      """WITH f AS (SELECT doc_id, COALESCE(text, '') AS text,
        |    (octet_length(encode(COALESCE(text, ''))) % 30) + 1 AS n_frames FROM documents),
        |fr AS (SELECT doc_id, text, unnest(range(0, n_frames, 10)) AS frame_idx FROM f)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  sha256(text || ':' || CAST(frame_idx AS VARCHAR)) AS frame_digest
        |FROM fr""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.attachFakeBinary(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", everyNth = 10)
    },
    Query("q_multimodal_features")(
      ("""SELECT doc_id, """ + (0 until 8).map(i =>
        s"('0x'||substr(sha256(COALESCE(text, '') || ':feat'), ${i * 8 + 1}, 8))::BIGINT / 4294967296.0 AS f$i")
        .mkString(", ") + " FROM documents")) { (s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.attachFakeBinary(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id")
    },
    // REAL codecs (JDK ImageIO / AudioSystem) over rendered fixtures
    // whose pixels/samples follow closed-form integer formulas — the
    // oracle predicts the decoded values analytically, so the real
    // encode→decode round-trip is value-gated without DuckDB ever
    // reading a PNG/WAV (MediaCodecs scaladoc)
    Query("q_image_decode")(
      // the real-codec gates: PNG/WAV are lossless and the fixture
      // pixels/samples are closed-form in (id, x, y), so the oracle
      // computes what the REAL ImageIO/AudioSystem round-trip must
      // produce — analytically, without decoding any media
      """SELECT doc_id, TRUE AS decode_ok,
        |  CAST(doc_id % 17 + 8 AS BIGINT) AS width,
        |  CAST(doc_id % 13 + 8 AS BIGINT) AS height,
        |  CAST((doc_id % 17 + 8) * (doc_id % 13 + 8) AS BIGINT) AS n_pixels
        |FROM documents""".stripMargin) { (s, dir) =>
      MediaCodecs.decodeImageMetadata(
        MediaCodecs.renderImages(Tables.documentsSpread(s, dir), "doc_id"), "doc_id")
    },
    Query("q_image_histogram", Headline)(
      """WITH d AS (SELECT doc_id, doc_id % 17 + 8 AS w, doc_id % 13 + 8 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(generate_series(0, w*h - 1)) AS p FROM d),
        |g AS (SELECT doc_id, w*h AS n,
        |        (((((doc_id*31 + (p % w)*7 + (p // w)*13) % 256) * 299
        |           + ((doc_id*17 + (p % w)*11 + (p // w)*3) % 256) * 587
        |           + ((doc_id*23 + (p % w)*5 + (p // w)*19) % 256) * 114) // 1000) // 32) AS b
        |      FROM px),
        |c AS (SELECT doc_id, n, b, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, TRUE AS decode_ok,
        |  CAST(COALESCE(MAX(CASE WHEN b = 0 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h0,
        |  CAST(COALESCE(MAX(CASE WHEN b = 1 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h1,
        |  CAST(COALESCE(MAX(CASE WHEN b = 2 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h2,
        |  CAST(COALESCE(MAX(CASE WHEN b = 3 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h3,
        |  CAST(COALESCE(MAX(CASE WHEN b = 4 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h4,
        |  CAST(COALESCE(MAX(CASE WHEN b = 5 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h5,
        |  CAST(COALESCE(MAX(CASE WHEN b = 6 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h6,
        |  CAST(COALESCE(MAX(CASE WHEN b = 7 THEN cnt END), 0) AS DOUBLE) / MAX(n) AS h7
        |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      MediaCodecs.imageGrayHistogram(
        MediaCodecs.renderImages(Tables.documentsSpread(s, dir), "doc_id"), "doc_id")
    },
    // the STREAMING decode twin run in batch mode — the typed
    // mapPartitions spelling executes identically on both, so this
    // value-gates it against the closed-form pixel fixture while the
    // true-stream run + stream==batch parity live in StreamingSpec
    Query("q_image_meta_stream")(
      """SELECT doc_id, TRUE AS decode_ok,
        |  CAST(doc_id % 17 + 8 AS BIGINT) AS width,
        |  CAST(doc_id % 13 + 8 AS BIGINT) AS height,
        |  CAST((doc_id % 17 + 8) * (doc_id % 13 + 8) AS BIGINT) AS n_pixels
        |FROM documents""".stripMargin) { (s, dir) =>
      MediaCodecs.decodeImageMetadataStream(
        MediaCodecs.renderImages(Tables.documentsSpread(s, dir), "doc_id"), "doc_id")
    },
    Query("q_image_resize")(
      """WITH d AS (SELECT doc_id, doc_id % 17 + 8 AS w, doc_id % 13 + 8 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(generate_series(0, 63)) AS p FROM d),
        |m AS (SELECT doc_id, ((p % 8) * w) // 8 AS x, ((p // 8) * h) // 8 AS y FROM px),
        |g AS (SELECT doc_id,
        |        ((((doc_id*31 + x*7 + y*13) % 256) * 299
        |          + ((doc_id*17 + x*11 + y*3) % 256) * 587
        |          + ((doc_id*23 + x*5 + y*19) % 256) * 114) // 1000) AS gr
        |      FROM m)
        |SELECT doc_id, TRUE AS decode_ok,
        |  CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  CAST(SUM(gr) AS DOUBLE) / 64 AS mean_gray
        |FROM g GROUP BY doc_id""".stripMargin) { (s, dir) =>
      MediaCodecs.resizeImagesNN(
        MediaCodecs.renderImages(Tables.documentsSpread(s, dir), "doc_id"), "doc_id",
          dstW = 8, dstH = 8)
        .select(col("doc_id"), col("decode_ok"), col("width"), col("height"),
          col("mean_gray")) // resized PNG bytes stay spec-checked, not oracle-able
    },
    Query("q_audio_decode", Headline)(
      """WITH d AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |        ((doc_id*7919 + unnest(generate_series(0, n - 1))*104729) % 65536)
        |          - 32768 AS v
        |      FROM d)
        |SELECT doc_id, TRUE AS decode_ok,
        |  CAST(MAX(n) AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(MIN(v) AS BIGINT) AS s_min, CAST(MAX(v) AS BIGINT) AS s_max,
        |  CAST(SUM(v) AS DOUBLE) / MAX(n) AS s_mean
        |FROM s GROUP BY doc_id""".stripMargin) { (s, dir) =>
      MediaCodecs.decodeAudioStats(
        MediaCodecs.renderWavs(Tables.documents(s, dir), "doc_id"), "doc_id")
    },
    // REAL video: AVI RIFF container walk + raw-DIB frame decode (the
    // lossless payload, so the closed-form frame pixels are analytic
    // SQL); the MJPEG chunk path of the same parser is spec-gated
    // (JPEG is lossy) in MediaCodecsSpec
    Query("q_video_decode")(
      """SELECT doc_id, TRUE AS decode_ok,
        |  CAST(doc_id % 11 + 8 AS BIGINT) AS width,
        |  CAST(doc_id % 9 + 8 AS BIGINT) AS height,
        |  CAST(doc_id % 6 + 2 AS BIGINT) AS n_frames,
        |  CAST(10 AS DOUBLE) AS fps
        |FROM documents""".stripMargin) { (s, dir) =>
      MediaCodecs.decodeVideoMetadata(
        MediaCodecs.renderAvis(Tables.documents(s, dir), "doc_id"), "doc_id")
    },
    Query("q_video_frames", Headline)(
      s"""WITH d AS (SELECT doc_id, doc_id % 11 + 8 AS w, doc_id % 9 + 8 AS h,
        |                  doc_id % 6 + 2 AS n FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, n, ${MediaCodecs.GateFrameStride})) AS f FROM d),
        |px AS (SELECT doc_id, w, h, f, unnest(generate_series(0, w*h - 1)) AS p FROM fr),
        |g AS (SELECT doc_id, w, h, f,
        |        ((((doc_id*31 + f*41 + (p % w)*7 + (p // w)*13) % 256) * 299
        |          + ((doc_id*17 + f*29 + (p % w)*11 + (p // w)*3) % 256) * 587
        |          + ((doc_id*23 + f*37 + (p % w)*5 + (p // w)*19) % 256) * 114) // 1000) AS gr
        |      FROM px)
        |SELECT doc_id, TRUE AS decode_ok, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(gr) AS DOUBLE) / (w*h) AS mean_gray
        |FROM g GROUP BY doc_id, w, h, f""".stripMargin) { (s, dir) =>
      MediaCodecs.sampleVideoFrames(
        MediaCodecs.renderAvis(Tables.documents(s, dir), "doc_id"), "doc_id",
        everyNth = MediaCodecs.GateFrameStride)
    },

    // ── streaming twin: tumbling window agg (batch mode) ───────────
    Query("q_events_window", Headline)(
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS window_start_sec,
        | event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // integer DIV, not `/`: double division of epoch-nanos (>2^53)
      // rounds by ~128ns and can truncate into the previous bucket
      Tables.eventsRawNanos(s, dir)
        .groupBy(expr("(ts DIV 3600000000000) * 3600").as("window_start_sec"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    },

    // ── streaming twin: per-user sessionization (batch mode) ───────
    // Millis (not raw nanos) because DuckDB reads TIMESTAMP(NANOS)
    // parquet at microsecond precision. The oracle's chain is
    // epoch_us(ts) // 1000 — a TRUNCATING ns→µs parquet read (the
    // NS_TO_US finding), then a truncating integer divide to ms — and
    // truncation toward zero COMPOSES across nested positive divisors,
    // so the Spark chain `(ts div 1000) div 1000` equals both that
    // chain and a single `ts DIV 1000000` for every input, negative
    // non-aligned nanos included.
    Query("q_events_sessionize")(
      // gaps-and-islands twin of flatMapGroupsWithState sessionization:
      // a session breaks when the gap to the previous event exceeds
      // 30 min; islands numbered by a running sum of breaks. Ties on
      // (user_id, ts_ms) order arbitrarily in both engines but a zero
      // gap can never break a session, so the session set is identical.
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ts_ms FROM events),
        |f AS (SELECT user_id, ts_ms,
        |        CASE WHEN ts_ms - LAG(ts_ms) OVER
        |               (PARTITION BY user_id ORDER BY ts_ms) > 1800000
        |             OR LAG(ts_ms) OVER
        |               (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT user_id, ts_ms,
        |        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM f)
        |SELECT user_id, MIN(ts_ms) AS session_start_ms,
        |       MAX(ts_ms) AS session_end_ms, COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      StreamingDemo.sessionizeMillis(
        Tables.eventsRawNanos(s, dir)
          .select(col("user_id"),
            expr(s"($NS_TO_US) div 1000").as("ts_ms")),
        gapMinutes = 30)
    },

    // ── streaming twin: exact dedup, earliest-event-time-wins ──────
    // Duplicates are planted (every 5th event re-emitted 3 minutes
    // later) so the deterministic earliest-wins pick is actually
    // exercised: a nondeterministic dedup could surface the shifted
    // copy and fail the value hash. Microsecond domain for the same
    // DuckDB-precision reason as q_events_sessionize.
    Query("q_stream_dedup")(
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |                  event_type, value FROM events),
        |u AS (SELECT * FROM e
        |      UNION ALL
        |      SELECT event_id, ts_us + 180000000, user_id, event_type, value
        |      FROM e WHERE event_id % 5 = 0)
        |SELECT event_id, ts_us, user_id, event_type, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts_us) AS rn
        |  FROM u) t
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = Tables.eventsRawNanos(s, dir)
        .select(col("event_id"), expr(NS_TO_US).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
      val dups = e.where(col("event_id") % 5 === 0)
        .withColumn("ts_us", col("ts_us") + lit(180000000L))
      StreamingDemo.dedupEvents(e.unionByName(dups), "event_id", "ts_us")
    },
    Query("q_stream_dedup_lines")(
      // same winner total order as q_dedup_lines, emitted as segments;
      // pos is 0-based on both sides (posexplode vs subscripts - 1)
      """WITH l AS (SELECT doc_id,
        |    CAST(generate_subscripts(sl, 1) AS BIGINT) - 1 AS pos, unnest(sl) AS line
        |  FROM (SELECT doc_id, string_split(COALESCE(text,''), ' ') AS sl
        |        FROM documents)),
        |k AS (SELECT doc_id, pos, line,
        |        ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |      FROM l)
        |SELECT doc_id, pos, line FROM k WHERE rn = 1""".stripMargin) { (s, dir) =>
      // batch twin of the streaming line dedup: the corpus-wide winner
      // segment per distinct word (same granularity as q_dedup_lines)
      StreamingDemo.dedupLinesStream(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", delim = " ")
        .select(col("docId").as("doc_id"), col("pos").cast("long").as("pos"),
          col("line"))
    },

    // ── named curation rule sets (round 8) ─────────────────────────
    // Gopher quality+repetition rules over the line fixture: every
    // signal and the combined pass flag value-gated
    Query("q_gopher_quality", Headline)(
      // Gopher rule set over the shared line fixture, via the shared
      // CTE builder (gopherSqlChain) the composed q_corpus_curate also
      // replays — the two oracles cannot drift
      s"""WITH $lineFixtureSql,
        |${gopherSqlChain("fx", "", minWords = 50L)}
        |SELECT * FROM g""".stripMargin) { (s, dir) =>
      CurationRules.gopherSignals(lineFixture(s, dir), "doc_id", "text")
    },
    // C4 cleaning pass: line filter + doc-level drops, rebuilt text gated
    Query("q_c4_clean", Headline)(
      // C4 cleaning over the same fixture via the shared builder
      s"""WITH $lineFixtureSql,
        |${c4SqlChain("fx", "")}
        |SELECT * FROM c4""".stripMargin) { (s, dir) =>
      CurationRules.c4Clean(lineFixture(s, dir), "doc_id", "text")
    },
    // per-domain cap (RefinedWeb-style): deterministic hash-order
    // survivors, map-side-bounded by the WindowGroupLimit rewrite
    Query("q_domain_cap", Headline)(
      // per-domain cap: identical md5-prefix hash order as
      // PipelineOps.saltedHash32 (the q_split_assign spelling)
      """SELECT doc_id, source, domain_rank FROM (
        |  SELECT doc_id, source, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-domain'), 1, 8))::BIGINT ASC,
        |             doc_id ASC) AS BIGINT) AS domain_rank
        |  FROM documents) t
        |WHERE domain_rank <= 7""".stripMargin) { (s, dir) =>
      PipelineOps.domainCap(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", cap = 7)
    },
    // Z-order layout: Morton key over (user_id, event_id) low bits +
    // the range-partition/sort pre-write shape; the key math is
    // bit-exact SQL, the layout shape is pinned by PlanShapeSpec
    Query("q_zorder_key", Headline) {
      // Morton interleave replayed term-for-term: bit b of dim j lands
      // at position b·2 + j, pure BIGINT shifts/masks on both engines
      val terms = (0 until 10).flatMap(b => Seq(
        s"((((user_id % 1024) >> $b) & 1) << ${2 * b})",
        s"((((event_id % 1024) >> $b) & 1) << ${2 * b + 1})"))
      s"SELECT event_id, ${terms.mkString(" | ")} AS z_key FROM events"
    } { (s, dir) =>
      val e = Tables.events(s, dir).select(col("event_id"), col("user_id"))
      Layout.zorderLayout(e,
          Seq(col("user_id") % 1024, col("event_id") % 1024), bits = 10)
        .select(col("event_id"), col("z_key"))
    },
    // composed end-to-end curation: C4 clean → Gopher gate → exact
    // dedup → per-domain cap → split assignment, one flow — the
    // oracle chains the same shared CTE builders as the standalone
    // stage gates, so composition can't drift from the pieces
    Query("q_corpus_curate", Headline)(
      // composed curation: the SAME c4/gopher CTE builders as the
      // standalone gates, chained, then the exact-dedup min-id pick, the
      // q_domain_cap rank and the q_split_assign thresholds
      s"""WITH $lineFixtureSql,
        |${c4SqlChain("fx", "a")},
        |cleaned AS (SELECT doc_id, clean_text AS text, n_lines_kept
        |  FROM ac4 WHERE doc_kept = 1),
        |${gopherSqlChain("cleaned", "b", minWords = 20L)},
        |passed AS (SELECT cl.doc_id, cl.text, cl.n_lines_kept, g.n_words
        |  FROM cleaned cl JOIN bg g USING (doc_id) WHERE g.gopher_pass = 1),
        |fpd AS (SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fpr
        |  FROM passed),
        |keep AS (SELECT MIN(doc_id) AS doc_id FROM fpd GROUP BY fpr),
        |ded AS (SELECT f.* FROM fpd f SEMI JOIN keep USING (doc_id)),
        |dom AS (SELECT ded.doc_id, d.source, ded.n_lines_kept, ded.n_words
        |  FROM ded JOIN documents d USING (doc_id)),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-domain'), 1, 8))::BIGINT ASC,
        |             doc_id ASC) AS BIGINT) AS domain_rank FROM dom),
        |capped AS (SELECT * FROM ranked WHERE domain_rank <= 10)
        |SELECT doc_id, source, n_lines_kept, n_words, domain_rank,
        |  CASE WHEN h < 0.90625 * 4294967296e0 THEN 'train'
        |       WHEN h < 0.953125 * 4294967296e0 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft-split'), 1, 8))::BIGINT AS h
        |      FROM capped)""".stripMargin) { (s, dir) =>
      val fx = lineFixture(s, dir)
      val cleaned = CurationRules.c4Clean(fx, "doc_id", "text")
        .where(col("doc_kept") === 1L)
        .select(col("doc_id"), col("clean_text").as("text"), col("n_lines_kept"))
      // the cleaned fixture docs run ~30-50 words, so the composed
      // pass uses the 20-word floor (the operator's minWords knob);
      // every other Gopher threshold is the published default. The
      // augment form appends the signals row-locally — no
      // corpus-corpus join back onto the id
      // persisted before exactDedup's self-join (keep-frame groupBy +
      // left_semi evaluate the input subtree once per side): without
      // this the fixture + both rule kernels run twice — the same
      // discipline as the dedup family's persisted signature frames
      // localCheckpoint, not persist (round 16, guide §3.3): the
      // composed clean→gate plan below this point fed ~0.8 s/action of
      // driver optimizer+codegen time (the round-15 "planning gap"
      // item); eager checkpoint materializes the SAME frame a persist
      // would but truncates the lineage to a LogicalRDD, so the
      // dedup/cap/split stages re-plan over a leaf. Measured ABBA at
      // sf0.1 (n=7 ×4, alternating, OPTIMIZATION_r16.md): persist 1.93/1.88 s
      // medians vs checkpoint 1.81/1.64 s. Blocks are freed by the
      // ContextCleaner when the frame goes unreachable (the
      // nearDupSurvivors precedent); executor-loss recompute is lost
      // with the lineage — acceptable for a gate-scale composition,
      // and at cluster scale the loud failure mode is the same one
      // nearDupSurvivors documents.
      val passed =
        CurationRules.gopherAugment(cleaned, "doc_id", "text", minWords = 20L)
          .where(col("gopher_pass") === 1L)
          .select(col("doc_id"), col("text"), col("n_lines_kept"), col("n_words"))
          .localCheckpoint()
      val deduped = Dedup.exactDedup(passed, "doc_id", "text")
      val withSource = deduped.join(
        Tables.documents(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      val capped = PipelineOps.domainCap(withSource, "doc_id", "source", cap = 10)
      PipelineOps.assignSplits(capped, "doc_id")
        .select("doc_id", "source", "n_lines_kept", "n_words", "domain_rank", "split")
    },
    // perceptual image dedup: dHash through the REAL PNG codec; seeds
    // doc_id % 100 so every rendered image has 5 copies at sf0.01 —
    // the groupBy proves hash-equality dedup, not just hashing
    Query("q_image_dhash", Headline)(
      // dHash: replay the 9×8 truncating-NN grayscale grid from the
      // pixel formulas (all integer math), MSB-first bits p = y·8+x with
      // x = p%8 / y = p//8, nibbles to lowercase hex, then the dedup
      // groupBy over the doc_id % 100 seed join
      """WITH seeds AS (SELECT DISTINCT doc_id % 100 AS s FROM documents),
        |geom AS (SELECT s, s % 17 + 8 AS w, s % 13 + 8 AS h FROM seeds),
        |pb AS (SELECT s, w, h, unnest(generate_series(0, 63)) AS p FROM geom),
        |b AS (SELECT s, p,
        |    CASE WHEN
        |      (((s*31 + ((p%8)*w//9)*7 + ((p//8)*h//8)*13) % 256) * 299
        |       + ((s*17 + ((p%8)*w//9)*11 + ((p//8)*h//8)*3) % 256) * 587
        |       + ((s*23 + ((p%8)*w//9)*5 + ((p//8)*h//8)*19) % 256) * 114) // 1000
        |      >
        |      (((s*31 + (((p%8)+1)*w//9)*7 + ((p//8)*h//8)*13) % 256) * 299
        |       + ((s*17 + (((p%8)+1)*w//9)*11 + ((p//8)*h//8)*3) % 256) * 587
        |       + ((s*23 + (((p%8)+1)*w//9)*5 + ((p//8)*h//8)*19) % 256) * 114) // 1000
        |    THEN 1 ELSE 0 END AS bit
        |  FROM pb),
        |hx AS (SELECT s, list(bit ORDER BY p) AS bits FROM b GROUP BY s),
        |hex AS (SELECT s, array_to_string([substr('0123456789abcdef',
        |    CAST(bits[4*n+1]*8 + bits[4*n+2]*4 + bits[4*n+3]*2 + bits[4*n+4] + 1 AS INT), 1)
        |    FOR n IN generate_series(0, 15)], '') AS dhash FROM hx)
        |SELECT dhash, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_id
        |FROM documents d JOIN hex ON d.doc_id % 100 = hex.s
        |GROUP BY dhash""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 100).as("img_seed"))
      // decode_ok filter: a failed decode yields a null hash, and an
      // unfiltered groupBy would coalesce every undecodable image into
      // one spurious null-keyed "duplicate" group — exactly the
      // colliding-sentinel hazard imageDHash's null contract avoids
      val hashed = MediaCodecs.imageDHash(
        MediaCodecs.renderImages(docs.select(col("img_seed")).distinct(), "img_seed"),
        "img_seed").where(col("decode_ok"))
      docs.join(broadcast(hashed), Seq("img_seed"))
        .groupBy(col("dhash"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
    },
    // GPT-style sequence packing: every 512-token window exactly full,
    // documents split across boundaries, per-window segment map gated
    Query("q_pack_sequences", Headline)(
      // sequence packing: the q_shard_pack prefix chain (fine at gate
      // scale as a SQL window) + a row-local window explode; pure BIGINT
      // arithmetic throughout, so every segment address is bit-exact
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(COALESCE(text,''), '\S+')) AS BIGINT) AS w,
        |    md5(CAST(doc_id AS VARCHAR) || ':graft-seq') AS k
        |  FROM documents),
    |p AS (SELECT doc_id, w,
        |    CAST(COALESCE(SUM(w) OVER (ORDER BY k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g0
        |  FROM d),
        |e AS (SELECT doc_id, w, g0,
        |    unnest(generate_series(g0 // 512, (g0 + w - 1) // 512)) AS window_id
        |  FROM p WHERE w > 0)
        |SELECT doc_id, window_id,
        |  greatest(g0, window_id * 512) - g0 AS tok_start,
        |  greatest(g0, window_id * 512) - window_id * 512 AS seg_start,
        |  least(g0 + w, window_id * 512 + 512) - greatest(g0, window_id * 512) AS seg_len
        |FROM e""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_toks"))
      PipelineOps.packSequences(d, "doc_id", "n_toks", seqLen = 512L)
    },
    // int8 scalar quantization: exact min/max fit + integer-exact
    // codes (gated via fingerprint + ordered-sum) + bit-exact
    // reconstruction error
    Query("q_embed_int8", Headline)(
      // int8 quantization: the oracle recomputes the per-dim min/max fit
      // itself (min/max are combine-order-insensitive, so both engines
      // agree exactly); encode and reconstruction replay Spark's exact
      // association order — ((v-mn)/rng*255)+0.5 and ((c+128)/255*rng)+mn
      // — and the error is the usual list_prepend ordered fold
      """WITH u AS (SELECT unnest(embedding) AS v,
        |    unnest(generate_series(1, len(embedding))) AS j FROM embeddings),
        |s AS (SELECT j, MIN(CAST(v AS DOUBLE)) AS mn,
        |    MAX(CAST(v AS DOUBLE)) - MIN(CAST(v AS DOUBLE)) AS rng
        |  FROM u GROUP BY j),
        |fit AS (SELECT list(mn ORDER BY j) AS mns, list(rng ORDER BY j) AS rngs FROM s),
        |coded AS (SELECT vec_id, embedding, mns, rngs,
        |    [CASE WHEN rngs[j] = 0.0 THEN 0
        |          ELSE CAST(floor((CAST(embedding[j] AS DOUBLE) - mns[j]) / rngs[j] * 255.0 + 0.5) AS INT) - 128 END
        |     FOR j IN generate_series(1, 64)] AS codes
        |  FROM embeddings, fit)
        |SELECT vec_id,
        |  md5(array_to_string(codes, ',')) AS codes_fp,
        |  CAST(COALESCE(list_sum(codes), 0) AS BIGINT) AS code_sum,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    [(CAST(embedding[j] AS DOUBLE) - ((CAST(codes[j] + 128 AS DOUBLE) / 255.0) * rngs[j] + mns[j]))
        |     * (CAST(embedding[j] AS DOUBLE) - ((CAST(codes[j] + 128 AS DOUBLE) / 255.0) * rngs[j] + mns[j]))
        |     FOR j IN generate_series(1, 64)]), (acc, x) -> acc + x) AS recon_err
        |FROM coded""".stripMargin) { (s, dir) =>
      Quantize.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64)
        .select(col("vec_id"),
          md5(array_join(transform(col("codes"), c => c.cast("string")), ","))
            .as("codes_fp"),
          aggregate(col("codes"), lit(0L), (a, b) => a + b.cast("long"))
            .as("code_sum"),
          col("recon_err"))
    }
  )
}
