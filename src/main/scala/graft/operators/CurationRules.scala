package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Named rule-set quality filters from the published LLM-corpus
  * curation literature, as pure expression scans.
  *
  * - [[gopherSignals]] — the Gopher paper's quality + repetition rule
  *   set (Rae et al. 2021, "Scaling Language Models", table A1):
  *   word-count bounds, mean-word-length bounds, symbol-to-word ratio,
  *   bullet-start / ellipsis-end line ratios, alphabetic-word ratio,
  *   stop-word floor, and the duplicate-line / duplicate-line-char
  *   fractions.
  * - [[c4Clean]] — the C4 cleaning pass (Raffel et al. 2020, §2.2):
  *   keep only lines ending in terminal punctuation with a minimum
  *   word count, drop lines mentioning javascript, drop whole
  *   documents containing "lorem ipsum" or '{', or with too few
  *   surviving lines.
  *
  * Scale shape (both): zero shuffle — every signal is keyed by the
  * document and computed inside the row, so the operators are pure
  * projections that preserve the input partitioning. The per-row
  * counting runs in single-sweep byte kernels
  * ([[graft.functions.GopherStats]] / [[graft.functions.C4Stats]])
  * rather than collection-lambda expressions: Spark evaluates
  * higher-order-function lambdas interpreted (CodegenFallback), and
  * the declarative spelling costs two tokenizations, a line split and
  * five lambda passes per document (q_gopher_quality 0.70 → 0.43 s at
  * sf0.1 with the kernels, BASELINE.md round 8).
  * At 100 TB the operators are scan-bandwidth-bound, which is the
  * floor.
  *
  * Cross-engine exactness: every ratio is a single double division of
  * two exact integers (correctly rounded, so bit-identical in any
  * IEEE-754 engine), which makes the rule thresholds safe to compare
  * on both sides of the gate.
  *
  * The reference has no corpus-filter surface (its quality signals are
  * utils.py's per-column profiling stats); these are the standard
  * training-data rule sets, added as first-class pipeline operators.
  */
object CurationRules {

  /** Gopher's stop-word list (the rule: a quality document contains at
    * least [[stopwordFloor]] occurrences of these). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-document Gopher rule signals + the combined pass flag.
    *
    * Output columns:
    *   - `n_words`             whitespace token count
    *   - `mean_word_len`       mean token length (0.0 for empty docs)
    *   - `symbol_word_ratio`   ('#' chars + '...'/'…' occurrences) / words
    *   - `bullet_line_frac`    lines starting "- " / "* " / "• "
    *   - `ellipsis_line_frac`  lines ending "..." or "…"
    *   - `alpha_word_frac`     words containing an [A-Za-z] char
    *   - `stopword_count`      occurrences of [[GopherStopwords]]
    *   - `dup_line_frac`       beyond-first-occurrence lines / lines
    *   - `dup_line_char_frac`  chars in beyond-first lines / line chars
    *   - `gopher_pass`         1 when every rule passes, else 0
    *
    * Duplicate counting uses the beyond-first-occurrence convention
    * (n − distinct): the second and later copies of a line are the
    * duplicates, matching how the published filters count them.
    *
    * Thresholds are the paper's: 50 ≤ words ≤ 100k, 3 ≤ mean len ≤ 10,
    * symbols ≤ 0.1, bullets ≤ 0.9, ellipses ≤ 0.3, alpha ≥ 0.8,
    * stopwords ≥ 2, dup lines ≤ 0.3, dup line chars ≤ 0.2.
    */
  def gopherSignals(df: DataFrame, idCol: String, textCol: String,
                    lineDelim: String = "\n",
                    minWords: Long = 50L, maxWords: Long = 100000L): DataFrame =
    gopherAugment(df.select(col(idCol), col(textCol)), idCol, textCol,
      lineDelim, minWords, maxWords).drop(textCol)

  /** The signal names [[gopherAugment]] appends (plus `gopher_pass`). */
  val GopherSignalColumns: Seq[String] = Seq("n_words", "mean_word_len",
    "symbol_word_ratio", "bullet_line_frac", "ellipsis_line_frac",
    "alpha_word_frac", "stopword_count", "dup_line_frac", "dup_line_char_frac")

  /** [[gopherSignals]] as an augmentation: every input column is kept
    * and the signal + `gopher_pass` columns are appended. This is the
    * composition-friendly form — a pipeline that gates on the rules
    * and keeps processing the text would otherwise need a
    * corpus-corpus self-join back onto the id (a SortMergeJoin of two
    * full scans at 100 TB); the signals are row-local, so appending
    * them is free. */
  def gopherAugment(df: DataFrame, idCol: String, textCol: String,
                    lineDelim: String = "\n",
                    minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    require(lineDelim.nonEmpty, "lineDelim must be non-empty")
    val reserved = GopherSignalColumns.toSet ++ Set("gopher_pass", "__s")
    val clash = df.columns.filter(c => c != textCol && reserved.contains(c))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with gopher signal columns")

    // one byte-level sweep per document (graft.functions.GopherStats)
    // — the declarative spelling (two tokenizations + line split +
    // five interpreted collection lambdas) is what the DuckDB oracle
    // replays; the kernel computes the identical integer counts
    // (CurationKernels scaladoc lists the parity obligations) and the
    // ratio layer below divides them
    val stats = df.withColumn("__s",
      graft.functions.CurationKernels.gopherStats(
        coalesce(col(textCol), lit("")), lineDelim))

    val nWords = col("__s.n_words")
    val nLines = col("__s.n_lines")
    // null-safe denominators: empty docs get ratio 0.0 (they fail the
    // word-count rule regardless, so the zero never flips the verdict)
    val safeWords = when(nWords === 0L, lit(null)).otherwise(nWords)
    val safeLines = when(nLines === 0L, lit(null)).otherwise(nLines)
    val safeLineChars =
      when(col("__s.line_chars") === 0L, lit(null)).otherwise(col("__s.line_chars"))

    stats
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        coalesce(col("__s.tok_chars").cast("double") / safeWords, lit(0.0)))
      .withColumn("symbol_word_ratio",
        coalesce(col("__s.symbols").cast("double") / safeWords, lit(0.0)))
      .withColumn("bullet_line_frac",
        coalesce(col("__s.bullet_lines").cast("double") / safeLines, lit(0.0)))
      .withColumn("ellipsis_line_frac",
        coalesce(col("__s.ellipsis_lines").cast("double") / safeLines, lit(0.0)))
      .withColumn("alpha_word_frac",
        coalesce(col("__s.alpha_words").cast("double") / safeWords, lit(0.0)))
      .withColumn("stopword_count", col("__s.stop_count"))
      .withColumn("dup_line_frac",
        coalesce(col("__s.dup_lines").cast("double") / safeLines, lit(0.0)))
      .withColumn("dup_line_char_frac",
        coalesce(col("__s.dup_line_chars").cast("double") / safeLineChars, lit(0.0)))
      .withColumn("gopher_pass",
        when(col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("stopword_count") >= 2L &&
          col("dup_line_frac") <= 0.3 &&
          col("dup_line_char_frac") <= 0.2, lit(1L)).otherwise(lit(0L)))
      .drop("__s")
  }

  /** C4-style cleaning: line filter + document-level drops.
    *
    * A line survives when it ends in terminal punctuation
    * ('.', '!', '?', '"'), has at least `minWordsPerLine` whitespace
    * tokens, and does not mention "javascript" (case-insensitive). A
    * document is dropped entirely when it contains "lorem ipsum"
    * (case-insensitive) or '{', or when fewer than `minLinesKept`
    * lines survive.
    *
    * Output: (idCol, n_lines, n_lines_kept, doc_kept, clean_text) —
    * every input document appears once; dropped documents carry
    * `doc_kept = 0` and an empty `clean_text` so the caller chooses
    * between filtering and auditing. Kept lines are rejoined with
    * `lineDelim` in original order (filter preserves array order — no
    * explode/rebuild round-trip needed, unlike the corpus-keyed
    * boilerplate strip).
    */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minWordsPerLine: Int = 3, minLinesKept: Int = 2,
              lineDelim: String = "\n"): DataFrame =
    c4Augment(df.select(col(idCol), col(textCol)), idCol, textCol,
      minWordsPerLine, minLinesKept, lineDelim).drop(textCol)

  /** [[c4Clean]] as an augmentation: every input column is kept and
    * `(n_lines, n_lines_kept, doc_kept, clean_text)` are appended —
    * the composition-friendly form, same rationale as
    * [[gopherAugment]] (the counts are row-local; joining them back
    * onto the corpus would be a full self-join at scale). */
  def c4Augment(df: DataFrame, idCol: String, textCol: String,
                minWordsPerLine: Int = 3, minLinesKept: Int = 2,
                lineDelim: String = "\n"): DataFrame = {
    require(lineDelim.nonEmpty, "lineDelim must be non-empty")
    require(minWordsPerLine >= 1, s"minWordsPerLine must be >= 1, got $minWordsPerLine")
    val reserved = Set("n_lines", "n_lines_kept", "doc_kept", "clean_text", "__s")
    val clash = df.columns.filter(c => c != textCol && reserved.contains(c))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(", ")} collide with c4 output columns")

    // one byte-level sweep per document (graft.functions.C4Stats);
    // the q_c4_clean oracle replays the declarative line-lambda
    // spelling these counts must match
    val stats = df.withColumn("__s",
      graft.functions.CurationKernels.c4Stats(
        coalesce(col(textCol), lit("")), lineDelim, minWordsPerLine))

    val docKept = when(col("__s.has_drop_marker") ||
      col("__s.n_kept") < minLinesKept, lit(0L)).otherwise(lit(1L))

    stats
      .withColumn("n_lines", col("__s.n_lines"))
      .withColumn("n_lines_kept", col("__s.n_kept"))
      .withColumn("doc_kept", docKept)
      .withColumn("clean_text",
        when(docKept === 1L, col("__s.kept_text")).otherwise(lit("")))
      .drop("__s")
  }
}
