package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernels for [[graft.operators.CurationRules]].
  *
  * The declarative spelling (two tokenizations + a line split + five
  * collection-lambda passes per document) is semantically right but
  * every higher-order function evaluates its lambda interpreted
  * (HOFs are CodegenFallback in Spark), and the intermediate token /
  * line arrays materialize per pass. These kernels compute the same
  * integer counts in one byte-level sweep per document — the
  * [[RepetitionStats]] move (measured there: 1.9 s → 0.2 s at sf0.1).
  * BASELINE.md round 8 records the same gain for these kernels
  * (q_gopher_quality 0.70 → 0.43 s at sf0.1), and
  * the DuckDB gate queries (q_gopher_quality / q_c4_clean) pin the
  * kernels value-exact against the declarative SQL semantics.
  *
  * Exact-parity notes (each mirrors the declarative spelling):
  *   - words = [[WhitespaceTokens]] runs (space/tab/LF/FF/CR);
  *   - char counts are CHARACTER counts (UTF8String.numChars), not
  *     bytes, matching `length()`;
  *   - '...'/'…' occurrences count non-overlapping left-to-right,
  *     matching `length(x) − length(replace(x, pat, ''))`; the three
  *     symbol patterns are byte-disjoint, so one combined sweep equals
  *     three independent replaces;
  *   - stop-word equality compares the Unicode-lowercased token,
  *     matching `tokens(lower(text))` (lowercasing never changes
  *     whitespace, so token boundaries agree);
  *   - line duplicate counting is exact string equality
  *     (beyond-first-occurrence convention).
  */
object CurationKernels {
  import org.apache.spark.sql.GraftSqlBridge

  private def toExpr(c: Column): Expression =
    GraftSqlBridge.expression(org.apache.spark.sql.SparkSession.active, c)

  def gopherStats(text: Column, lineDelim: String): Column =
    GraftSqlBridge.column(GopherStats(toExpr(text), lineDelim))

  def c4Stats(text: Column, lineDelim: String, minWordsPerLine: Int): Column =
    GraftSqlBridge.column(C4Stats(toExpr(text), lineDelim, minWordsPerLine))

  private[functions] def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'

  /** Split positions of `delim` (byte pattern, non-overlapping, left to
    * right) — returns line (start, end) byte ranges INCLUDING trailing
    * empties, matching `split(text, quote(delim))` with Spark's
    * limit = -1. */
  private[functions] def lineRanges(bytes: Array[Byte], delim: Array[Byte]): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = 0
    var i = 0
    while (i <= bytes.length - delim.length) {
      var j = 0
      while (j < delim.length && bytes(i + j) == delim(j)) j += 1
      if (j == delim.length) {
        out += ((start, i)); i += delim.length; start = i
      } else i += 1
    }
    out += ((start, bytes.length))
    out.toSeq
  }

  /** Whitespace-token (start, end) byte ranges within [from, until). */
  private[functions] def tokenRanges(bytes: Array[Byte], from: Int, until: Int): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = from
    while (i < until) {
      while (i < until && isSpace(bytes(i))) i += 1
      val s = i
      while (i < until && !isSpace(bytes(i))) i += 1
      if (i > s) out += ((s, i))
    }
    out.toSeq
  }

  private[functions] def slice(bytes: Array[Byte], s: Int, e: Int): UTF8String =
    UTF8String.fromBytes(bytes, s, e - s)
}

/** One-sweep Gopher signal counts — see [[CurationKernels]]. Output
  * struct fields are the exact integers the ratio layer divides. */
case class GopherStats(child: Expression, lineDelim: String)
  extends UnaryExpression with CodegenFallback {
  require(lineDelim.nonEmpty, "lineDelim must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gopher_stats expects a string argument, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("tok_chars", LongType, nullable = false),
    StructField("symbols", LongType, nullable = false),
    StructField("bullet_lines", LongType, nullable = false),
    StructField("ellipsis_lines", LongType, nullable = false),
    StructField("alpha_words", LongType, nullable = false),
    StructField("stop_count", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("dup_lines", LongType, nullable = false),
    StructField("line_chars", LongType, nullable = false),
    StructField("dup_line_chars", LongType, nullable = false)))

  private val stopwords: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.operators.CurationRules.GopherStopwords.foreach(s.add)
    s
  }
  private val delimBytes = lineDelim.getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val n = bytes.length

    // words: count, char lengths, alpha presence, stop-word hits
    var nWords = 0L; var tokChars = 0L; var alphaWords = 0L; var stopCount = 0L
    CurationKernels.tokenRanges(bytes, 0, n).foreach { case (s, e) =>
      nWords += 1
      val tok = CurationKernels.slice(bytes, s, e)
      tokChars += tok.numChars()
      var hasAlpha = false
      var i = s
      while (i < e && !hasAlpha) {
        val b = bytes(i)
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) hasAlpha = true
        i += 1
      }
      if (hasAlpha) alphaWords += 1
      if (stopwords.contains(tok.toLowerCase.toString)) stopCount += 1
    }

    // symbols: '#', non-overlapping '...', '…' (byte-disjoint patterns)
    var symbols = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == '#') { symbols += 1; i += 1 }
      else if (b == '.' && i + 2 < n && bytes(i + 1) == '.' && bytes(i + 2) == '.') {
        symbols += 1; i += 3
      } else if (b == 0xE2.toByte && i + 2 < n &&
          bytes(i + 1) == 0x80.toByte && bytes(i + 2) == 0xA6.toByte) {
        symbols += 1; i += 3
      } else i += 1
    }

    // lines: bullets, ellipsis ends, duplicate counting
    var nLines = 0L; var bulletLines = 0L; var ellipsisLines = 0L
    var lineChars = 0L; var distinctChars = 0L
    val seen = new java.util.HashSet[String]()
    CurationKernels.lineRanges(bytes, delimBytes).foreach { case (s, e) =>
      nLines += 1
      val len = e - s
      if (len >= 2 && bytes(s + 1) == ' ' && (bytes(s) == '-' || bytes(s) == '*'))
        bulletLines += 1
      else if (len >= 4 && bytes(s) == 0xE2.toByte && bytes(s + 1) == 0x80.toByte &&
          bytes(s + 2) == 0xA2.toByte && bytes(s + 3) == ' ')
        bulletLines += 1
      if ((len >= 3 && bytes(e - 1) == '.' && bytes(e - 2) == '.' && bytes(e - 3) == '.') ||
          (len >= 3 && bytes(e - 3) == 0xE2.toByte && bytes(e - 2) == 0x80.toByte &&
            bytes(e - 1) == 0xA6.toByte))
        ellipsisLines += 1
      val line = CurationKernels.slice(bytes, s, e)
      val chars = line.numChars().toLong
      lineChars += chars
      if (seen.add(line.toString)) distinctChars += chars
    }

    InternalRow(nWords, tokChars, symbols, bulletLines, ellipsisLines,
      alphaWords, stopCount, nLines, nLines - seen.size, lineChars,
      lineChars - distinctChars)
  }

  override def prettyName: String = "graft_gopher_stats"
  override protected def withNewChildInternal(c: Expression): GopherStats = copy(child = c)
}

/** One-sweep C4 cleaning — see [[CurationKernels]]. Returns the kept
  * rebuild and the doc-drop facts; the flag/empty-text policy layer
  * stays in [[graft.operators.CurationRules.c4Clean]]. */
case class C4Stats(child: Expression, lineDelim: String, minWordsPerLine: Int)
  extends UnaryExpression with CodegenFallback {
  require(lineDelim.nonEmpty, "lineDelim must be non-empty")
  require(minWordsPerLine >= 1, s"minWordsPerLine must be >= 1, got $minWordsPerLine")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_c4_stats expects a string argument, got $other")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("kept_text", StringType, nullable = false),
    StructField("has_drop_marker", BooleanType, nullable = false)))

  private val delimBytes = lineDelim.getBytes("UTF-8")

  /** ASCII-case-insensitive search for `pat` (lowercase ASCII) in
    * [from, until) — matches `contains(lower(x), pat)` for ASCII
    * patterns: Unicode lowercasing maps A-Z to a-z and never maps a
    * non-ASCII char INTO ASCII lowercase letters used here. */
  private def containsCI(bytes: Array[Byte], from: Int, until: Int, pat: Array[Byte]): Boolean = {
    var i = from
    while (i <= until - pat.length) {
      var j = 0
      while (j < pat.length) {
        var b = bytes(i + j)
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        if (b != pat(j)) j = pat.length + 1 else j += 1
      }
      if (j == pat.length) return true
      i += 1
    }
    false
  }

  private val JS = "javascript".getBytes("UTF-8")
  private val LOREM = "lorem ipsum".getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val n = bytes.length

    var hasBrace = false
    var i = 0
    while (i < n && !hasBrace) { if (bytes(i) == '{') hasBrace = true; i += 1 }
    val hasDropMarker = hasBrace || containsCI(bytes, 0, n, LOREM)

    var nLines = 0L; var nKept = 0L
    val kept = new java.lang.StringBuilder()
    CurationKernels.lineRanges(bytes, delimBytes).foreach { case (s, e) =>
      nLines += 1
      val len = e - s
      val terminal = len >= 1 && {
        val b = bytes(e - 1)
        b == '.' || b == '!' || b == '?' || b == '"'
      }
      if (terminal && !containsCI(bytes, s, e, JS)) {
        var words = 0
        var j = s
        while (j < e && words < minWordsPerLine) {
          while (j < e && CurationKernels.isSpace(bytes(j))) j += 1
          val ts = j
          while (j < e && !CurationKernels.isSpace(bytes(j))) j += 1
          if (j > ts) words += 1
        }
        if (words >= minWordsPerLine) {
          if (nKept > 0) kept.append(lineDelim)
          kept.append(CurationKernels.slice(bytes, s, e).toString)
          nKept += 1
        }
      }
    }
    InternalRow(nLines, nKept, UTF8String.fromString(kept.toString), hasDropMarker)
  }

  override def prettyName: String = "graft_c4_stats"
  override protected def withNewChildInternal(c: Expression): C4Stats = copy(child = c)
}
