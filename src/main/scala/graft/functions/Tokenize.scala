package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass tokenizers as native Catalyst expressions.
  *
  * `regexp_extract_all` with an alternation pattern costs ~µs/char on
  * the corpus hot path; these scanners do one linear pass over the
  * UTF-8 bytes. Semantics exactly match the RE2 regex forms (ASCII
  * whitespace = RE2 `\s` = [ \t\n\f\r], ASCII letter/digit classes),
  * so the DuckDB oracles stay valid. NOTE the deliberate RE2-over-Java
  * choice: Java's `\s` additionally contains vertical tab (\x0B), RE2's
  * does not — the oracle engine defines the contract, so \x0B is NOT
  * whitespace here (it tokenizes like any other byte).
  *
  * - [[WhitespaceTokens]] ≡ regexp_extract_all(text, "\\S+")
  * - [[BpeishTokens]]     ≡ regexp_extract_all(text,
  *                            "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")
  */
abstract class SinglePassTokenizer extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // RE2 \s: space, \t, \n, \f, \r — deliberately NOT \x0B (Java-only;
  // see the object scaladoc: the DuckDB oracle defines the contract)
  @inline protected final def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r'
  @inline protected final def isAlpha(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  @inline protected final def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
}

/** Whitespace-run tokenization (≡ `\S+`). */
case class WhitespaceTokens(child: Expression) extends SinglePassTokenizer {
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      val start = i
      while (i < bytes.length && !isSpace(bytes(i))) i += 1
      if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): WhitespaceTokens = copy(child = c)
}

/** Letter runs / digit runs / single other-non-space (the BPE-ish
  * pre-tokenizer classes). */
case class BpeishTokens(child: Expression) extends SinglePassTokenizer {
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (isAlpha(b)) {
        val start = i
        while (i < bytes.length && isAlpha(bytes(i))) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      } else if (isDigit(b)) {
        val start = i
        while (i < bytes.length && isDigit(bytes(i))) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      } else if (!isSpace(b)) {
        // single non-alnum char — but multi-byte UTF-8 sequences stay
        // one "char" like the regex `.`-class would treat them
        val start = i
        i += 1
        while (i < bytes.length && (bytes(i) & 0xC0) == 0x80) i += 1 // continuation bytes
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): BpeishTokens = copy(child = c)
}

/** n-token shingles from a token array. A lambda-based
  * `transform(sequence(...), i -> slice(toks, i, n))` re-evaluates the
  * token child once per element (O(tokens²) scans); this expression
  * evaluates its child once. Output order matches the lambda form. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression with CodegenFallback {
  // like MinhashSignature's numHashes require: n = 0 would silently
  // emit m+1 empty-string shingles into the dedup signatures
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_word_shingles expects an array<string> argument, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = arr.numElements()
    val count = math.max(m - n + 1, 0)
    val out = new Array[AnyRef](count)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        // null slots read as "" (SQL-exposed: must not NPE the task)
        val u = arr.getUTF8String(i + j)
        if (u != null) sb.append(u.toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** Per-document repetition statistics in ONE pass over the token
  * array: `struct<n_words, mx1, mx2, dupn, totn>` (long; mx/dup/tot
  * null when the doc is too short to have that gram size) where mx1 =
  * max unigram count, mx2 = max bigram count, dupn/totn = duplicated /
  * total `dupN`-gram positions.
  *
  * The load-bearing observation (measured on the sf0.1 corpus): these counts
  * are keyed by (document, gram) — grams never cross documents — so
  * the groupBy spelling shuffles ~175 gram rows per document only to
  * reduce them straight back to one row per document. Counting inside
  * the row eliminates the explode, both shuffles, and the spine join
  * (the operator becomes embarrassingly parallel, partitioning
  * untouched); the declarative plan measured 1.9 s end-to-end on
  * sf0.1 vs 0.2 s for this expression. Per-row memory is one count
  * table over the document's distinct grams — the same worst case the
  * exploded row set already had. */
case class RepetitionStats(child: Expression, dupN: Int)
  extends UnaryExpression with CodegenFallback {
  require(dupN >= 3, s"dupN must be >= 3, got $dupN")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_repetition expects an array<string> argument, got $other")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("mx1", LongType, nullable = true),
    StructField("mx2", LongType, nullable = true),
    StructField("dupn", LongType, nullable = true),
    StructField("totn", LongType, nullable = true)))

  private def joined(toks: Array[UTF8String], s: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(s + j).toString)
      j += 1
    }
    sb.toString
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    // null slots read as "" (SQL-exposed: must not NPE the task)
    while (i < m) {
      val u = arr.getUTF8String(i)
      toks(i) = if (u == null) UTF8String.EMPTY_UTF8 else u
      i += 1
    }

    def counts(n: Int): java.util.HashMap[String, Long] = {
      val h = new java.util.HashMap[String, Long]()
      var s = 0
      while (s <= m - n) {
        h.merge(if (n == 1) toks(s).toString else joined(toks, s, n),
          1L, (a, b) => a + b)
        s += 1
      }
      h
    }
    def maxCount(n: Int): Any =
      if (m < n) null
      else {
        var mx = 0L
        counts(n).values().forEach(v => if (v > mx) mx = v)
        mx
      }
    val short = m < dupN
    var dup = 0L
    if (!short) counts(dupN).values().forEach(v => if (v > 1) dup += v)
    val dupn: Any = if (short) null else dup
    val totn: Any = if (short) null else (m - dupN + 1).toLong
    org.apache.spark.sql.catalyst.InternalRow(m.toLong, maxCount(1), maxCount(2), dupn, totn)
  }
  override protected def withNewChildInternal(c: Expression): RepetitionStats = copy(child = c)
}

object Tokenize {
  import org.apache.spark.sql.GraftSqlBridge

  private def toExpr(c: Column): Expression =
    GraftSqlBridge.expression(org.apache.spark.sql.SparkSession.active, c)

  def whitespaceTokens(text: Column): Column =
    GraftSqlBridge.column(WhitespaceTokens(toExpr(text)))
  def bpeishTokens(text: Column): Column =
    GraftSqlBridge.column(BpeishTokens(toExpr(text)))
  def wordShingles(tokens: Column, n: Int): Column =
    GraftSqlBridge.column(WordShingles(toExpr(tokens), n))
  def repetitionStats(tokens: Column, dupN: Int): Column =
    GraftSqlBridge.column(RepetitionStats(toExpr(tokens), dupN))
}
