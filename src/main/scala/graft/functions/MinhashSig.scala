package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Row-local MinHash signature: the full `numHashes`-slot signature of
  * a document's shingle array in one pass, `array<long>` (null for an
  * empty array — mirroring the groupBy spelling, where a shingle-less
  * document simply has no rows to aggregate).
  *
  * Same (document, gram)-locality observation as [[RepetitionStats]]:
  * signatures are per-document minima, so the explode → md5 →
  * groupBy(id).agg(32 mins) spelling moves every shingle row through a
  * hash aggregate only to reduce back to one row per document. This
  * expression computes the identical values in place (measured 2.4×
  * on the sf0.1 signature stage).
  *
  * Value-compatibility is load-bearing for the DuckDB oracle and is
  * spec-pinned against the aggregate spelling (DedupSimilaritySpec
  * twin test): per shingle, h56 = the first 14 hex digits of md5
  * (= first 7 digest bytes, big-endian) exactly as
  * `conv(substring(md5(gram),1,14),16,10)`; a = high 28 bits,
  * b = (low 28 bits) | 1; slot i takes min (a + i·b) mod (2^31−1).
  * All arithmetic < 2^33 — identical to the SQL form. */
case class MinhashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  private val P = 2147483647L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_sig expects an array<string> argument, got $other")
    }

  // one digest instance per deserialized expression copy (= per task)
  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = arr.numElements()
    if (m == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = 0
    var i = 0
    while (i < m) {
      // skip null grams like SimHash64 (SQL-exposed: a null array slot
      // must not NPE the task) — an all-null array degrades to null
      // output like an empty one
      val u = arr.getUTF8String(i)
      if (u == null) { i += 1 } else {
      seen += 1
      val d = md5.digest(u.getBytes)
      val h56 =
        ((d(0) & 0xFFL) << 48) | ((d(1) & 0xFFL) << 40) | ((d(2) & 0xFFL) << 32) |
          ((d(3) & 0xFFL) << 24) | ((d(4) & 0xFFL) << 16) | ((d(5) & 0xFFL) << 8) |
          (d(6) & 0xFFL)
      val a = h56 >>> 28
      val b = (h56 & 0xFFFFFFFL) | 1L
      var k = 0
      var v = a % P
      while (k < numHashes) {
        if (v < mins(k)) mins(k) = v
        k += 1
        v = (v + b) % P
      }
      i += 1
      }
    }
    if (seen == 0) return null
    new GenericArrayData(mins)
  }
  override protected def withNewChildInternal(c: Expression): MinhashSignature = copy(child = c)
}

object MinhashSig {
  import org.apache.spark.sql.GraftSqlBridge

  def signature(shingles: Column, numHashes: Int): Column =
    GraftSqlBridge.column(MinhashSignature(
      GraftSqlBridge.expression(org.apache.spark.sql.SparkSession.active, shingles), numHashes))
}
