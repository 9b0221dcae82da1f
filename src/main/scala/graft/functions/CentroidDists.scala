package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Squared Euclidean distance from an embedding to every codebook
  * centroid, as one `array<double>` — the IVF/SemDeDup assignment
  * kernel ([[graft.operators.Similarity]]).
  *
  * Exists because the Column spelling — `array(centers.map(ctr =>
  * Σ_f (element_at(v,f+1) − lit(ctr(f)))²))` — materializes a
  * k·d-term expression tree (1024 nodes at k=16, d=64) whose generated
  * code blows past the JIT's huge-method limit: the 2000-row sf0.1
  * assignment scan measured ~5 s of pure execution,
  * all of it interpretation of a giant fallback method. This
  * expression is the same arithmetic as a data-independent JVM loop:
  * centers ride along as a plain array in the expression instance, one
  * multiply-add per (centroid, feature).
  *
  * Value-compatibility with the Column spelling (and therefore with
  * the DuckDB oracle replay) is load-bearing: per centroid the sum
  * folds features in ascending order — the identical IEEE-754
  * operation sequence — and float inputs widen to double exactly as
  * `cast(double)` does. A vector shorter than the codebook dimension
  * throws (the Column form silently nulled that distance; malformed
  * corpora should be loud).
  */
case class CentroidDistsExpr(child: Expression, centers: Seq[IndexedSeq[Double]],
                             offset: Int = 0)
  extends UnaryExpression with CodegenFallback {
  require(centers.nonEmpty, "empty codebook")
  require(offset >= 0, s"negative subspace offset $offset")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  // analysis-time rejection (the BpeEncodeExpr pattern) instead of an
  // IllegalStateException mid-job
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"centroid_dists expects an array<float|double> argument, got $other")
    }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // unwrap once per task, not per row
  @transient private lazy val ctrs: Array[Array[Double]] = centers.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = ctrs(0).length
    if (arr.numElements() < offset + d)
      throw new IllegalStateException(
        s"embedding has ${arr.numElements()} elements, codebook needs [$offset, ${offset + d})")
    val out = new Array[Double](ctrs.length)
    var c = 0
    while (c < ctrs.length) {
      val ctr = ctrs(c)
      var s = 0.0
      var f = 0
      while (f < d) {
        val x = if (isFloat) arr.getFloat(offset + f).toDouble else arr.getDouble(offset + f)
        val diff = x - ctr(f)
        s += diff * diff
        f += 1
      }
      out(c) = s
      c += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): CentroidDistsExpr = copy(child = c)
}

object CentroidDists {
  import org.apache.spark.sql.GraftSqlBridge

  /** @param offset first input index of the subspace the codebook
    *                covers — dists over `vec[offset, offset+d)` without
    *                materializing a per-row `slice()` copy (the PQ
    *                per-subspace encode path, [[graft.operators.Similarity.pqTopK]]) */
  def dists(vec: Column, centers: Array[Array[Double]], offset: Int = 0): Column =
    GraftSqlBridge.column(CentroidDistsExpr(
      GraftSqlBridge.expression(org.apache.spark.sql.SparkSession.active, vec),
      centers.toIndexedSeq.map(_.toIndexedSeq), offset))
}
