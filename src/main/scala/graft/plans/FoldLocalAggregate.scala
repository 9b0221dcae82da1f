package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, InterpretedMutableProjection, JoinedRow, SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, DeclarativeAggregate, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Folds a global aggregate over a driver-local relation into the
  * one-row local relation it evaluates to, the way Spark's own
  * `ConvertToLocalRelation` folds project, filter and limit. The rows
  * are already on the driver, so the aggregate runs there, through each
  * function's own Catalyst expressions (`initialValues`,
  * `updateExpressions`, `evaluateExpression`), interpreted, instead of
  * as a Spark job.
  *
  * It folds only aggregates whose result cannot depend on row order or
  * partitioning — `min`, `max`, `count` and `sum` over integral input,
  * none distinct or filtered — inside deterministic, evaluable
  * expressions with no subquery. Anything else (a double `sum`, `avg`,
  * a sketch, a grouped aggregate) and every plan over a file scan stay
  * with Spark unchanged, so a folded result is the one Spark computes.
  */
object FoldLocalAggregate extends Rule[LogicalPlan] {

  /** Adds the rule to `spark`'s optimizer once; safe to call again and
    * from several threads. */
  def install(spark: SparkSession): Unit = spark.synchronized {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this)) ex.extraOptimizations = ex.extraOptimizations :+ this
  }

  private val integral = Set[Any](ByteType, ShortType, IntegerType, LongType)

  private def orderFree(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: Min | _: Max | _: Count => true
      case s: Sum => integral(s.child.dataType)
      case _ => false
    })

  private def aggregatesOf(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct

  private def foldable(a: Aggregate): Boolean =
    a.groupingExpressions.isEmpty && aggregatesOf(a).forall(orderFree) &&
      a.aggregateExpressions.forall { e =>
        e.deterministic && !SubqueryExpression.hasSubquery(e) && !e.exists {
          case _: AggregateExpression | _: Attribute => false
          case x => x.isInstanceOf[Unevaluable]
        }
      }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a @ Aggregate(_, _, LocalRelation(in, rows, false, _), _) if foldable(a) =>
      LocalRelation(a.output, Seq(evaluate(a, in, rows)))
  }

  private def evaluate(a: Aggregate, in: Seq[Attribute], rows: Seq[InternalRow]): InternalRow = {
    val aggs = aggregatesOf(a)
    val fs = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = fs.flatMap(_.aggBufferAttributes)
    val acc = new GenericInternalRow(buffer.size)
    new InterpretedMutableProjection(fs.flatMap(_.initialValues)).target(acc)(InternalRow.empty)
    val update = new InterpretedMutableProjection(fs.flatMap(_.updateExpressions), buffer ++ in)
      .target(acc)
    val joined = new JoinedRow(acc, InternalRow.empty)
    rows.foreach(r => update(joined.withRight(r)))
    val results = a.aggregateExpressions.map(_.transform {
      case ae: AggregateExpression => fs(aggs.indexOf(ae)).evaluateExpression
    })
    new InterpretedMutableProjection(results, buffer)(acc).copy()
  }
}
