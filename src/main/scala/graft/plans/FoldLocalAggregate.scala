package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BindReferences, CollectionGenerator, Expression, ExpressionSet, GenericInternalRow, InterpretedMutableProjection, InterpretedProjection, InterpretedUnsafeProjection, JoinedRow, Literal, Predicate, SubqueryExpression, Unevaluable, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, ApproximatePercentile, Count, DeclarativeAggregate, ImperativeAggregate, Max, Min, Sum}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Folds an aggregate over a driver-local relation into the local
  * relation it evaluates to, the way Spark's own `ConvertToLocalRelation`
  * folds project, filter and limit. The rows are already on the driver,
  * so the aggregate runs there, interpreted, through each function's own
  * Catalyst code (a declarative function's `initialValues`,
  * `updateExpressions` and `evaluateExpression`, an imperative one's
  * `initialize`, `update` and `eval`), instead of as Spark jobs.
  *
  * The input is a batch `LocalRelation`, or a chain of deterministic
  * `Project`, `Filter` and collection `Generate` (`explode`) over one,
  * which the fold evaluates row by row without building a relation of
  * its own. The aggregate may group, and may hold one distinct group.
  * Grouping keys and distinct values are normalised with
  * `NormalizeFloatingNumbers.normalize`, as Spark's planner does, so NaN
  * equals NaN and -0.0 equals 0.0; each group's distinct values are
  * deduplicated before they update the distinct functions.
  *
  * It folds only functions whose result cannot depend on row order or
  * partitioning: `min`, `max`, `count`, `sum` over integral input or a
  * decimal of precision at most 8 (its buffer holds 10 more digits, so
  * no order of a driver-local input can overflow it), and
  * `percentile_approx` with a literal accuracy A while every group holds
  * fewer than A/2 rows. In that range the GK summary never merges a
  * sample and every delta is 0, however Spark splits and merges it, so
  * its answer is the exact order statistic; the fold stops at the first
  * group that reaches A/2 rows and leaves the plan to Spark. Anything
  * else (`first`/`last`, a double `sum`, `avg`, a sketch, a `FILTER`
  * clause, several distinct groups) and every plan over a file scan stay
  * with Spark unchanged, so a folded result is the one Spark computes.
  *
  * It also folds an inner equi-join whose two sides are both such
  * driver-local inputs (the key join of two `/vis/csv` channel frames).
  * The keys are `ExtractEquiJoinKeys`' and are hashed after the same
  * normalisation, so NaN matches NaN, -0.0 matches 0.0 and a null key
  * matches nothing (a `<=>` key arrives null-free, as Spark rewrites
  * it); a residual condition is evaluated, interpreted, on each
  * key-matched pair. Rows come out in left order, each left row's
  * matches in right order: Spark leaves a join's order unspecified, so
  * its rows are the same multiset. Outer, semi, anti and keyless joins,
  * a side over a file scan or an RDD, a key of a collated string type,
  * and a join with more key-matched pairs than its two sides hold rows
  * together (a fixed bound that keeps the driver's work linear in its
  * input) stay with Spark unchanged. An aggregate above a folded join
  * folds in the same pass.
  *
  * Every session carries the rule from its first query: `graft.functions.
  * GraftExtensions` injects it into the "Pre CBO Rules" batch, which runs
  * once, after the operator-optimization batches have pushed projections
  * and filters down to the relation. No extension hook reaches the last
  * batch ("User Provided Optimizers"), and the fixed-point
  * operator-optimization batches would run the rule on every iteration.
  * Running before "Decimal Optimizations" is why a small-decimal `sum`
  * is folded as a decimal sum: that batch rewrites it to a `sum` of
  * unscaled longs only later.
  */
object FoldLocalAggregate extends Rule[LogicalPlan] {

  private val integral = Set[Any](ByteType, ShortType, IntegerType, LongType)

  private def accuracy(p: ApproximatePercentile): Option[Long] = p.accuracyExpression match {
    case Literal(a: Number, _) => Some(a.longValue)
    case _ => None
  }

  private def orderFree(ae: AggregateExpression): Boolean =
    ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: Min | _: Max | _: Count => true
      case s: Sum => s.child.dataType match {
        case d: DecimalType => d.precision <= 8
        case t => integral(t)
      }
      case p: ApproximatePercentile => !ae.isDistinct && accuracy(p).isDefined
      case _ => false
    })

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) && !e.exists {
      case _: AggregateExpression | _: Attribute => false
      case x => x.isInstanceOf[Unevaluable]
    }

  private def aggregatesOf(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct

  /** The non-foldable children of the aggregate's distinct functions:
    * Spark plans one such group directly, several through an `Expand`. */
  private def distinctGroups(aggs: Seq[AggregateExpression]): Seq[ExpressionSet] =
    aggs.filter(_.isDistinct).map(ae => ExpressionSet(ae.aggregateFunction.children.filterNot(_.foldable))).distinct

  private def folds(a: Aggregate): Boolean = {
    val aggs = aggregatesOf(a)
    aggs.forall(orderFree) && distinctGroups(aggs).size <= 1 &&
      (a.groupingExpressions ++ a.aggregateExpressions).forall(evaluable)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a: Aggregate if folds(a) => rowsOf(a.child).flatMap(fold(a, _)).getOrElse(a)
    case j @ ExtractEquiJoinKeys(Inner, leftKeys, rightKeys, residual, _, left, right, _)
        if (leftKeys ++ rightKeys ++ residual).forall(evaluable) &&
          leftKeys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType)) =>
      (for (l <- rowsOf(left); r <- rowsOf(right); folded <- foldJoin(j, leftKeys, rightKeys, residual, l, r))
        yield folded).getOrElse(j)
  }

  /** The rows `plan` evaluates to, one input row at a time, when it is a
    * batch local relation or a chain of deterministic projects, filters
    * and inner collection generators over one; None otherwise. */
  private def rowsOf(plan: LogicalPlan): Option[Iterator[InternalRow]] = plan match {
    case LocalRelation(_, data, false, _) => Some(data.iterator)
    case Project(list, child) if list.forall(evaluable) =>
      rowsOf(child).map(_.map(new InterpretedProjection(list, child.output)))
    case Filter(cond, child) if evaluable(cond) =>
      rowsOf(child).map { rows =>
        val keep = Predicate.createInterpreted(BindReferences.bindReference(cond, child.output))
        rows.filter(keep.eval)
      }
    case g @ Generate(gen: CollectionGenerator, _, false, _, _, child) if evaluable(gen) =>
      rowsOf(child).map { rows =>
        val generate = BindReferences.bindReference(gen, child.output)
        val required = new InterpretedProjection(g.requiredChildOutput, child.output)
        rows.flatMap { r =>
          val kept = required(r)
          generate.eval(r).iterator.map(new JoinedRow(kept, _))
        }
      }
    case _ => None
  }

  /** `es` over rows of `in` as one unsafe row, floating-point values
    * normalised (NaN one value, -0.0 as 0.0) as Spark's planner
    * normalises grouping, distinct and join keys. */
  private def normalized(es: Seq[Expression], in: Seq[Attribute]) = InterpretedUnsafeProjection.createProjection(
    es.map(e => BindReferences.bindReference(GraftSqlBridge.normalizeFloats(e), in)))

  /** The inner equi-join `j` evaluated over the rows of its two sides:
    * left rows in order, each with its matches in right order, keys
    * normalised and a null key matching nothing, as Spark's hash join
    * does; None when the key-matched pairs outnumber the rows of both
    * sides together. */
  private def foldJoin(j: Join, leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                       residual: Option[Expression], left: Iterator[InternalRow],
                       right: Iterator[InternalRow]): Option[LocalRelation] = {
    val rightKey = normalized(rightKeys, j.right.output)
    val matches = mutable.HashMap[UnsafeRow, mutable.ArrayBuffer[InternalRow]]()
    var rightRows = 0L
    right.foreach { r =>
      rightRows += 1
      val k = rightKey(r)
      if (!k.anyNull) matches.getOrElseUpdate(k.copy(), mutable.ArrayBuffer()) += r.copy()
    }
    val leftKey = normalized(leftKeys, j.left.output)
    val lefts = left.map { l =>
      val k = leftKey(l)
      (l.copy(), if (k.anyNull) None else matches.get(k))
    }.toIndexedSeq
    if (lefts.iterator.map(_._2.fold(0)(_.size).toLong).sum > lefts.size + rightRows) return None
    val joinedAttrs = j.left.output ++ j.right.output
    val keep = residual.map(c => Predicate.createInterpreted(BindReferences.bindReference(c, joinedAttrs)))
    val project = new InterpretedProjection(j.output, joinedAttrs)
    val joined = new JoinedRow
    Some(LocalRelation(j.output, lefts.flatMap { case (l, ms) =>
      ms.iterator.flatten.map(joined(l, _)).filter(r => keep.forall(_.eval(r))).map(project(_))
    }))
  }

  /** One aggregate function fed from rows of its input, over a buffer
    * row of its own. */
  private sealed trait Fn {
    def buffer(): InternalRow
    def update(buffer: InternalRow, row: InternalRow): Unit
    def result(buffer: InternalRow): Any
  }

  private def fn(f: AggregateFunction, input: Seq[Attribute]): Fn = f match {
    case d: DeclarativeAggregate => new Fn {
      private val init = new InterpretedMutableProjection(d.initialValues)
      private val step = new InterpretedMutableProjection(d.updateExpressions, d.aggBufferAttributes ++ input)
      private val evaluate = BindReferences.bindReference(d.evaluateExpression, d.aggBufferAttributes)
      private val joined = new JoinedRow
      def buffer(): InternalRow = init.target(new GenericInternalRow(d.aggBufferAttributes.size))(InternalRow.empty)
      def update(buffer: InternalRow, row: InternalRow): Unit = step.target(buffer)(joined(buffer, row))
      def result(buffer: InternalRow): Any = evaluate.eval(buffer)
    }
    case i: ImperativeAggregate => new Fn {
      private val bound = BindReferences.bindReference(i, input).withNewMutableAggBufferOffset(0)
      def buffer(): InternalRow = {
        val b = new GenericInternalRow(i.aggBufferAttributes.size)
        bound.initialize(b)
        b
      }
      def update(buffer: InternalRow, row: InternalRow): Unit = bound.update(buffer, row)
      def result(buffer: InternalRow): Any = bound.eval(buffer)
    }
  }

  private final class Group(val key: UnsafeRow, val buffers: IndexedSeq[InternalRow]) {
    val seen = mutable.HashSet[UnsafeRow]()
    var rows = 0L
  }

  /** Replaces an expression that semantically equals one of `es` by the
    * attribute at its index, as Spark's planner reads grouping keys and
    * distinct values from the attributes it computes them into. */
  private def substitute(es: Seq[Expression], attrs: Seq[Attribute]): PartialFunction[Expression, Expression] = {
    case e if !e.foldable && es.exists(_.semanticEquals(e)) => attrs(es.indexWhere(_.semanticEquals(e)))
  }

  /** `a` evaluated over `rows`, or None once a `percentile_approx` group
    * reaches half its accuracy. */
  private def fold(a: Aggregate, rows: Iterator[InternalRow]): Option[LocalRelation] = {
    val in = a.child.output
    val aggs = aggregatesOf(a)
    // distinct functions read the group's normalised distinct values
    val distinctCols = aggs.find(_.isDistinct).toSeq.flatMap(_.aggregateFunction.children.filterNot(_.foldable))
    val distinctAttrs = distinctCols.map(e => AttributeReference("distinct", e.dataType, e.nullable)())
    val fns = aggs.toIndexedSeq.map { ae =>
      if (!ae.isDistinct) fn(ae.aggregateFunction, in)
      else fn(ae.aggregateFunction.transformDown(substitute(distinctCols, distinctAttrs))
        .asInstanceOf[AggregateFunction], distinctAttrs)
    }
    val (plain, distinct) = fns.indices.partition(k => !aggs(k).isDistinct)
    val keyOf = normalized(a.groupingExpressions, in)
    val distinctOf = normalized(distinctCols, in)
    val limit = aggs.map(_.aggregateFunction).collect { case p: ApproximatePercentile => accuracy(p).get }
      .minOption.getOrElse(Long.MaxValue)

    val groups = mutable.LinkedHashMap[UnsafeRow, Group]()
    def group(key: UnsafeRow): Group = groups.getOrElse(key, {
      val g = new Group(key.copy(), fns.map(_.buffer()))
      groups(g.key) = g
      g
    })
    // a global aggregate has its one group, rows or none
    if (a.groupingExpressions.isEmpty) group(keyOf(InternalRow.empty))
    while (rows.hasNext) {
      val r = rows.next()
      val g = group(keyOf(r))
      g.rows += 1
      if (2 * g.rows >= limit) return None
      plain.foreach(k => fns(k).update(g.buffers(k), r))
      if (distinct.nonEmpty) {
        val v = distinctOf(r)
        if (!g.seen.contains(v)) {
          val kept = v.copy()
          g.seen += kept
          distinct.foreach(k => fns(k).update(g.buffers(k), kept))
        }
      }
    }

    // grouping expressions in the results read the group's key
    val keyAttrs = a.groupingExpressions.map(e => AttributeReference("key", e.dataType, e.nullable)())
    val toResult: PartialFunction[Expression, Expression] = { case ae: AggregateExpression => ae.resultAttribute }
    val results = new InterpretedProjection(
      a.aggregateExpressions.map(_.transformDown(toResult.orElse(substitute(a.groupingExpressions, keyAttrs)))),
      keyAttrs ++ aggs.map(_.resultAttribute))
    Some(LocalRelation(a.output, groups.values.toSeq.map { g =>
      val values = new GenericInternalRow(fns.indices.map(k => fns(k).result(g.buffers(k))).toArray)
      results(new JoinedRow(g.key, values))
    }))
  }
}
