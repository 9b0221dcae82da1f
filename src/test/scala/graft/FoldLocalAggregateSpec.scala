package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.CoreT
import graft.plans.FoldLocalAggregate
import graft.profiler.Profiler

/** `FoldLocalAggregate`: a folded aggregate over a local relation (or
  * a project, filter or explode chain over one) equals Spark's aggregate
  * over the same rows, and every aggregate whose result could depend on
  * row order stays with Spark; a folded inner equi-join of two local
  * sides equals Spark's join, and every other join stays with Spark. */
class FoldLocalAggregateSpec extends SparkSpec {

  /** The rows as a driver-local frame (a `LocalRelation` the rule folds)
    * and as an RDD-backed frame over 3 partitions (which it never
    * touches, so Spark aggregates it, merging partial results). */
  private def frames(schema: StructType, rows: Seq[Row]): (DataFrame, DataFrame) =
    (spark.createDataFrame(rows.asJava, schema),
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema))

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])

  /** The folded result equals Spark's. `Row` equality compares doubles
    * with `==` (NaN equal to NaN), so a ±0.0 tie passes whichever sign
    * Spark's merge order picks. */
  private def assertExact(schema: StructType, rows: Seq[Row], aggs: Column*): Row = {
    val (local, distributed) = frames(schema, rows)
    val l = local.agg(aggs.head, aggs.tail: _*)
    assert(folded(l), s"not folded:\n${l.queryExecution.optimizedPlan}")
    val got = l.collect().toSeq
    val want = distributed.agg(aggs.head, aggs.tail: _*).collect().toSeq
    assert(got == want)
    assert(got.size == 1)
    got.head
  }

  /** The grouped form of [[assertExact]]: `q` over the local frame
    * folds, and its groups, compared as a set (Spark emits them in hash
    * order), equal Spark's over the RDD-backed frame. */
  private def assertGroupsExact(schema: StructType, rows: Seq[Row])(q: DataFrame => DataFrame): Seq[Row] = {
    val (local, distributed) = frames(schema, rows)
    val l = q(local)
    assert(folded(l), s"not folded:\n${l.queryExecution.optimizedPlan}")
    val got = l.collect().toSeq
    assert(got.toSet == q(distributed).collect().toSet)
    assert(got.size == got.toSet.size)
    got
  }

  private val doubles = Seq[java.lang.Double](3.5, Double.NaN, null, Double.PositiveInfinity,
    -0.0, Double.NegativeInfinity, 0.0, -2.25, null, 7.0, Double.NaN)

  test("min and max over doubles with NaN, null and ±∞ equal Spark's") {
    val schema = StructType(Seq(StructField("x", DoubleType)))
    val r = assertExact(schema, doubles.map(Row(_)), min("x"), max("x"))
    assert(r.getDouble(0) == Double.NegativeInfinity && r.getDouble(1).isNaN)
    // without NaN and ±∞ the max is finite; a ±0.0 tie is the minimum
    val finite = Seq[java.lang.Double](0.0, null, -0.0, 0.0, 2.0, -0.0)
    val t = assertExact(schema, finite.map(Row(_)), min("x"), max("x"))
    assert(t.getDouble(0) == 0.0 && t.getDouble(1) == 2.0)
  }

  test("min and max over int, long, decimal, date and string equal Spark's") {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DecimalType(10, 2)), StructField("t", DateType), StructField("s", StringType)))
    val rows = (0 until 50).map { r =>
      if (r % 7 == 3) Row(null, null, null, null, null)
      else Row((r * 37) % 101 - 50, (r.toLong * 7919) % 1000003 - 500000,
        new java.math.BigDecimal(s"${r * 13 % 97}.${r % 100}"),
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays((r * 53) % 400)),
        s"v${(r * 31) % 43}")
    }
    assertExact(schema, rows, Seq("i", "l", "d", "t", "s").flatMap(c => Seq(min(c), max(c))): _*)
  }

  test("count(*) and count(col) with nulls, and long and int sums, equal Spark's") {
    val schema = StructType(Seq(StructField("x", DoubleType), StructField("n", LongType),
      StructField("i", IntegerType)))
    val rows = doubles.zipWithIndex.map { case (x, r) =>
      Row(x, if (r % 4 == 1) null else r * 1000000007L, if (r % 3 == 0) null else r - 5)
    }
    val r = assertExact(schema, rows, count(lit(1)), count("x"), count("n"), sum("n"), sum("i"))
    assert(r.getLong(0) == doubles.size && r.getLong(1) == doubles.count(_ != null))
  }

  test("the PCA moment aggregate, spelled as CoreT.pca spells it, equals Spark's") {
    val schema = StructType(Seq(StructField("a", DoubleType), StructField("b", DoubleType)))
    val rows = (0 until 400).map(r => Row(((r * 7919) % 1000) / 999.0, math.sin(r * 0.1) * 0.5 + 0.5))
    val aggs = (count(lit(1)).as("__n") +: CoreT.pinnedParts(col("a"), "__s_0")) ++
      CoreT.pinnedParts(col("a") * col("b"), "__p_0_1")
    val r = assertExact(schema, rows, aggs: _*)
    assert(r.getAs[Long]("__n") == 400)
    assert(CoreT.pinnedTotal(r, "__s_0") > 0)
  }

  test("a decimal sum folds at precision 8 or less and equals Spark's; above it stays with Spark") {
    val schema = StructType(Seq(StructField("d", DecimalType(6, 2)), StructField("w", DecimalType(10, 2))))
    val rows = (0 until 60).map { r =>
      if (r % 9 == 4) Row(null, null)
      else Row(java.math.BigDecimal.valueOf(r * 7919L % 1999999 - 999999, 2),
        java.math.BigDecimal.valueOf(r * 104729L * 977 % 19999999999L - 9999999999L, 2))
    }
    val r = assertExact(schema, rows, sum("d"), count("d"))
    assert(r.getDecimal(0) != null)
    // decimal(10,2) sums unscaled longs only after the fold has run
    val (local, distributed) = frames(schema, rows)
    val wide = local.agg(sum("w"))
    assert(hasAggregate(wide), s"decimal(10,2) sum folded:\n${wide.queryExecution.optimizedPlan}")
    assert(wide.collect().toSeq == distributed.agg(sum("w")).collect().toSeq)
  }

  test("an empty relation folds to one row: count 0, the rest null") {
    val schema = StructType(Seq(StructField("x", DoubleType), StructField("n", LongType)))
    val r = assertExact(schema, Nil, count(lit(1)), count("x"), min("x"), max("n"), sum("n"))
    assert(r == Row(0L, 0L, null, null, null))
  }

  test("grouped min, max and count with null, NaN, -0.0 and 0.0 keys equal Spark's") {
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("x", DoubleType),
      StructField("n", LongType), StructField("s", StringType)))
    val keys = Seq[java.lang.Double](null, Double.NaN, -0.0, 0.0, 1.5, Double.NaN, -0.0, 2.5)
    val rows = (0 until 64).map { r =>
      Row(keys(r % keys.size), if (r % 5 == 0) null else java.lang.Double.valueOf(r * 1.25 - 20),
        if (r % 7 == 0) null else java.lang.Long.valueOf(r * 31L % 17), s"s${r * 13 % 11}")
    }
    val got = assertGroupsExact(schema, rows)(_.groupBy("k").agg(min("x"), max("x"),
      count(lit(1)), count("x"), min("n"), max("s"), sum("n")))
    // NaN is one group and -0.0 is 0.0: null, NaN, 0.0, 1.5, 2.5
    assert(got.size == 5)
    assert(got.map(r => Option(r.get(0)).map(_.toString)).toSet ==
      Set(None, Some("NaN"), Some("0.0"), Some("1.5"), Some("2.5")))
    // a grouping expression the results repeat reads the group's key
    assertGroupsExact(schema, rows)(_.groupBy(col("n") % 3).agg((col("n") % 3) + 1, count(lit(1))))
  }

  test("count(distinct) over doubles with NaN and ±0.0, and over a struct, equals Spark's") {
    val schema = StructType(Seq(StructField("g", StringType), StructField("x", DoubleType),
      StructField("i", IntegerType)))
    val rows = (0 until 90).map(r => Row(s"g${r % 3}", doubles(r % doubles.size),
      if (r % 8 == 0) null else java.lang.Integer.valueOf(r % 6)))
    val got = assertGroupsExact(schema, rows)(_.groupBy("g").agg(count_distinct(col("x")),
      count(lit(1)), max("x")))
    // NaN, ±∞, one zero and 3.5, -2.25, 7.0: seven non-null values
    assert(got.forall(_.getLong(1) == 7))
    // several functions over the one distinct group
    assertGroupsExact(schema, rows)(_.groupBy("g").agg(sum_distinct(col("i")),
      count_distinct(col("i")), min("x")))
    // the profile's typed cell: a struct of slots, null when the value is
    val slots = when(col("x").isNotNull, struct(col("x").as("t0"), col("i").as("t1")))
    assertGroupsExact(schema, rows)(_.groupBy("g").agg(count_distinct(slots), min("i")))
    val global = assertExact(schema, rows, count_distinct(col("x")), count_distinct(col("x")).as("again"))
    assert(global == Row(7L, 7L))
  }

  test("percentile_approx folds below half its accuracy, bit for bit, and not at it") {
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("x", DoubleType)))
    // A = 100: each of two groups holds n rows, with ties and nulls
    def rows(n: Int) = (0 until 2 * n).map(r => Row(r % 2,
      if (r % 9 == 4) null else java.lang.Double.valueOf((r * 37 % 23) * 0.5 - 3)))
    val probs = array((0 to 10).map(i => lit(i / 10.0)): _*)
    def q(df: DataFrame) = df.groupBy("g").agg(percentile_approx(col("x"), probs, lit(100)),
      percentile_approx(col("x"), lit(0.5), lit(100)), min("x"))
    def bits(rs: Seq[Row]) = rs.map(r => (r.getInt(0), r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val (local, distributed) = frames(schema, rows(49))
    assert(folded(q(local)), q(local).queryExecution.optimizedPlan.toString)
    assert(bits(q(local).collect().toSeq) == bits(q(distributed).collect().toSeq))
    assertExact(schema, rows(24), percentile_approx(col("x"), probs, lit(100)))
    // at n = A/2 a group could merge samples: Spark evaluates it
    val (atBound, _) = frames(schema, rows(50))
    assert(hasAggregate(q(atBound)))
    q(atBound).collect()
  }

  test("an aggregate over an explode, a project and a filter of a local relation equals Spark's") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("xs", ArrayType(DoubleType, containsNull = true))))
    val rows = (0 until 40).map { r =>
      Row(s"k${r % 4}", r % 6 match {
        case 0 => null
        case 1 => Seq.empty[java.lang.Double]
        case _ => Seq[java.lang.Double](r * 0.5, null, if (r % 2 == 0) -0.0 else 0.0, r % 5 * 1.0)
      })
    }
    assertGroupsExact(schema, rows)(_.select(col("k"), explode(col("xs")).as("v"))
      .filter(col("v").isNull || col("v") < 15).select(col("k"), (col("v") * 2).as("v"))
      .groupBy("k").agg(count_distinct(col("v")), count("v"), count(lit(1)), max("v")))
  }

  test("Profiler.columnStats' own aggregate folds and equals Spark's") {
    val schema = StructType(Seq(StructField("name", StringType), StructField("x", DoubleType),
      StructField("n", LongType), StructField("day", DateType)))
    val rows = (0 until 120).map { r =>
      Row(s"r$r", doubles(r % doubles.size), if (r % 5 == 0) null else java.lang.Long.valueOf(r % 17),
        java.sql.Date.valueOf(java.time.LocalDate.of(2021, 3, 1).plusDays(r % 40)))
    }
    val (local, distributed) = frames(schema, rows)
    def stats(df: DataFrame) = Profiler.columnStats(df, EngineConfig.default)
    // doubles as bits, except that a ±0.0 tie may read either sign, as
    // it does in Spark's own merge
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d + 0.0)
    def flat(s: (Long, Seq[Profiler.RawStats])) = s._1 +: s._2.map(r =>
      (r.copy(min = None, max = None, quantiles = null),
        (r.min ++ r.max ++ r.quantiles).map(bits)))
    val listener = new QueryExecutionListener {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got = try stats(local) finally {
      SpecBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(listener.plans.size == 1 && listener.plans.asScala.forall(_.isInstanceOf[LocalRelation]),
      listener.plans.asScala.mkString("\n"))
    assert(flat(got) == flat(stats(distributed)))
  }

  test("aggregates whose result can depend on row order stay with Spark") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("x", DoubleType),
      StructField("n", LongType)))
    val (local, _) = frames(schema, (0 until 20).map(r => Row(s"g${r % 3}", r * 0.1, r.toLong)))
    val kept = Seq(
      "double sum" -> local.agg(sum("x")),
      "avg" -> local.agg(avg("n")),
      "FILTER clause" -> local.selectExpr("count(*) FILTER (WHERE x > 0.5)"),
      "rand()" -> local.agg(max("x") + rand(9)),
      "first ignoring nulls" -> local.groupBy("k").agg(first(col("x"), ignoreNulls = true)),
      "two distinct groups" -> local.agg(count_distinct(col("n")), count_distinct(col("x"))),
      "grouped double sum" -> local.groupBy("k").agg(sum("x")))
    kept.foreach { case (what, q) =>
      assert(hasAggregate(q), s"$what folded:\n${q.queryExecution.optimizedPlan}")
      q.collect()
    }
    // the same frame's order-free aggregates do fold
    assert(folded(local.agg(min("x"), count(lit(1)), sum("n"))))
    assert(folded(local.groupBy("k").agg(count_distinct(col("n")), min("x"))))
  }

  test("the builder and a new session hold the rule once, in Pre CBO Rules") {
    Seq("the builder session" -> spark, "a new session" -> spark.newSession()).foreach { case (what, s) =>
      // RuleExecutor.Batch is protected: read its name and rules as a Product
      val batches = s.sessionState.optimizer.batches.map { b =>
        val p = b.asInstanceOf[Product]
        (p.productElement(0).asInstanceOf[String], p.productElement(2).asInstanceOf[Seq[AnyRef]])
      }
      val holding = batches.filter(_._2.exists(_ eq FoldLocalAggregate))
      assert(holding.map(b => (b._1, b._2.count(_ eq FoldLocalAggregate))) == Seq(("Pre CBO Rules", 1)),
        s"$what: ${holding.map(_._1)}")
      assert(s.experimental.extraOptimizations.isEmpty, s"$what: ${s.experimental.extraOptimizations}")
      assert(s.sql("SELECT graft_tokens('a b') AS t").head().getSeq[String](0) == Seq("a", "b"), what)
    }
  }

  /** The Spark jobs `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      SpecBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])

  private val keyed = StructType(Seq(StructField("k", StringType), StructField("x", DoubleType)))
  private val keyedY = StructType(Seq(StructField("k", StringType), StructField("y", DoubleType)))

  /** `q` over the two sides as local frames plans no join and runs no
    * job, and its rows, as a multiset, equal Spark's over RDD-backed
    * copies of both sides. Returns the folded rows in their order. */
  private def assertJoinFolds(left: (StructType, Seq[Row]), right: (StructType, Seq[Row]))(
      q: (DataFrame, DataFrame) => DataFrame): Seq[Row] = {
    val (l, lDistributed) = frames(left._1, left._2)
    val (r, rDistributed) = frames(right._1, right._2)
    val local = q(l, r)
    assert(!hasJoin(local), s"join not folded:\n${local.queryExecution.optimizedPlan}")
    var got = Seq.empty[Row]
    val jobs = jobsOf { got = local.collect().toSeq }
    assert(jobs == 0, s"the folded join ran $jobs jobs")
    val distributed = q(lDistributed, rDistributed)
    assert(hasJoin(distributed))
    // strings tell -0.0 from 0.0: each output value is its input row's
    assert(got.map(_.toString).sorted == distributed.collect().toSeq.map(_.toString).sorted)
    got
  }

  test("a USING join of two local frames folds, and an aggregate above it") {
    val left = (0 until 30).map(i => Row(s"n$i", i * 1.5))
    val right = (0 until 40 by 2).reverse.map(i => Row(s"n$i", i * -0.5))
    val got = assertJoinFolds((keyed, left), (keyedY, right))(_.join(_, "k"))
    // left order, each left row's matches in right order
    assert(got == (0 until 30 by 2).map(i => Row(s"n$i", i * 1.5, i * -0.5)))
    assertJoinFolds((keyed, left), (keyedY, right))(_.join(_, "k").agg(count(lit(1)), max("x"), min("y")))
  }

  test("a string-key join with unmatched keys on both sides folds") {
    val right = StructType(Seq(StructField("id", StringType), StructField("y", DoubleType)))
    val got = assertJoinFolds((keyed, (0 until 25).map(i => Row(s"s${i % 11}", i * 1.0))),
      (right, (0 until 9).map(i => Row(s"s${i * 2}", i * 0.25))))((l, r) => l.join(r, l("k") === r("id")))
    // s0 and s2 three times each, s4 to s10 twice
    assert(got.size == 14)
  }

  test("a double-key join matches NaN with NaN and -0.0 with 0.0, as Spark's") {
    val schema = StructType(Seq(StructField("d", DoubleType), StructField("x", DoubleType)))
    val schemaY = StructType(Seq(StructField("d", DoubleType), StructField("y", DoubleType)))
    val left = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, 1.5, null).zipWithIndex.map { case (d, i) => Row(d, i * 1.0) }
    val right = Seq[java.lang.Double](0.0, Double.NaN, -0.0, 2.5, Double.NaN, null).zipWithIndex
      .map { case (d, i) => Row(d, i * 10.0) }
    val got = assertJoinFolds((schema, left), (schemaY, right))((l, r) => l.join(r, l("d") === r("d")))
    // NaN twice, -0.0 and 0.0 with both zeros each
    assert(got.size == 6)
  }

  test("null keys match nothing; under <=> they match each other") {
    val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType), StructField("x", DoubleType)))
    def rows(n: Int, salt: Int) = (0 until n).map(i => Row(
      if (i % 4 == 1) null else java.lang.Integer.valueOf(i % 5),
      if (i % 3 == 2) null else s"b${i % 2}", i * 1.0 + salt))
    val (left, right) = ((schema, rows(20, 0)), (schema, rows(14, 100)))
    val got = assertJoinFolds(left, right)((l, r) => l.join(r, l("a") === r("a") && l("b") === r("b")))
    assert(got.nonEmpty && got.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    val safe = assertJoinFolds(left, right)((l, r) => l.join(r, l("a") <=> r("a") && l("b") === r("b")))
    assert(safe.exists(_.isNullAt(0)))
  }

  test("a many-to-many join within its inputs' row count folds") {
    // a×2 ⋈ a×2, b ⋈ b, c×2 ⋈ c: 7 pairs from 10 rows
    val got = assertJoinFolds((keyed, Seq("a", "a", "b", "c", "c", "d").zipWithIndex.map { case (k, i) => Row(k, i * 1.0) }),
      (keyedY, Seq("c", "a", "b", "a").zipWithIndex.map { case (k, i) => Row(k, i * 1.0) }))(_.join(_, "k"))
    assert(got.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))) ==
      Seq(("a", 0.0, 1.0), ("a", 0.0, 3.0), ("a", 1.0, 1.0), ("a", 1.0, 3.0), ("b", 2.0, 2.0),
        ("c", 3.0, 0.0), ("c", 4.0, 0.0)))
  }

  test("a residual non-equi condition is evaluated per key-matched pair") {
    // 24 key-matched pairs from 24 rows, 17 of them kept
    val got = assertJoinFolds((keyed, (0 until 12).map(i => Row(s"g${i % 6}", i * 1.0))),
      (keyedY, (0 until 12).map(i => Row(s"g${i % 6}", i * 1.5))))((l, r) =>
      l.join(r, l("k") === r("k") && (l("x") < r("y") || r("y").isNull)))
    assert(got.size == 17 && got.forall(r => r.getDouble(1) < r.getDouble(3)))
  }

  test("outer, semi, anti, cross, RDD-side and row-multiplying joins stay") {
    val left = (0 until 12).map(i => Row(s"k${i % 4}", i * 1.0))
    val (l, lDistributed) = frames(keyed, left)
    val (r, rDistributed) = frames(keyedY, (0 until 6).map(i => Row(s"k${i % 3}", i * 2.0)))
    val (wide, _) = frames(keyedY, (0 until 4).map(i => Row("k0", i * 1.0)))
    val (narrow, _) = frames(keyed, (0 until 4).map(i => Row("k0", i * 3.0)))
    val kept = Seq(
      "left outer" -> l.join(r, Seq("k"), "left_outer"),
      "left semi" -> l.join(r, Seq("k"), "left_semi"),
      "left anti" -> l.join(r, Seq("k"), "left_anti"),
      "cross" -> l.crossJoin(r),
      "RDD-backed right side" -> l.join(rDistributed, "k"),
      "RDD-backed left side" -> lDistributed.join(r, "k"),
      // 16 pairs from 8 rows
      "many-to-many past its inputs" -> narrow.join(wide, "k"))
    kept.foreach { case (what, q) =>
      assert(hasJoin(q), s"$what folded:\n${q.queryExecution.optimizedPlan}")
      q.collect()
    }
  }
}
