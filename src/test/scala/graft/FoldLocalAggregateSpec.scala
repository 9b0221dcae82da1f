package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
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
  * row order stays with Spark. */
class FoldLocalAggregateSpec extends SparkSpec {

  FoldLocalAggregate.install(spark)

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

  test("install is idempotent") {
    FoldLocalAggregate.install(spark)
    FoldLocalAggregate.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq FoldLocalAggregate) == 1)
  }
}
