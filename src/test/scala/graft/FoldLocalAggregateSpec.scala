package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.CoreT
import graft.plans.FoldLocalAggregate

/** `FoldLocalAggregate`: a folded global aggregate over a local relation
  * equals Spark's aggregate over the same rows, and every aggregate
  * whose result could depend on row order stays with Spark. */
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

  test("aggregates whose result can depend on row order stay with Spark") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("x", DoubleType),
      StructField("n", LongType)))
    val (local, _) = frames(schema, (0 until 20).map(r => Row(s"g${r % 3}", r * 0.1, r.toLong)))
    val kept = Seq(
      "double sum" -> local.agg(sum("x")),
      "avg" -> local.agg(avg("n")),
      "distinct count" -> local.agg(count_distinct(col("n"))),
      "FILTER clause" -> local.selectExpr("count(*) FILTER (WHERE x > 0.5)"),
      "rand()" -> local.agg(max("x") + rand(9)),
      "grouped" -> local.groupBy("k").agg(min("x")))
    kept.foreach { case (what, q) =>
      assert(hasAggregate(q), s"$what folded:\n${q.queryExecution.optimizedPlan}")
      q.collect()
    }
    // the same frame's order-free aggregate does fold
    assert(folded(local.agg(min("x"), count(lit(1)), sum("n"))))
  }

  test("install is idempotent") {
    FoldLocalAggregate.install(spark)
    FoldLocalAggregate.install(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq FoldLocalAggregate) == 1)
  }
}
