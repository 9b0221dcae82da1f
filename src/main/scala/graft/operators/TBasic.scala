package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.EngineConfig

/** Basic transformation IR — the engine's "query language".
  *
  * A tpath is a chain of basic steps terminated by one core transform.
  * The reference models a step as the dict
  * `{t, i_type, i, o_type, args, kwargs, index}` dispatched by
  * Tbasic (Tengine.py:78-144). We keep the same shape as a typed IR.
  *
  * @param op      operator name: select|sum|sub|mul|div|astype|rank|nominalize|del
  * @param inType  input selector kind: "=="(explicit cols) | "like"(dtype
  *                family) | "num" | "all"  (Tengine.py:82-92)
  * @param inCols  explicit input columns (for inType "==")
  * @param outMode output mode: new_table | append | replace (Tengine.py:127-137)
  * @param outName output column name override (the reference's `index`
  *                rename, Tengine.py:120-125)
  * @param castTo  target type for astype
  */
final case class TStep(
    op: String,
    inType: String = "==",
    inCols: Seq[String] = Nil,
    outMode: String = "append",
    outName: Option[String] = None,
    castTo: Option[String] = None
)

/** Executors for basic transformations, built as pure Column
  * expressions so Catalyst fuses an entire tpath into one stage
  * (whole-stage codegen) — the Spark-first replacement for the
  * reference's eager step-by-step pandas execution (Tengine.py:44-53).
  */
object TBasic {

  /** Numeric physical types, the "num" dtype family (Tengine.py:88-89). */
  private def isNumeric(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Resolve a step's input columns against the frame schema. */
  def resolveInputs(df: DataFrame, step: TStep): Seq[String] = step.inType match {
    case "=="  => step.inCols
    case "num" => df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq
    case "all" => df.columns.toSeq
    case "like" => // dtype-family selection: inCols carries family names
      val fams = step.inCols.toSet
      def isReal(dt: DataType) = dt == DoubleType || dt == FloatType || dt.isInstanceOf[DecimalType]
      def isInt(dt: DataType) = dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType
      df.schema.fields.filter { f =>
        (fams.contains("num") && isNumeric(f.dataType)) ||
        ((fams.contains("real") || fams.contains("float")) && isReal(f.dataType)) ||
        (fams.contains("int") && isInt(f.dataType)) ||
        (fams.contains("str") && f.dataType == StringType) ||
        // TimestampNTZType included: Spark 4 reads parquet timestamps
        // without UTC adjustment as NTZ (inferTimestampNTZ default on),
        // and a date-family select must not silently drop them
        (fams.contains("date") && (f.dataType == DateType ||
          f.dataType == TimestampType || f.dataType == TimestampNTZType))
      }.map(_.name).toSeq
    case other => throw new IllegalArgumentException(s"unknown i_type: $other")
  }

  /** Row-wise sum across columns (pandas apply(x.sum(), axis=1),
    * Tengine.py:97-98). pandas skips NaN in sum → null-safe coalesce. */
  def rowSum(cols: Seq[String]): Column =
    cols.map(c => coalesce(col(c).cast(DoubleType), lit(0.0))).reduce(_ + _)

  /** Row-wise product (Tengine.py:99-100); pandas product skips NaN → 1. */
  def rowMul(cols: Seq[String]): Column =
    cols.map(c => coalesce(col(c).cast(DoubleType), lit(1.0))).reduce(_ * _)

  /** First minus second (exactly 2 columns, Tengine.py:101-102). */
  def rowSub(a: String, b: String): Column =
    col(a).cast(DoubleType) - col(b).cast(DoubleType)

  /** First over second with the reference's fillna(0) semantics
    * (Tengine.py:103-104): NaN results (0/0, null inputs) → 0;
    * ±Infinity (x/0, x≠0) is KEPT, matching pandas. */
  def rowDiv(a: String, b: String): Column = {
    val x = col(a).cast(DoubleType)
    val y = col(b).cast(DoubleType)
    val q = when(x.isNull || y.isNull || isnan(x) || isnan(y), 0.0) // NaN/∗, null/∗ → fillna(0)
      .when(y === 0.0,
        when(x === 0.0, 0.0)
          .when(x > 0, Double.PositiveInfinity)
          .otherwise(Double.NegativeInfinity))
      .otherwise(x / y)
    coalesce(nanvl(q, lit(0.0)), lit(0.0))
  }

  /** astype cast (Tengine.py:95-96). */
  def astype(c: String, to: String): Column = {
    val dt: DataType = to match {
      case "int" | "long" | "int64"     => LongType
      case "float" | "double" | "real"  => DoubleType
      case "str" | "string" | "object"  => StringType
      case "date"                       => DateType
      case other => CatalystSqlParser.parse(other)
    }
    col(c).cast(dt)
  }
  private object CatalystSqlParser {
    def parse(s: String): DataType = DataType.fromDDL(s)
  }

  /** Per-column value rank, pandas rank(method="first") ascending cast
    * int64 (Tengine.py:107-108, kwargs fixed at searchthread.py:505-520).
    * method="first" == row_number with ties broken by original row
    * position; Spark has no row order, so ties break on `tieCols`
    * (the carried key) for determinism.
    *
    * NOTE a bare `Window.orderBy` funnels all rows through one
    * partition. Fine at chart scale; for large frames use
    * [[Rank.zipWithIndexRank]] — same semantics, range-partitioned.
    */
  def rankWindow(valueCol: String, tieCols: Seq[String]): Column = {
    val ord = col(valueCol) +: tieCols.map(col)
    row_number().over(Window.orderBy(ord: _*)).cast(LongType)
  }

  /** Category → 0-based integer code by sorted distinct values
    * (Tengine.py:109-114), implemented as a join against the ranked
    * distinct-value table. `dense_rank` over a bare window would
    * single-partition the full table; StringIndexer orders by frequency
    * (wrong order).
    *
    * Two value-identical paths, the [[Rank.rank]] contract — but the
    * window/broadcast here only ever touch the DISTINCT set, so the
    * routing keys on a DISTINCT bound, not raw rows:
    *  - `distinctEstimate ≥ 0` (a caller with a profile, e.g. the
    *    engine's per-column distinctCount) is trusted outright;
    *  - `approxRows ≤ windowMaxRows`: distinct ≤ rows, window safe
    *    with no assumption at all;
    *  - the mid band (`windowMaxRows < approxRows ≤ 20·windowMaxRows`)
    *    is where the old nominal-rule heuristic (distinct ≤ rows/20)
    *    was the ONLY thing keeping the window path — but TBasic
    *    'nominalize' steps run on arbitrary spec-named columns with no
    *    cardinality guarantee, and a near-unique 2M-row column would
    *    have taken a 2M-value single-partition sort plus a forced 2M
    *    broadcast. One `approx_count_distinct` scan (cheap next to the
    *    sort it guards at this size) MEASURES the bound instead;
    *  - above the band, the measurement itself would be a corpus-wide
    *    scan, so the range-partitioned scale path is taken outright:
    *    [[Rank.zipWithIndexRank]] over the distinct values (no global
    *    window) with the join strategy left to AQE, which broadcasts
    *    when the code table actually fits and shuffles when it
    *    doesn't — always correct, and at corpus scale the tiny-window
    *    codegen it forgoes is noise. */
  def nominalize(df: DataFrame, c: String, outName: String,
                 approxRows: Long = 0L,
                 windowMaxRows: Long = EngineConfig.default.windowRankMaxRows,
                 distinctEstimate: Long = -1L): DataFrame = {
    val distinctVals = df.select(col(c)).where(col(c).isNotNull).distinct()
    val distinctBound: Long =
      if (distinctEstimate >= 0L) distinctEstimate
      else if (approxRows <= windowMaxRows) approxRows
      else if (approxRows <= 20L * windowMaxRows)
        df.select(approx_count_distinct(col(c)).as("__nd")).head().getLong(0)
      else Long.MaxValue
    if (distinctBound <= windowMaxRows) {
      // the bare Window.orderBy runs over the DISTINCT CODES frame
      // only — bounded by the caller's row estimate, so the
      // single-partition sort and the broadcast are both capped
      val codes = distinctVals.withColumn(outName,
        (row_number().over(Window.orderBy(col(c))) - 1).cast(LongType))
      df.join(broadcast(codes), Seq(c), "left")
    } else {
      val codes = Rank.zipWithIndexRank(distinctVals, c, Nil, outName)
        .withColumn(outName, col(outName) - 1)
      df.join(codes, Seq(c), "left")
    }
  }

  /** Execute one basic step with the reference's output modes
    * (Tengine.py:127-137): new_table = select outputs (+carry), append =
    * add columns, replace = drop inputs then add. `carryCols` threads
    * the key column through every output (SURVEY §7.4.1).
    *
    * @param route the table's scale route: above its `windowRankMaxRows`
    *              rows the rank op switches from the single-partition
    *              window to [[Rank.zipWithIndexRank]] (same semantics,
    *              range-partitioned), and its profiled `distincts` feed
    *              [[nominalize]]'s routing so a replay behind a profile
    *              never re-measures cardinality (columns created
    *              mid-tpath are absent and measure) */
  def apply(df: DataFrame, step: TStep, carryCols: Seq[String] = Nil,
            route: CoreT.Route = CoreT.Route()): DataFrame = {
    val ins = resolveInputs(df, step)
    def named(default: String): String = step.outName.getOrElse(default)

    step.op match {
      case "select" =>
        val keep = (carryCols ++ ins).distinct
        df.select(keep.map(col): _*)
      case "del" =>
        df.drop(ins: _*)
      case "sum" => withOut(df, step, ins, named("sum " + ins.mkString("+")), rowSum(ins), carryCols)
      case "mul" => withOut(df, step, ins, named("mul " + ins.mkString("*")), rowMul(ins), carryCols)
      case "sub" =>
        require(ins.size == 2, s"sub takes exactly 2 columns, got $ins")
        withOut(df, step, ins, named(s"sub ${ins.head}-${ins(1)}"), rowSub(ins.head, ins(1)), carryCols)
      case "div" =>
        require(ins.size == 2, s"div takes exactly 2 columns, got $ins")
        withOut(df, step, ins, named(s"div ${ins.head}/${ins(1)}"), rowDiv(ins.head, ins(1)), carryCols)
      case "astype" =>
        val to = step.castTo.getOrElse("double")
        ins.foldLeft(df)((d, c) => d.withColumn(c, astype(c, to)))
      case "rank" =>
        // appended as "rank "+c beside the original (searchthread.py:470-519);
        // scale path picked by the caller's row estimate
        ins.foldLeft(df)((d, c) =>
          Rank.rank(d, c, carryCols, "rank " + c, route.approxRows, route.windowRankMaxRows))
      case "nominalize" =>
        ins.foldLeft(df)((d, c) => nominalize(d, c, named("nominalize " + c),
          route.approxRows, route.windowRankMaxRows, route.distincts.getOrElse(c, -1L)))
      case other =>
        throw new IllegalArgumentException(s"unknown basic T: $other")
    }
  }

  private def withOut(df: DataFrame, step: TStep, ins: Seq[String],
                      name: String, expr: Column, carryCols: Seq[String]): DataFrame =
    step.outMode match {
      case "append"    => df.withColumn(name, expr)
      case "replace"   => df.withColumn(name, expr).drop(ins.filterNot(_ == name): _*)
      case "new_table" =>
        val keep = carryCols.distinct.map(col) :+ expr.as(name)
        df.select(keep: _*)
      case other => throw new IllegalArgumentException(s"unknown o_type: $other")
    }

  /** Min-max normalize columns to [0,1] — every core transform in the
    * reference normalizes its numeric inputs first (Tfunctions.py:13,19,
    * 28,34,91,97). One distributed agg computes all extrema; constant
    * columns map to 0 (pandas yields NaN → sklearn would fail; the
    * reference never hits this because constant cols are pruned). */
  def minMaxNormalize(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val lo = Option(row.get(2 * i)).map(_.toString.toDouble).getOrElse(0.0)
      val hi = Option(row.get(2 * i + 1)).map(_.toString.toDouble).getOrElse(0.0)
      val e =
        if (hi == lo) lit(0.0)
        else (col(c).cast(DoubleType) - lit(lo)) / lit(hi - lo)
      d.withColumn(c, e)
    }
  }
}
