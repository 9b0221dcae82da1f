package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source connectors.
  *
  * The reference ingests CSV / JSON / in-memory tables
  * (spreadsheet.py:22-25, main.py:44-49) with an optional 400-row cap
  * (spreadsheet.py:32-33). The Spark engine adds parquet (the test
  * harness format) and keeps the cap configurable — off by default,
  * because at scale the cap is the enemy.
  */
object Tables {

  /** Load one named table from an sf directory of parquet files. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "region")
  /** events with `ts` as a microsecond TimestampType, whatever the
    * parquet writer chose — see [[eventsRawNanos]] for the dtype cases. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsRawNanos(spark, sfDir)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
  /** The documents corpus, UNSPREAD — the right scan for light
    * consumers (samplers, packers, prefix-sums, metadata projections)
    * whose per-row work is too cheap to amortize a layout exchange at
    * gate scale. CPU-per-row-heavy consumers (tokenize / shingle /
    * md5 / codec chains) should read [[documentsSpread]] instead —
    * round 15 spread this source unconditionally and ~10 light
    * consumers paid a fixed +0.1–0.3 s exchange at gate scale for
    * zero benefit (round-15 verdict item 3; moved to the consumers in
    * round 16). At any real scale the two are byte-identical plans
    * (the spread guard is the identity there). */
  def documents(spark: SparkSession, sfDir: String): DataFrame  =
    table(spark, sfDir, "documents")
  /** [[documents]] with the scale-adaptive scan spread — for the
    * tokenize/shingle/md5/codec-heavy consumers ([[spreadScan]]). */
  def documentsSpread(spark: SparkSession, sfDir: String): DataFrame  =
    spreadScan(spark, table(spark, sfDir, "documents"),
      s"$sfDir/documents.parquet", "doc_id")
  // embeddings deliberately NOT spread (round 15, measured): its
  // consumers are driver-bounded deterministic fits + broadcast probe
  // joins over a small frame — the spread exchange added an AQE stage
  // barrier per query with no compute to parallelize behind it
  // (q_kmeans_refine median 0.48 → 1.13 s with the spread, recovered
  // on revert), while the text family's tokenize/shingle/md5 chains
  // are where the spread pays.
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "embeddings")

  /** Scale-adaptive scan spreading for CPU-per-row-heavy corpus
    * consumers (tokenize/shingle/md5 per row; PNG/WAV/AVI codecs). A
    * small parquet file is one scan split — the whole pre-shuffle
    * pipeline of every consumer (exactly the expression-dominant part
    * of the text operator family) would run on one or two cores while
    * the rest idle. When the scan yields fewer partitions than the
    * cluster's default parallelism, hash-spread it over the id column
    * (deterministic, no sort-before-repartition cost, no SPARK-38388
    * rand-key hazard); when the scan already has at least that many
    * splits — any real-scale table — this is the identity and adds
    * NOTHING to the plan, so there is no extra corpus shuffle at
    * 100 TB. Explicit numPartitions keeps AQE from coalescing the
    * spread back to one tiny partition. Every operator downstream is
    * partitioning-independent by the repo's oracle contract (the
    * tri-SF DuckDB gate re-proves it against this layout);
    * filters/pruning still push through a repartition to the scan.
    *
    * The scan-partition probe (`df.rdd.getNumPartitions`) eagerly
    * builds the physical scan plan, so its result is memoized: it is a
    * fact about the INPUT file layout — the same class of metadata
    * Spark's own file-index cache holds — never a computed result. The
    * memo key is the layout itself (path, file count, total length,
    * latest modification time) plus the parallelism, read with one
    * listing per load, so a file rewritten at the same path is probed
    * again.
    */
  private val scanParts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def spreadScan(spark: SparkSession, df: DataFrame,
                         path: String, key: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
    val layout = s"${files.length}|${files.map(_.getLen).sum}|" +
      files.map(_.getModificationTime).maxOption.getOrElse(0L)
    val parts = scanParts.computeIfAbsent(s"$path|$layout|$target",
      _ => Integer.valueOf(df.rdd.getNumPartitions)).intValue()
    if (parts >= target) df
    else df.repartition(target, col(key))
  }

  /** events with the epoch-nanosecond `ts` as LongType, for integer-exact
    * window-bucket arithmetic mirrored by the DuckDB oracles' `epoch_ns`.
    *
    * Schema-adaptive: the harness has regenerated events.parquet with
    * different timestamp physical types across rounds, so the reader
    * keys off the loaded dtype instead of assuming one format:
    *  - LongType — TIMESTAMP(NANOS) parquet read under the
    *    `nanosAsLong` legacy conf (set below; a no-op for other types):
    *    the long IS epoch nanos.
    *  - TimestampNTZType — naive timestamp[us] parquet (the current
    *    generator output). `timestampdiff(MICROSECOND, epoch, ts)` is
    *    pure wall-clock arithmetic on NTZ operands — no session-
    *    timezone dependency — and micros is the native precision, so
    *    `* 1000` reconstructs the exact nanos DuckDB's `epoch_ns` sees.
    *  - TimestampType — tz-adjusted parquet. TimestampType stores the
    *    instant as epoch micros, so `unix_micros` is exact and
    *    session-timezone-independent.
    * All three branches agree with DuckDB's `epoch_ns(ts)` regardless
    * of `spark.sql.session.timeZone` (EventsSchemaSpec pins this under
    * a non-UTC session).
    */
  def eventsRawNanos(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType =>
        raw.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * lit(1000L))
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported dtype $other — extend Tables.eventsRawNanos")
    }
  }

  /** CSV scan with header + schema inference, NA kept as empty string to
    * match the reference's keep_default_na=False (spreadsheet.py:24-25). */
  def csv(spark: SparkSession, path: String, maxRows: Option[Int] = None): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("nullValue", "\u0000")
      .csv(path)
    maxRows.fold(df)(df.limit)
  }

  /** JSON-lines scan (spreadsheet.py:22-23). */
  def json(spark: SparkSession, path: String, maxRows: Option[Int] = None): DataFrame = {
    val df = spark.read.json(path)
    maxRows.fold(df)(df.limit)
  }

  /** ORC scan — the other splittable columnar format Spark ships
    * natively; same predicate-pushdown/column-pruning behavior as
    * parquet, so pipelines are format-portable. */
  def orc(spark: SparkSession, path: String, maxRows: Option[Int] = None): DataFrame = {
    val df = spark.read.orc(path)
    maxRows.fold(df)(df.limit)
  }

  /** Plain-text scan: one row per line in a single `value` column —
    * the raw-corpus entry point for the text/dedup operators. */
  def text(spark: SparkSession, path: String, maxRows: Option[Int] = None): DataFrame = {
    val df = spark.read.text(path)
    maxRows.fold(df)(df.limit)
  }

  /** In-memory table from rows of strings + header, the /vis/csv POST
    * shape (main.py:44-49). Types are re-inferred by the profiler. */
  def inMemory(spark: SparkSession, header: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    import org.apache.spark.sql.Row
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq(_))), schema)
  }
}
