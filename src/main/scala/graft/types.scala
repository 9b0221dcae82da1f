package graft

import org.apache.spark.sql.types._

/** Logical column types of the engine's data model.
  *
  * The reference infers five logical types per column (see
  * /root/reference/spreadsheet.py:61-166): date, str, nominal, int, real.
  * We map them onto Spark physical types (DateType/TimestampType,
  * StringType, LongType, DoubleType) and keep the logical tag in the
  * profile so the planner can match channel/type contracts.
  */
sealed trait LogicalType { def name: String }
object LogicalType {
  case object Date    extends LogicalType { val name = "date"    }
  case object Str     extends LogicalType { val name = "str"     }
  case object Nominal extends LogicalType { val name = "nominal" }
  case object Int     extends LogicalType { val name = "int"     }
  case object Real    extends LogicalType { val name = "real"    }

  def isNumeric(t: LogicalType): Boolean = t == Int || t == Real
  def isCategorical(t: LogicalType): Boolean = t == Nominal || t == Str

  /** Physical → candidate logical family, before nominal/key refinement. */
  def fromSpark(dt: DataType): LogicalType = dt match {
    case LongType | IntegerType | ShortType | ByteType => Int
    case DoubleType | FloatType | _: DecimalType       => Real
    // TimestampNTZType included: Spark 4's parquet reader infers NTZ
    // for non-UTC-adjusted timestamps (inferTimestampNTZ default on) —
    // without this branch such columns profiled as Str
    case DateType | TimestampType | TimestampNTZType   => Date
    case _                                             => Str
  }
}

/** Per-column profile produced by [[graft.profiler.Profiler]].
  *
  * Mirrors the per-column facts the reference collects during parsedata
  * (spreadsheet.py:102-163): logical type, domain cardinality, min/max,
  * key-ness — plus the quantile signature we use for distribution
  * distance at scale (the reference computes exact 1-D Wasserstein on
  * raw values, spreadsheet.py:187-190; we use a K-quantile sketch so the
  * same operation works on 100 TB inputs).
  */
final case class ColumnProfile(
    name: String,
    sparkType: String,
    logicalType: LogicalType,
    distinctCount: Long,
    nullCount: Long,
    min: Option[Double],
    max: Option[Double],
    isKey: Boolean,
    quantiles: Option[Array[Double]]
)

/** Whole-table profile: column profiles + the inter-column structures
  * that drive the tpath search (dimension-match clusters from the
  * Wasserstein distance matrix, unit clusters, name-substring clusters —
  * spreadsheet.py:187-282).
  */
final case class TableProfile(
    rows: Long,
    columns: Seq[ColumnProfile],
    keyColumn: Option[String],
    distanceMatrix: Map[(String, String), Double],
    dimClusters: Seq[Seq[String]],
    unitClusters: Seq[Seq[String]],
    nameClusters: Seq[Seq[String]]
) {
  def numericColumns: Seq[String] =
    columns.filter(c => LogicalType.isNumeric(c.logicalType)).map(_.name)
  def categoricalColumns: Seq[String] =
    columns.filter(c => LogicalType.isCategorical(c.logicalType)).map(_.name)
  def column(name: String): Option[ColumnProfile] = columns.find(_.name == name)
  /** name → profiled distinct count, for routing decisions downstream
    * of the profile (nominalize's window-vs-scale path): the profile
    * already paid for these counts, so replays must not re-measure.
    * In approx mode boundary-critical columns were re-counted exactly;
    * the rest may be HLL estimates — fine for ROUTING (both arms are
    * value-identical), never used for values. */
  def distinctCounts: Map[String, Long] =
    columns.map(c => c.name -> c.distinctCount).toMap
}

/** The reference's settings (config.py:1-37) a caller or a test sets,
  * plus the scale-path options. The 400-row source cap is optional:
  * `None` means unbounded (the scale path). The constants nothing varies
  * are fixed beside their reader: NOMINALSTD and POTENTIALIDX in
  * [[graft.profiler.Profiler]], MAXTPATHDEPTH in
  * [[graft.plans.Enumerator]], the other MAX* caps in
  * [[graft.plans.Recommender]]. NOTCALCUDMT
  * ([[graft.operators.CoreT.admits]]), ONLYPROCESSCLUSTERMORETHAN2 (the
  * Enumerator's null_num pools) and RECOMMENDPCT = 1.0 (top-k = the
  * family cap) are always on.
  */
final case class EngineConfig(
    maxSourceRows: Option[Int] = None,
    pruningDepth: Int = 1,
    floatCanBeKey: Boolean = false,
    catLine: Boolean = false, // CAT_LINE (config.py:22): cat-y line kinds
    maxScatter: Int = 10, // MAXSCATTER, the scatter family cap (config.py:27-31)
    /** Above this row count, global rank/nominalize switch from a single
      * `Window.orderBy` to the shuffle-friendly zipWithIndex path. The
      * two paths are value-identical (same total order); the crossover
      * is purely cost. Measured on the 600k-row × 3-feature LDA rank
      * stage (sf0.1 lineitem, local[32]): window 87s vs zipWithIndex
      * 12s total — the old 1M default serialized 85% of the wall time
      * through one partition. 100k keeps chart-scale frames in
      * whole-stage codegen and everything larger distributed. */
    windowRankMaxRows: Long = 100000L,
    /** Scale path for profiling: HLL approx distinct counts in the main
      * pass, with a second exact pass only for columns whose approximate
      * count lands near a decision boundary (key detection, nominal
      * threshold). Off by default — exact counts at test scale. */
    approxDistinct: Boolean = false,
    /** Auto-route to the [[approxDistinct]] path when Catalyst's size
      * estimate for the profiled plan exceeds this many bytes, even if
      * the flag is off. The exact path's multi-column countDistinct is
      * an expand-based plan that multiplies the scan by #columns — a
      * silent catastrophe on a 100 TB ingest that no caller should
      * have to know to configure away. Misestimates are benign in both
      * directions: over-estimate → approx + boundary re-count (every
      * key/nominal decision stays exact; measured bit-identical
      * recommendations, BASELINE.md round 11); under-estimate → the
      * exact path, slow but correct. 1 GiB keeps every test fixture
      * and gate table on the exact path. */
    approxDistinctAboveBytes: Long = 1L << 30,
    /** w2v semantic name clustering (spreadsheet.py:231-253). Off by
      * default, mirroring the reference's gitignored GoogleNews asset;
      * on, [[graft.profiler.SemClusters]] uses `semEmbeddingPath`
      * (word2vec text format) or a hashed-token fallback. */
    semanticNameClusters: Boolean = false,
    semEmbeddingPath: Option[String] = None,
    /** Row bound of the search's exact tsne/umap fits. Both are in the
      * reference's default tlist (main.py:91, T.py:16,44,180) but are
      * driver-side fits (exact t-SNE is O(n²·iters)), so above this
      * many profiled rows the search fits them on a sample
      * ([[searchEmbedSampleFit]]) or, with that off, skips them as
      * channel candidates; both stay reachable directly and via
      * /vis/addV. Default = the reference's MAXSOURCEDATAROWS
      * (config.py:1). */
    searchEmbedMaxRows: Long = 400L,
    /** Scale extension: above [[searchEmbedMaxRows]], search runs
      * tsne/umap through [[graft.operators.CoreT.embedSampled]] — a
      * digest-ordered bounded fit + distributed nearest-neighbor
      * out-of-sample transform — instead of skipping them. ON by
      * default since round 7: embeddings are part of the reference's
      * default tlist (main.py:91), and the sampled fit is the only way
      * to keep them at engine scale — a default-off flag made the
      * public search API silently driver-bound above 400 rows. Set
      * false to reproduce the reference's hard scale exclusion (and
      * rounds ≤6 golden pins). */
    searchEmbedSampleFit: Boolean = true
)

object EngineConfig {
  val default: EngineConfig = EngineConfig()
  /** Reference-parity config: the 400-row demo cap on sources. */
  val referenceParity: EngineConfig = EngineConfig(maxSourceRows = Some(400))
}
