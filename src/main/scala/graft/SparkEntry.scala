package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One gate query: its name, the DuckDB SQL its result must equal value
  * for value, the Spark builder `(session, sf dir) => frame`, and its
  * roles. Declared once, in its family's `entries`. */
final class Query private (val name: String, val roles: Set[Query.Role], val oracle: String,
    val build: (SparkSession, String) => DataFrame)

object Query {
  def apply(name: String, roles: Role*)(oracle: String)(
      build: (SparkSession, String) => DataFrame): Query =
    new Query(name, roles.toSet, oracle, build)

  sealed trait Role
  /** Timed by [[Bench]] (the contract line) and `graft.tools.Measure headline`. */
  case object Headline extends Role
  /** Dumped ahead of the rest by [[Verify]]: the costliest to dump. */
  case object DumpFirst extends Role
  /** The oracle pins values measured on the sf0.01 gate fixture, so
    * `tools/check.py` skips it at any other scale (Verify lists these
    * in `manifest.json` as `pinned_sf001`). */
  case object PinnedSf001 extends Role
}

/** Driver contract: `queries` builds each declared query, `oracleSql`
  * gives its DuckDB-equivalent SQL over the same parquet tables, and
  * `entry` is the smoke query. Every query is value-exact against its
  * oracle, including all seven ML fits, whose oracles replay the
  * deterministic fits bit-for-bit ([[TsneOracle]], [[UmapOracle]],
  * [[LdaOracle]], and the builders in [[MLQueries]]), and
  * q_recommend_charts, whose oracle replays its pinned sf0.01 output
  * ([[RecommendGolden]]).
  *
  * Add a query = add one [[Query]] to its family's `entries`
  * ([[RelationalQueries]], [[MLQueries]], [[ExtQueries]],
  * [[AssemblyQueries]]): name, roles, oracle SQL, builder. Every list
  * is derived from [[registry]]: these maps, [[Bench.headline]],
  * Verify's dump order and the pinned names check.py skips off the
  * sf0.01 fixture.
  */
object SparkEntry {

  /** Every gate query, in declaration order. */
  val registry: Seq[Query] =
    RelationalQueries.entries ++ MLQueries.entries ++ ExtQueries.entries ++ AssemblyQueries.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.head.build(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
