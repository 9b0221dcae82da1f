package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType, DataType}

/** Gate-output contract: every declared query's result schema must be
  * flat primitives. The driver's correctness gate canonicalizes rows
  * by sorting on EVERY column through pandas, and a nested cell
  * (array/map/struct) makes that sort raise "unhashable type" — the
  * r8 q_profile_sketch red was exactly this, an operator that was
  * fine but whose gate row recorded the checker's own crash. This
  * spec makes the invariant structural: a future operator that leaks
  * a nested column into `SparkEntry.queries` fails here, in-repo,
  * before the driver ever sees it.
  *
  * Schema-only: builds each query's plan at sf0.001 without executing
  * it (driver-side fit collects inside plan construction still run,
  * which is why this uses the smallest fixture).
  */
class GateSchemaSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def nested(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  test("registry names are unique, and no oracle is blank") {
    // each Query pairs its builder with its oracle, so neither can be
    // orphaned; a repeated name would silently drop an entry from the
    // name-keyed maps, and a blank oracle gates nothing
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"names declared twice: ${dups.toSeq.sorted}")
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("Verify dumps the six costliest first, then the rest in declaration order") {
    val order = Verify.dumpOrder(SparkEntry.registry).map(_.name)
    val first = Set("q_recommend_charts", "q_coret_umap", "q_coret_tsne",
      "q_coret_lda", "q_scagnostics", "q_coret_dbscan")
    assert(order.take(first.size).toSet == first)
    assert(order.drop(first.size) == SparkEntry.registry.map(_.name).filterNot(first))
  }

  test("every SparkEntry query emits flat primitive columns only") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val bad = q(spark, sfDir).schema.fields.filter(f => nested(f.dataType))
        bad.map(f => s"$name.${f.name}: ${f.dataType.simpleString}")
    }
    assert(offenders.isEmpty,
      s"nested gate-output columns (driver canonicalizer cannot sort " +
        s"these):\n${offenders.mkString("\n")}")
  }
}
