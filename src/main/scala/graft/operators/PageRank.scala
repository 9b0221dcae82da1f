package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic PageRank over an edge list — the graph-centrality
  * primitive under crawl-frontier prioritization and link-based
  * quality scoring (Common Crawl ranks hosts exactly this way before
  * corpus curation; §2.13 extension surface, sibling of the dedup
  * family's connected components in [[Dedup.nearDupSurvivors]]).
  *
  * ALL rank arithmetic is FIXED-POINT: ranks live in integer
  * micro-units (SCALE = 1e12) and every per-iteration op — the
  * out-degree split, the in-edge sum, the damping multiply, the
  * teleport and dangling shares — is integer multiply/floor-divide/
  * add. Long addition is associative and commutative, so the shuffled
  * in-edge sums are BIT-IDENTICAL regardless of partitioning, executor
  * count, or AQE re-plans — the float-PageRank reproducibility problem
  * (parallel double sums drift in the last ulp and compound across
  * iterations) is designed out, the same motivation as the repo's
  * DECIMAL round-trip convention, and what makes the operator
  * hash-gateable against a SQL replay. The deliberate floor bias loses
  * ≲ iters·(E + 2N) micro-units of total mass (each out-degree split
  * can strand outdeg−1 units per node per round) — ~1e-5 relative at
  * any realistic scale, identically on every engine; a scale run
  * checked the bound end-to-end at 8M edges (BASELINE.md round 12).
  *
  * Per iteration (damping d = dampNum/100):
  * {{{ r'(v) = teleport + d * (Σ_{u→v} r(u) div outdeg(u) + danglingSum div N) div 100 }}}
  * where teleport = ((SCALE div N) * (100 - dampNum)) div 100 and
  * danglingSum is the total rank held by zero-out-degree nodes.
  *
  * Scale shape: the deduped edge list persists once (MEMORY_AND_DISK)
  * and feeds the node set, the out-degrees, and every iteration's
  * probe side. Each iteration is ONE job: two key shuffles (ranks ⋈
  * edges on the source key, then the contribution sum keyed by
  * destination), with the dangling sum riding the same plan as a
  * 1-ROW cross-joined aggregate over the precomputed dangling-node
  * set — the Pregel-style aggregator, but fused into the iteration
  * plan instead of a separate driver action (3 iterations = 3 jobs,
  * not 9); localCheckpoint per iteration truncates the lineage the
  * same way [[Dedup.nearDupSurvivors]]'s rounds do. The only
  * driver-side values are the node count and the checkpoint
  * bookkeeping — nothing grows with the graph.
  *
  * @param iters   fixed iteration count (pinned, no convergence test —
  *                replayable by construction)
  * @param dampNum damping numerator over 100 (85 = the classic 0.85)
  * @return (node, pagerank_micro, pagerank) — micro-units exact;
  *         pagerank = pagerank_micro / 1e12 as a per-row double
  */
object PageRank {

  val SCALE = 1000000000000L

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, dampNum: Long = 85L): DataFrame = {
    require(iters >= 0, s"iters must be non-negative, got $iters")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum in [0,100], got $dampNum")
    val e = graft.CacheScope.track(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    val nodes = graft.CacheScope.track(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outd"))
    // every iteration's probe side: (src, dst, outd), built once; the
    // dangling-node set is FIXED across iterations, so it precomputes
    // once too (tiny: node ids only)
    val eo = graft.CacheScope.track(e.join(outdeg, "src"))
    val dangling = graft.CacheScope.track(
      nodes.join(outdeg, nodes("node") === outdeg("src"), "left_anti"))
    val teleport = ((SCALE / n) * (100L - dampNum)) / 100L

    var ranks = nodes.withColumn("r", lit(SCALE / n)).localCheckpoint()
    for (_ <- 0 until iters) {
      // the dangling sum rides the iteration plan as a 1-row aggregate
      // (cross-joined everywhere) instead of a per-iteration driver
      // action — one job per iteration
      val dangRow = dangling.join(ranks, "node")
        .agg(coalesce(sum(col("r")), lit(0L)).as("__dang"))
      val inSums = eo.join(ranks, eo("src") === ranks("node"))
        .select(col("dst"), expr("r div outd").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("insum"))
      ranks = nodes.join(inSums, nodes("node") === inSums("dst"), "left")
        .crossJoin(dangRow)
        .select(col("node"),
          (lit(teleport) +
            expr(s"$dampNum * (coalesce(insum, 0L) + __dang div ${n}L) div 100")
          ).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("pagerank_micro"),
      (col("r").cast("double") / lit(1.0e12)).as("pagerank"))
  }
}
