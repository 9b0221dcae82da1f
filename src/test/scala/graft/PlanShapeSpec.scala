package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical-plan regression guards: the declared queries must keep the
  * plan shapes the 100 TB posture depends on — pruned scans, pushed
  * filters, broadcast dimension joins, single-shuffle aggregations.
  * A correctness-preserving refactor that silently loses one of these
  * (e.g. a projection that stops reaching the parquet scan) fails here,
  * not in production.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** All nodes of the FINAL adaptive plan, seen through AQE wrappers
    * (AdaptiveSparkPlanExec / query stages / reused exchanges) and
    * into cached-relation build plans (InMemoryTableScan children). */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other                    => other.children
    }
    p +: inner.flatMap(flatten)
  }

  /** Identity-dedup: a ReusedExchangeExec resurfaces the SAME exchange
    * instance — counting it twice would fail the exact-count asserts
    * even though one physical exchange runs. */
  private def dedupByIdentity(nodes: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    nodes.filter(seen.add)
  }

  private def executed(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // finalize AQE so the executed plan is the real one
    dedupByIdentity(flatten(df.queryExecution.executedPlan))
  }

  /** Shuffles the PLANNER required (ENSURE_REQUIREMENTS — joins, aggs,
    * windows) PLUS any explicit repartition that is not the
    * Tables-layer scan spread. The spread is the one whitelisted
    * exchange: REPARTITION_BY_NUM at exactly defaultParallelism
    * partitions (it exists only when a scan yields fewer partitions
    * than that — identity at any real scale). Everything else —
    * an operator-level repartition/rebalance of any origin, or a
    * REPARTITION_BY_NUM at some other partition count — counts, so an
    * accidental distribution-forcing operator still fails these
    * contracts (round-15 advice: the ENSURE_REQUIREMENTS-only match
    * let explicit repartitions through). */
  private def requiredShuffles(plan: Seq[SparkPlan]): Seq[ShuffleExchangeExec] = {
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM}
    val spreadParts = spark.sparkContext.defaultParallelism
    plan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS => e
      case e: ShuffleExchangeExec
        if !(e.shuffleOrigin == REPARTITION_BY_NUM &&
             e.outputPartitioning.numPartitions == spreadParts) => e
    }
  }

  /** Shuffled (non-broadcast) joins keyed on any of the given content
    * columns — the 100 TB regression the broadcast-model operators
    * guard against is corpus rows shuffling BY CONTENT KEY (gram,
    * bucket, token); an id-keyed attach of per-doc results is corpus×
    * corpus at scale and legitimately sort-merges there. */
  private def shuffledJoinsOn(plan: Seq[SparkPlan], keys: Set[String]): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def hits(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      exprs.exists(_.references.exists(r => keys(r.name)))
    plan.collect {
      case j: SortMergeJoinExec if hits(j.leftKeys) || hits(j.rightKeys) => j
      case j: ShuffledHashJoinExec if hits(j.leftKeys) || hits(j.rightKeys) => j
    }
  }

  test("q_select_project prunes the lineitem scan to the 3 selected columns") {
    val scans = executed("q_select_project").collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_linenumber", "l_extendedprice"))
  }

  test("q_join_enrich joins dimensions by broadcast, no shuffle before the agg") {
    val plan = executed("q_join_enrich")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2, s"expected 2 broadcast joins, got:\n$plan")
    // the only shuffle is the final groupBy — the joins themselves add none
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, s"dimension joins must not shuffle:\n$plan")
  }

  test("q1_pricing_summary is scan → partial agg → one exchange → final agg") {
    val plan = executed("q1_pricing_summary")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"expected exactly one shuffle:\n$plan")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    // column pruning: the wide lineitem scan reads only the agg inputs
    assert(scans.head.requiredSchema.fieldNames.length <= 7,
      s"scan should read only agg inputs, got ${scans.head.requiredSchema.fieldNames.mkString(",")}")
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") > 30)
      .select(col("l_orderkey"))
    df.collect()
    val scans = this.flatten(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(l_quantity"),
      s"expected pushed filter, got: $pushed")
  }

  test("kmeans assignment scan is shuffle-free (fit sample pass aside)") {
    val plan = executed("q_coret_kmeans")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"assignment must be a pure expression scan, got shuffles:\n$plan")
  }

  test("minhash LSH self-join reads two cached frames: compact sigs + capped banded") {
    // guards the round-5 perf fix: persisting ONLY the capped banded
    // frame leaves its cache-population input (the shingle→signature
    // shuffle agg) evaluated twice — once for the hot-bucket groupBy,
    // once for the anti-join probe side (BENCH r4: 7.1s vs 1.7s).
    // Both persists must survive refactors: this fails on a revert of
    // either one, before any bench runs.
    try {
      val plan = executed("q_dedup_minhash_lsh")
      val cachedSchemas = plan.collect { case i: InMemoryTableScanExec =>
        i.output.map(_.name).toSet
      }.distinct
      assert(cachedSchemas.exists(_.contains("s0")),
        s"compact signature frame (id, s0..s31) is no longer persisted: $cachedSchemas")
      assert(cachedSchemas.exists(s => s.contains("band") && s.contains("bucket")),
        s"capped banded frame (id, sig, band, bucket) is no longer persisted: $cachedSchemas")
    } finally CacheScope.releaseAll()
  }

  test("minRankByValue plans no Window — keyless ranking stays distributed") {
    // the keyless-LDA rank fallback must never degrade to a bare
    // global window (single-partition funnel): the min-rank comes from
    // a groupBy + range-partitioned prefix sum + join
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 50).toDouble).toDF("v")
    try {
      val ranked = graft.operators.Rank.minRankByValue(df, "v", "r")
      assert(ranked.count() == 1000)
      val wins = flatten(ranked.queryExecution.executedPlan)
        .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(wins.isEmpty, s"min-rank must not plan a window:\n${ranked.queryExecution}")
    } finally CacheScope.releaseAll()
  }

  test("pca projection is a pruned shuffle-free scan; moment sums stay primitive") {
    // the hi/lo long-split exists so the moment aggregate runs as a
    // codegen HashAggregate over LongType buffers — a DECIMAL(38,0)
    // revert would land on BigDecimal-backed buffers (BENCH r2→r3
    // regression) and fail the buffer-type assertion below
    import org.apache.spark.sql.functions.{col, sum, floor, lit}
    import org.apache.spark.sql.types.LongType
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val out = graft.operators.CoreT.pca(li,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
      Seq("l_orderkey", "l_linenumber")).get
    val plan = flatten(out.queryExecution.executedPlan)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "projection must be expression-only against the scan")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.head.requiredSchema.fieldNames.length == 6,
      s"scan must read exactly carry+features, got ${scans.map(_.requiredSchema.fieldNames.toSeq)}")
    // moment-agg shape: the pinned hi/lo sums aggregate as LongType
    val v = floor(col("l_quantity") * lit(graft.operators.CoreT.PinScale))
    val agg = li.agg(
      sum(floor(v / lit(1048576.0)).cast(LongType)),
      sum((v - floor(v / lit(1048576.0)) * lit(1048576.0)).cast(LongType)))
    val aggPlan = flatten(agg.queryExecution.executedPlan)
    val hashAggs = aggPlan.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(hashAggs.nonEmpty, "pinned sums must plan as HashAggregate")
    assert(hashAggs.forall(_.aggregateExpressions.forall(
      _.aggregateFunction.dataType == LongType)),
      "pinned sums must aggregate as LongType, not Decimal")
  }

  test("strip-boilerplate: AQE broadcasts the small frequent set at runtime (no forced hint)") {
    // round-11 shape: the semi join that selects boilerplate HITS into
    // the doc-keyed removed-position aggregate carries NO broadcast
    // hint (the frequent-line set scales with corpus line vocabulary —
    // a forced broadcast is the Dedup.dedupSpans-rejected assumption).
    // At gate scale the set IS tiny, so AQE must still land the
    // broadcast semi-join on its own — this pins that the hint removal
    // didn't regress the executed plan where broadcast is right.
    val plans = executed("q_strip_boilerplate")
    val bjoins = plans.collect { case b: BroadcastHashJoinExec => b }
    assert(bjoins.exists(_.joinType.toString.contains("LeftSemi")),
      s"AQE should broadcast the tiny frequent set at this scale:\n${plans.head}")
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    assert(!plans.exists(p => (p.isInstanceOf[SortMergeJoinExec] ||
        p.isInstanceOf[ShuffledHashJoinExec]) &&
        p.output.exists(_.name == "__line")),
      s"lines must never cross a shuffled join at this scale:\n${plans.head}")
  }

  test("vocabulary-scaled semi-join sets carry no forced broadcast hint") {
    // VERDICT r10 finding #1: stripBoilerplate's frequent-line set and
    // rareTokenSignals' common-token set both scale with corpus
    // vocabulary (template lines / Heaps-law head), so a broadcast()
    // hint — which FORCES the broadcast regardless of runtime size —
    // is an OOM at 100 TB. The join strategy must be AQE's runtime
    // call. This walks the ANALYZED logical plan (hints are erased by
    // the optimizer) and fails on any ResolvedHint anywhere in either
    // query tree.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (name <- Seq("q_strip_boilerplate", "q_text_rare_tokens")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      try {
        val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
        assert(hints.isEmpty,
          s"$name carries a forced join hint on a vocabulary-scaled set:\n${hints.mkString("\n")}")
      } finally CacheScope.releaseAll()
    }
  }

  test("incremental dedup never shuffle-joins the corpus (broadcast joins only)") {
    // the 100 TB contract: the corpus side is two scans (Bloom build +
    // confirm probe); all joins carry the tiny candidate/confirmed sets
    // as broadcasts. A refactor that lands a SortMergeJoin/
    // ShuffledHashJoin here starts shuffling corpus fingerprints.
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = executed("q_dedup_incremental")
    assert(!plan.exists(p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      s"incremental dedup must join by broadcast only:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("PQ ADC scan carries codes, not vectors; re-rank joins by broadcast") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = executed("q_sim_pq_topk")
    // no corpus-shuffling join anywhere: the candidate cut and re-rank
    // both carry broadcast-small sides
    assert(!plan.exists(p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      s"PQ must never shuffle-join the corpus:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("IVF-PQ probes by broadcast list-id join; the corpus never shuffle-joins") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = executed("q_sim_ivfpq_topk")
    assert(!plan.exists(p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      s"IVF-PQ must never shuffle-join the corpus:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("BM25 joins query terms and dfs by broadcast; only filtered postings shuffle") {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = executed("q_bm25_topk")
    assert(!plan.exists(p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      s"BM25 must keep every join broadcast:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.size >= 3,
      "term-set semi-join + qterms + dfs should all be broadcast")
    graft.CacheScope.releaseAll()
  }

  test("DSIR weighting broadcasts both bucket tables; the raw corpus never shuffle-joins by bucket") {
    // (the final id-keyed attach of per-doc weights may sort-merge —
    // at 100 TB both of its sides are corpus-scale; the contract is
    // that the BUCKET lookups never shuffle the gram frame)
    val plan = executed("q_dsir_weights")
    assert(shuffledJoinsOn(plan, Set("__b", "__gram")).isEmpty,
      s"DSIR must join its bucket tables by broadcast:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.size >= 2,
      "target and raw bucket-count lookups should both be broadcast joins")
    graft.CacheScope.releaseAll()
  }

  test("BPE encode is a single shuffle-free projection over the scan") {
    val df = SparkEntry.queries("q_bpe_tokenize")(spark, sfDir)
    df.collect()
    val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
    // train happened driver-side before the plan was built; the encode
    // plan itself must be scan → project with no REQUIRED exchange
    // (the scan-spread layout repartition is identity at scale)
    assert(requiredShuffles(plans).isEmpty,
      s"BPE encode must not shuffle:\n${plans.head}")
  }

  test("LM scoring broadcasts its model tables; the only wide ops are the doc window and doc agg") {
    // (the final id-keyed attach of per-doc scores may sort-merge —
    // corpus×corpus at scale; the model-table lookups must not
    // shuffle the token-position frame by token key)
    val plan = executed("q_lm_score")
    assert(shuffledJoinsOn(plan, Set("word", "__pw", "m", "a")).isEmpty,
      s"LM scoring must join model tables by broadcast:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.size >= 3,
      "bigram + two unigram lookups should all be broadcast joins")
    graft.CacheScope.releaseAll()
  }

  test("LM tertile bucketing labels by literal cuts — no rank join back onto the corpus") {
    // round 12: the cut is two boundary scores read off the
    // distinct-value rank frame; the corpus-facing output must be a
    // pure projection over the cached scored frame. A join here means
    // the old corpus-sized rank join came back (real-valued scores →
    // distinct ≈ rows, so that join shuffles the whole corpus).
    // the scored frame's BUILD plan (inside the InMemoryTableScan)
    // legitimately holds the LM fit's broadcast joins — the guard is
    // on everything ABOVE the cache, so descent stops there
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def above(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case _: InMemoryTableScanExec => Seq.empty
        case other                    => other.children
      }
      p +: inner.flatMap(above)
    }
    val df = SparkEntry.queries("q_lm_buckets")(spark, sfDir)
    df.collect()
    val plan = above(df.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "labeling must read the persisted scored frame")
    assert(!plan.exists(p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec] ||
        p.isInstanceOf[BroadcastHashJoinExec]),
      s"bucket labeling must be join-free over the scored cache:\n${plan.head}")
    graft.CacheScope.releaseAll()
  }

  test("quality-model scoring is literal weights over the cached feature frame — no refit") {
    val df = SparkEntry.queries("q_quality_model")(spark, sfDir)
    df.collect()
    val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
    // the scoring plan reads the persisted feature frame; the Gram
    // aggregate ran during build (driver solve), so no aggregate may
    // appear in the scoring plan itself
    assert(plans.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "scoring must reuse the request-scoped feature cache")
    graft.CacheScope.releaseAll()
  }

  test("PQ candidate cut group-limits map-side before the per-query shuffle") {
    // VERDICT r7 #3: with few queries, Window.partitionBy(query_id)
    // would funnel nq·corpus rows into nq reducers. Spark's
    // WindowGroupLimit rewrite (row_number + rn <= k filter) must keep
    // a Partial group-limit upstream of the exchange so each map task
    // emits at most `candidates` rows per query — the reducer then
    // sees partitions×candidates rows per query, never the corpus.
    val plan = executed("q_sim_pq_topk")
    val limits = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.exists(_.mode == org.apache.spark.sql.execution.window.Partial),
      s"expected a map-side (Partial) WindowGroupLimit before the candidate shuffle:\n${plan.head}")
  }

  test("distributed IVF top-k: equi-join only (no product join), map-side group limit") {
    // the corpus-scale query path: probes meet the bucketed corpus in
    // a plain list-keyed equi-join (strategy AQE's — broadcast is fine
    // at gate scale, a product join never is), and the per-query top-k
    // must keep the Partial WindowGroupLimit so the exchange carries
    // partitions×k rows per query, never the probed corpus slice
    val plan = executed("q_sim_ivf_distributed")
    val s = plan.head.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"distributed IVF must join by list-id equality only:\n$s")
    // the pinned property is the rewrite-compatible rank filter: a
    // WindowGroupLimit must exist. Its MODE follows the exchange
    // structure — when the query side's partitioning already satisfies
    // the window (the scan-spread hash layout does at gate scale, one
    // exchange FEWER), Spark plans a Final-only limit; under a shuffle
    // (any real scale) the same rewrite inserts the map-side Partial.
    val limits = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.nonEmpty,
      s"expected a WindowGroupLimit at the top-k rank filter:\n${plan.head}")
    graft.CacheScope.releaseAll()
  }

  test("distributed IVF-PQ: equi-joins only, map-side group limits on both windows") {
    // same contract as the distributed IVF pin, for the compressed
    // path: ADC join on the list id + re-rank joins on plain keys
    // (AQE's strategy — never a product join), and the CANDIDATE cut
    // — the window whose input can approach nq·(probed corpus) rows —
    // map-side bounded. (The final top-k window's input is already
    // ≤ candidates rows/query by construction; at gate scale AQE
    // broadcasts the re-rank joins, the window sees an
    // un-exchanged stream, and Spark then plans a Final-only group
    // limit — no Partial exists without a shuffle below it.)
    val plan = executed("q_sim_ivfpq_distributed")
    val s = plan.head.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"distributed IVF-PQ must join by key equality only:\n$s")
    // same mode note as the distributed-IVF pin: the limit's mode
    // follows the exchange structure (Final-only when the scan-spread
    // layout already satisfies the window's distribution at gate
    // scale); the pinned property is that the rank-filter rewrite
    // applies at all
    val limits = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.nonEmpty,
      s"expected a WindowGroupLimit at the ADC candidate cut:\n${plan.head}")
    graft.CacheScope.releaseAll()
  }

  test("brute-force top-k group-limits map-side too (same window shape)") {
    val plan = executed("q_sim_bruteforce_topk")
    val limits = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.exists(_.mode == org.apache.spark.sql.execution.window.Partial),
      s"expected a map-side (Partial) WindowGroupLimit in the brute-force scan:\n${plan.head}")
  }

  test("domain cap group-limits map-side — a hot domain never funnels its full row count") {
    // same WindowGroupLimit contract as the ANN windows: each map task
    // pre-trims to `cap` rows per domain before the exchange, so a
    // domain with 10^9 documents still ships only tasks×cap rows
    val plan = executed("q_domain_cap")
    val limits = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.exists(_.mode == org.apache.spark.sql.execution.window.Partial),
      s"expected a map-side (Partial) WindowGroupLimit in the domain-cap scan:\n${plan.head}")
  }

  test("int8 quantization encode is a pure projection — no shuffle after the fit") {
    // the fit is a separate one-pass min/max agg collected at plan
    // time; the returned frame must be scan → project only
    val df = SparkEntry.queries("q_embed_int8")(spark, sfDir)
    df.collect()
    val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
    assert(requiredShuffles(plans).isEmpty,
      s"quantization encode must not shuffle:\n${plans.head}")
  }

  test("z-order layout is one range shuffle + in-partition sort, nothing global") {
    val df = SparkEntry.queries("q_zorder_key")(spark, sfDir)
    df.collect()
    val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
    val shuffles = plans.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size === 1, s"expected exactly one exchange:\n${plans.head}")
    assert(shuffles.head.outputPartitioning.getClass.getSimpleName
      .contains("RangePartitioning"),
      s"layout exchange must be range-partitioned: ${shuffles.head.outputPartitioning}")
    // the sort must be partition-local (no global ordering exchange)
    val sorts = plans.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.nonEmpty && sorts.forall(!_.global),
      "z-order sort must be within partitions, not global")
  }

  test("gopher/c4 rule scans are shuffle-free projections") {
    Seq("q_gopher_quality", "q_c4_clean").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
      assert(requiredShuffles(plans).isEmpty,
        s"$q must be a pure projection, found a required shuffle:\n${plans.head}")
    }
  }

  test("q_dedup_lines never shuffles line content; document text moves at most once") {
    // the winner agg's exchange must carry (hash, partial-min struct)
    // — map-side combine happens before it — and the rebuild must join
    // position arrays back to the ORIGINAL rows. Column pruning drops
    // the raw `text` column before any exchange (the content travels
    // as the `__segs` split array), so the content carriers to count
    // are __segs and text together: at most one exchange total (zero
    // when AQE broadcasts the position side).
    val plan = executed("q_dedup_lines")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(!shuffles.exists(_.output.exists(_.name == "__line")),
      s"exploded line content must never shuffle:\n${plan.head}")
    val contentCarriers = shuffles.count(
      _.output.exists(a => a.name == "text" || a.name == "__segs"))
    assert(contentCarriers <= 1,
      s"document content must cross at most one exchange:\n${plan.head}")
    // guard the guard: the split array must actually exist somewhere in
    // the plan — if the rebuild stops using __segs this test must break
    assert(plan.exists(_.output.exists(_.name == "__segs")) ||
      plan.exists(_.expressions.exists(_.references.exists(_.name == "__segs"))),
      "expected the __segs split array in the executed plan")
  }

  test("q_profile_sketch is one pruned scan, one exchange of sketch state") {
    val plan = executed("q_profile_sketch")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1 &&
      scans.head.requiredSchema.fieldNames.toSet ==
        Set("l_quantity", "l_extendedprice", "l_discount"),
      s"expected one 3-column lineitem scan:\n${plan.head}")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"sketch profiling must be a single-aggregation pass:\n${plan.head}")
    graft.CacheScope.releaseAll()
  }

  test("q_dedup_minhash_incr never shuffles document text (signatures only)") {
    val plan = executed("q_dedup_minhash_incr")
    // the scan-spread layout repartition legitimately carries the raw
    // row once (identity at scale); no REQUIRED exchange may carry it.
    // (At gate scale AQE may broadcast every join, leaving ZERO
    // required exchanges — the contract holds vacuously there.)
    val shuffles = requiredShuffles(plan)
    assert(!shuffles.exists(_.output.exists(a =>
        a.name == "text" || a.name == "gram" || a.name == "__line")),
      s"raw text/shingles must never cross a required exchange:\n${plan.head}")
    graft.CacheScope.releaseAll()
  }

  test("priority sample group-limits map-side — a giant stratum never funnels whole") {
    // same WindowGroupLimit contract as the ANN/domain-cap windows:
    // each map task pre-trims to k+1 rows per stratum before the
    // exchange, so the per-stratum reducer sees tasks·(k+1) rows of a
    // 10^9-row stratum, never the stratum
    val plan = executed("q_sample_priority")
    val limits = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(limits.exists(_.mode == org.apache.spark.sql.execution.window.Partial),
      s"expected a map-side (Partial) WindowGroupLimit in the priority rank:\n${plan.head}")
  }

  test("decontamination joins probe grams by broadcast; the corpus never shuffles by gram") {
    // (the id-keyed rebuild join may sort-merge — its sides are
    // corpus-scale at 100 TB; gram-keyed joins must stay broadcast)
    val plan = executed("q_decontaminate")
    assert(shuffledJoinsOn(plan, Set("__gram", "__h")).isEmpty,
      s"decontaminate must never shuffle-join by gram:\n${plan.head}")
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty)
  }

  test("shard packing shuffles once (the range partitioning), nothing else") {
    val df = SparkEntry.queries("q_shard_pack")(spark, sfDir)
    df.collect()
    val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
    // the assignment pass reads the persisted range-partitioned frame;
    // no Window and no additional Exchange may appear downstream of it
    assert(!plans.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "shard packing must not plan a global window")
    graft.CacheScope.releaseAll()
  }

  test("round-14 order/selection ops never plan a global window") {
    // shuffleOrder, selectByBudget, interleaveGroups all materialize
    // global positions/cumulatives — the one thing they must NOT do is
    // SQL's natural spelling (row_number/sum OVER (ORDER BY …)), the
    // single-partition funnel; each runs on zipWithIndex/prefix-sum
    // machinery instead
    Seq("q_shuffle_order", "q_select_budget", "q_interleave_groups").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plans = dedupByIdentity(flatten(df.queryExecution.executedPlan))
      assert(!plans.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
        s"$q must not plan a window")
      graft.CacheScope.releaseAll()
    }
  }

  test("q_oov_rate_supplied joins its vocab by broadcast") {
    // (q_interleave_groups broadcasts its group offsets too, but its
    // final zipWithIndex rank puts an RDD boundary over the join —
    // the executed plan shows only Scan ExistingRDD; the broadcast
    // hint is in source and the no-window pin above covers the funnel)
    val plan = executed("q_oov_rate_supplied")
    assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"q_oov_rate_supplied must broadcast its vocab:\n$plan")
    graft.CacheScope.releaseAll()
  }
}
