package graft.plans

import scala.collection.mutable

import graft.{EngineConfig, LogicalType, TableProfile}
import graft.operators.{CoreT, TStep}

/** The tpath cost vector — `Load = (compute, distribution-distance,
  * semantic-distance)` (L.py:1-12, searchthread.py:363-369).
  * Dominance is the component-wise partial order (L.py:15-32): a node
  * is pruned when some comparison node is ≤ in every component and ≠.
  */
final case class Load(compute: Double, dimDist: Double, semDist: Double) {
  def dominates(other: Load): Boolean =
    compute <= other.compute && dimDist <= other.dimDist && semDist <= other.semDist &&
      this != other
}

/** An enumerated transformation path: cost + ordered basic steps.
  * The terminal core transform is chosen by the caller (stree matching). */
final case class TPathCandidate(load: Load, steps: Vector[TStep]) {
  /** Canonical fingerprint for memo/dedup (replaces the reference's
    * pickle key, search.py:293-298 — and its eval-based node ids,
    * utils.py:245-246, which we deliberately do not reproduce). */
  def fingerprint: String = steps.map(s =>
    s"${s.op}#${s.inType}#${s.inCols.mkString(",")}#${s.outMode}#${s.outName.getOrElse("")}")
    .mkString(" - ")
}

/** Driver-side tpath enumerator — the port of the reference's search
  * threads (searchthread.py:19-468). This is the system's real
  * "optimizer": plan-space enumeration with a canonical op order to
  * kill permutations (non-decreasing basicTl index, monotone cluster
  * index, searchthread.py:332-345) and 3-objective Pareto pruning
  * against adjacent + sibling nodes (searchthread.py:386-409,546-558).
  *
  * Pure Scala over column-level metadata — O(plan space), independent
  * of data size. Execution of survivors happens lazily as Spark plans.
  */
object Enumerator {

  /** Per-op compute weights (L.py:1-12) — carried over verbatim. */
  val calLoad: Map[String, Double] = Map(
    "sum" -> 10, "sub" -> 10, "mul" -> 50, "div" -> 40, "rank" -> 5,
    "del" -> 1, "select" -> 1, "astype" -> 2, "aggr" -> 100, "order" -> 10)

  /** Canonical basic-op order (T.py:188). `aggr` is declared in the
    * reference but its generators are `pass` (searchthread.py:181-182,
    * 243-244, 415-416); our group-agg lives first-class in the chart
    * assembly layer (graft.operators.ChartAssembly) where Spark makes
    * it free. */
  val basicTl: Seq[String] = Seq("rank", "aggr", "sum", "sub", "mul", "div")

  /** The core Ts by the channel type they feed, in [[CoreT.table]] order. */
  val numTl: Seq[String] = CoreT.table.filter(_.channel == "num").map(_.name)
  val catTl: Seq[String] = CoreT.table.filter(_.channel == "cat").map(_.name)

  val RankPrefix = "rank "

  private def hasRank(cols: Seq[String]): Boolean = cols.exists(_.startsWith(RankPrefix))
  private def stripRank(c: String): String =
    if (c.startsWith(RankPrefix)) c.substring(RankPrefix.length) else c

  /** Longest common word subsequence of the cluster's column names —
    * the display name generator (T.py:201-217). */
  def tSuffix(names: Seq[String]): String = {
    if (names.size <= 1) return ""
    var ret = names.head.split(" ").toSeq
    names.foreach { s =>
      val t = s.split(" ").toSet
      ret = ret.filter(t.contains)
    }
    if (names.size >= 10 && ret.isEmpty) "group0" else ret.mkString(" ")
  }

  /** Mean pairwise distance of a cluster under a matrix keyed by
    * column pair (searchthread.py:576-597); rank-columns fall back to
    * their source column. */
  private def meanDistance(mat: Map[(String, String), Double], cluster: Seq[String]): Double = {
    val pairs = for {
      i <- cluster.indices.dropRight(1)
      j <- (i + 1) until cluster.size
    } yield mat.getOrElse((stripRank(cluster(i)), stripRank(cluster(j))), 0.0)
    if (pairs.isEmpty) 0.0 else pairs.sum / pairs.size
  }

  /** Name-token Jaccard distance as the semantic distance. The
    * reference uses word2vec cosine over a 300-d GoogleNews embedding —
    * an external gitignored asset (utils.py:13); without the asset it
    * degrades to this same kind of surface-form similarity. */
  def semDistance(a: String, b: String): Double = {
    def toks(s: String) = stripRank(s).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    val (ta, tb) = (toks(a), toks(b))
    if (ta.isEmpty && tb.isEmpty) 0.0
    else 1.0 - ta.intersect(tb).size.toDouble / ta.union(tb).size
  }

  /** Search-state column metadata (the enumerator's working colinfo). */
  private final case class Ctx(
      numericCols: Seq[String],
      realCols: Seq[String],
      nominalNonKeyCols: Seq[String],
      clusters: Seq[Seq[String]],
      distMat: Map[(String, String), Double])

  private def ctxOf(p: TableProfile, withRanks: Boolean): (Ctx, Option[TStep]) = {
    val numeric = p.columns.filter(c =>
      (c.logicalType == LogicalType.Int || c.logicalType == LogicalType.Real) && !c.isKey)
      .map(_.name)
    val real = p.columns.filter(c => c.logicalType == LogicalType.Real && !c.isKey).map(_.name)
    val nominal = p.columns.filter(c => c.logicalType == LogicalType.Nominal && !c.isKey).map(_.name)
    val baseClusters =
      (p.dimClusters ++ p.nameClusters.filterNot(p.dimClusters.contains))
        .map(_.filter(numeric.contains)).filter(_.size > 1)

    if (!withRanks || real.isEmpty) {
      (Ctx(numeric, real, nominal, baseClusters, p.distanceMatrix), None)
    } else {
      // ranking augmentation (searchthread.py:472-522): add "rank c"
      // twins for real columns + duplicated clusters
      val rankCols = real.map(RankPrefix + _)
      val rankClusters = baseClusters.map(_.map(RankPrefix + _))
      val step = TStep("rank", inType = "like", inCols = Seq("real"), outMode = "append")
      (Ctx(numeric ++ rankCols, real, nominal, baseClusters ++ rankClusters, p.distanceMatrix),
        Some(step))
    }
  }

  private def select(cols: Seq[String]): TStep =
    TStep("select", inType = "==", inCols = cols, outMode = "new_table")

  /** Closing select of exactly the touched + created columns
    * (searchthread.py:425-459). */
  private def closingSelect(steps: Vector[TStep]): TStep = {
    val like = mutable.LinkedHashSet[String]()
    val eq = mutable.LinkedHashSet[String]()
    steps.foreach { s =>
      if (s.op != "rank") {
        if (s.inType == "like") like ++= s.inCols
        if (s.inType == "==") eq ++= s.inCols
        s.outName.foreach(eq += _)
      }
    }
    if (like.nonEmpty) TStep("select", inType = "like", inCols = like.toSeq, outMode = "new_table")
    else select(eq.toSeq)
  }

  /** Enumerate tpaths for one core transform over a profiled table.
    * Branch structure mirrors searchthread.py: null_nom1 (89-111),
    * null_nom (112-127), null_num1 (128-182), null_num (183-250),
    * numeric core Ts (251-459). */
  def enumerate(profile: TableProfile, coreT: String,
                cfg: EngineConfig = EngineConfig.default,
                rankingOn: Boolean = true): Seq[TPathCandidate] = {
    val (ctx, rankStep) = ctxOf(profile, rankingOn && coreT != "null_num")
    val zero = Load(0, 0, 0)

    coreT match {
      case "null_nom1" =>
        ctx.nominalNonKeyCols.map(c => TPathCandidate(zero, Vector(select(Seq(c)))))

      case "null_nom" =>
        if (ctx.nominalNonKeyCols.isEmpty) Nil
        else Seq(TPathCandidate(zero, Vector(select(ctx.nominalNonKeyCols))))

      case "null_num1" =>
        val singles = ctx.numericCols.map { c =>
          val pre = if (hasRank(Seq(c))) rankStep.toVector else Vector.empty
          TPathCandidate(zero, pre :+ select(Seq(c)))
        }
        val sums = sumClusters(ctx).map(cluster =>
          TPathCandidate(zero, Vector(TStep("sum", inCols = cluster,
            outMode = "new_table", outName = Some(s"sum: (${tSuffix(cluster)})")))))
        singles ++ sums

      case "null_num" =>
        val base =
          if (ctx.realCols.isEmpty) Nil
          else Seq(TPathCandidate(zero, Vector(select(ctx.realCols))))
        // one combined tpath: select + appended per-cluster sums with
        // groupN names (searchthread.py:183-250)
        val appended = sumClusters(ctx).zipWithIndex.map { case (cluster, i) =>
          TStep("sum", inCols = cluster, outMode = "append", outName = Some(s"group$i"))
        }
        if (appended.isEmpty) base
        else base :+ TPathCandidate(zero,
          select((ctx.realCols ++ appended.flatMap(_.inCols)).distinct) +: appended.toVector)

      case t if numTl.contains(t) || catTl.contains(t) =>
        numericCoreEnumeration(ctx, rankStep, cfg)

      case other =>
        throw new IllegalArgumentException(s"unknown core T for enumeration: $other")
    }
  }

  /** The null_num pools sum each cluster of more than 2 columns: sub,
    * mul and div take exactly 2, which ONLYPROCESSCLUSTERMORETHAN2
    * skips (searchthread.py:155-157). */
  private def sumClusters(ctx: Ctx): Seq[Seq[String]] =
    ctx.clusters.filter(c => c.size > 2 && !hasRank(c))
  /** MAXTPATHDEPTH (config.py:8): the deepest arithmetic tree level. */
  private val MaxTPathDepth = 5

  /** The depth-0..MAXTPATHDEPTH Pareto search for numeric-input core
    * transforms (searchthread.py:251-459). */
  private def numericCoreEnumeration(ctx: Ctx, rankStep: Option[TStep],
                                     cfg: EngineConfig): Seq[TPathCandidate] = {
    // depth 0: one select per cluster (dim + sem, already merged)
    val depth0 = ctx.clusters.flatMap { cluster =>
      val cur = cluster.filter(ctx.numericCols.contains)
      if (cur.isEmpty) None
      else {
        val pre = if (hasRank(cur)) rankStep.toVector else Vector.empty
        Some(TPathCandidate(Load(0, 0, 0), pre :+ select(cur)))
      }
    }

    // tree node: (load, steps, lastOp, lastClusterIdx, parentId, id)
    final case class Nd(id: Int, parent: Int, depth: Int, load: Load,
                        steps: Vector[TStep], lastOp: String, lastCluster: Int)
    val nodes = mutable.LinkedHashMap[Int, Nd](0 -> Nd(0, -1, 0, Load(0, 0, 0), Vector.empty, "", -1))
    val children = mutable.Map[Int, mutable.ArrayBuffer[Int]]()
    var nextId = 1

    def adjacentNodes(leaf: Nd): Seq[Nd] = {
      // siblings of every node on the path root→leaf (searchthread.py:534-544)
      val path = mutable.ArrayBuffer[Int]()
      var cur = leaf.id
      while (cur != -1) { path += cur; cur = nodes(cur).parent }
      val pathSet = path.toSet
      path.reverse.toSeq.flatMap { pid =>
        children.getOrElse(nodes(pid).parent, mutable.ArrayBuffer.empty[Int]).toSeq
          .filterNot(pathSet.contains).map(nodes(_))
      }
    }

    for (depth <- 1 to MaxTPathDepth) {
      val pruning = depth >= cfg.pruningDepth
      val leaves = nodes.values.filter(n => n.depth == depth - 1 &&
        !children.get(n.id).exists(_.nonEmpty)).toVector
      for (leaf <- leaves) {
        val adj = if (pruning) adjacentNodes(leaf) else Nil
        val startIdx = if (leaf.id == 0) 0 else basicTl.indexOf(leaf.lastOp)
        val newKids = mutable.ArrayBuffer[Nd]()
        for {
          t <- basicTl.drop(startIdx)
          if CoreT.arithmeticOps.contains(t)
          (cluster, i) <- ctx.clusters.zipWithIndex
          if !(t == leaf.lastOp && i <= leaf.lastCluster)
          if !(Seq("sub", "div", "mul").contains(t) && cluster.size != 2)
          if cluster.size > 1 && !hasRank(cluster)
        } {
          val name = s"$t: (${tSuffix(cluster)})"
          val load = Load(
            leaf.load.compute + calLoad(t) * (cluster.size - 1),
            leaf.load.dimDist + meanDistance(ctx.distMat, cluster),
            leaf.load.semDist + {
              val pairs = for {
                a <- cluster.indices.dropRight(1); b <- (a + 1) until cluster.size
              } yield semDistance(cluster(a), cluster(b))
              if (pairs.isEmpty) 0.0 else pairs.sum / pairs.size
            })
          val dominatedByAdjacent = pruning && adj.exists(n =>
            n.depth >= cfg.pruningDepth && n.load.dominates(load))
          if (!dominatedByAdjacent) {
            val steps = leaf.steps :+ TStep(t, inCols = cluster,
              outMode = "append", outName = Some(name))
            newKids += Nd(nextId, leaf.id, depth, load, steps, t, i)
            nextId += 1
          }
        }
        // prune dominated members of the new batch (searchthread.py:546-558)
        val kept =
          if (pruning)
            newKids.filter(ni => !newKids.exists(nj =>
              nj.id != ni.id && nj.load.dominates(ni.load)))
          else newKids
        kept.foreach { k =>
          nodes(k.id) = k
          children.getOrElseUpdate(leaf.id, mutable.ArrayBuffer()) += k.id
        }
      }
    }

    // every non-root node: tpath + closing select (searchthread.py:425-459)
    val treePaths = nodes.values.toSeq.filter(_.id != 0).map { n =>
      TPathCandidate(n.load, n.steps :+ closingSelect(n.steps))
    }
    depth0 ++ treePaths
  }

  /** Dedup a pool of tpaths by fingerprint, preserving order
    * (search.py:160-165). */
  def dedupe(pool: Seq[TPathCandidate]): Seq[TPathCandidate] = {
    val seen = mutable.Set[String]()
    pool.filter(p => seen.add(p.fingerprint))
  }
}
