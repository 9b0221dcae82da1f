package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query._
import graft.operators.CoreT
import graft.sources.Tables

/** Declared queries for the core (ML) transforms — SURVEY §2.8.
  *
  * ALL seven core fits — DBSCAN, KMeans, PCA, MDS, t-SNE, UMAP, LDA —
  * are DuckDB-value-exact: deterministic fits replayed bit-for-bit
  * (see [[entries]], [[TsneOracle]], [[UmapOracle]], [[LdaOracle]] —
  * exp/ln/pow/digamma go through [[graft.functions.MirrorMath]],
  * which both engines evaluate identically).
  *
  * Output column names are the reference's ("Category by KMeans", PC1…)
  * sanitized to snake_case where parquet forbids spaces.
  */
object MLQueries {

  /** q_coret_kmeans oracle: a bit-exact DuckDB replay of the
    * deterministic Lloyd fit. The fit sample is the 2000 rows with
    * the smallest md5(key:seed) digest (feature-value tie-break for
    * duplicate keys), init = first 3 points of that order, and each
    * of the fixed 30 iterations recomputes assignments (strict-less
    * argmin) and per-cluster means with ordered left folds — the same
    * IEEE-754 operation sequence as [[CoreT.lloyd]], so the final
    * centers and therefore every label hash-match. (The Scala side
    * early-stops at a fixed point, where recomputed centers are
    * bit-identical — a fixed-iteration replay lands on the same
    * values.) */
  private def kmeansOracle: String = {
    val fs = 1 to 4
    def sdist(c: Int) =
      fs.map(f => s"(x$f[j] - cs[$c][$f])*(x$f[j] - cs[$c][$f])").mkString("(", " + ", ")")
    def dist(c: Int) =
      fs.map(f => s"(f$f - cs[$c][$f])*(f$f - cs[$c][$f])").mkString("(", " + ", ")")
    val newc = (1 to 3).map { c =>
      fs.map { f =>
        s"CASE WHEN len(ixs[$c]) = 0 THEN cs[$c][$f] " +
          s"ELSE list_reduce(list_prepend(0.0, [x$f[j] FOR j IN ixs[$c]]), (a,v) -> a + v) / len(ixs[$c]) END"
      }.mkString("[", ", ", "]")
    }.mkString(", ")
    val ord = "h, f1, f2, f3, f4"
    s"""WITH RECURSIVE
       |src AS (SELECT l_orderkey AS k1, l_linenumber AS k2,
       |               CAST(l_quantity AS DOUBLE) AS f1, CAST(l_extendedprice AS DOUBLE) AS f2,
       |               CAST(l_discount AS DOUBLE) AS f3, CAST(l_tax AS DOUBLE) AS f4 FROM lineitem),
       |mm AS (SELECT MIN(f1) lo1, MAX(f1) hi1, MIN(f2) lo2, MAX(f2) hi2,
       |              MIN(f3) lo3, MAX(f3) hi3, MIN(f4) lo4, MAX(f4) hi4 FROM src),
       |n AS (SELECT k1, k2,
       |        CASE WHEN hi1 = lo1 THEN 0.0 ELSE (f1 - lo1) / (hi1 - lo1) END AS f1,
       |        CASE WHEN hi2 = lo2 THEN 0.0 ELSE (f2 - lo2) / (hi2 - lo2) END AS f2,
       |        CASE WHEN hi3 = lo3 THEN 0.0 ELSE (f3 - lo3) / (hi3 - lo3) END AS f3,
       |        CASE WHEN hi4 = lo4 THEN 0.0 ELSE (f4 - lo4) / (hi4 - lo4) END AS f4
       |      FROM src, mm),
       |samp AS (SELECT md5(k1 || ':' || k2 || ':9') AS h, f1, f2, f3, f4 FROM n
       |         WHERE f1 IS NOT NULL AND f2 IS NOT NULL AND f3 IS NOT NULL AND f4 IS NOT NULL
       |         ORDER BY $ord LIMIT 2000),
       |sp AS (SELECT list(f1 ORDER BY $ord) AS x1, list(f2 ORDER BY $ord) AS x2,
       |              list(f3 ORDER BY $ord) AS x3, list(f4 ORDER BY $ord) AS x4,
       |              COUNT(*) AS m FROM samp),
       |it(i, cs) AS (
       |  SELECT 0, [[x1[1], x2[1], x3[1], x4[1]],
       |             [x1[2], x2[2], x3[2], x4[2]],
       |             [x1[3], x2[3], x3[3], x4[3]]] FROM sp
       |  UNION ALL
       |  SELECT i + 1, [$newc]
       |  FROM (SELECT i, cs, x1, x2, x3, x4,
       |               [[j FOR j IN generate_series(1, m) IF asg[j] = 1],
       |                [j FOR j IN generate_series(1, m) IF asg[j] = 2],
       |                [j FOR j IN generate_series(1, m) IF asg[j] = 3]] AS ixs
       |        FROM (SELECT i, cs, x1, x2, x3, x4, m,
       |                     list_transform(generate_series(1, m), j ->
       |                       CASE WHEN ${sdist(1)} <= ${sdist(2)} AND ${sdist(1)} <= ${sdist(3)} THEN 1
       |                            WHEN ${sdist(2)} <= ${sdist(3)} THEN 2 ELSE 3 END) AS asg
       |              FROM it, sp WHERE i < 30))),
       |fin AS (SELECT cs FROM it WHERE i = 30)
       |SELECT k1 AS l_orderkey, k2 AS l_linenumber,
       |  CAST(CASE WHEN f1 IS NULL OR f2 IS NULL OR f3 IS NULL OR f4 IS NULL THEN 0
       |            WHEN ${dist(1)} <= ${dist(2)} AND ${dist(1)} <= ${dist(3)} THEN 0
       |            WHEN ${dist(2)} <= ${dist(3)} THEN 1 ELSE 2 END AS BIGINT) AS category_kmeans
       |FROM n, fin""".stripMargin
  }

  /** q_coret_pca oracle: a bit-exact DuckDB replay of the whole PCA —
    * minmax normalization, 2^-40 fixed-point moment sums (order-free
    * BIGINT, see [[graft.operators.CoreT.pca]]), a 12-sweep cyclic
    * Jacobi eigendecomposition as a `list_reduce` fold over the 72
    * rotation steps carrying `[A(16) | V(16)]`, the same
    * (-eigenvalue, index) top-2 pick and largest-|loading| sign fix,
    * and the centered projection. Every operation is +,-,*,/ or sqrt
    * (IEEE-exact on both engines), so PC1/PC2 match with NO output
    * rounding. Mirrors [[graft.functions.JacobiEig]] term for term. */
  private def pcaOracle: String = {
    val S = "1099511627776.0" // 2^40
    val fs = 1 to 4
    // sum(BIGINT) promotes to HUGEINT (exact); the single cast to
    // DOUBLE rounds once — the same exact-integer-then-one-rounding
    // sequence as Spark's split hi/lo long sums + BigInt reassembly
    // (CoreT.pinnedParts/pinnedTotal)
    val sums = fs.map(f => s"CAST(sum(CAST(floor(f$f * $S) AS BIGINT)) AS DOUBLE) AS s$f")
    val prods = for (i <- fs; j <- fs if j >= i)
      yield s"CAST(sum(CAST(floor((f$i * f$j) * $S) AS BIGINT)) AS DOUBLE) AS p${i}_$j"
    val ms = fs.map(f => s"s$f / $S / cnt AS m$f")
    val qs = for (i <- fs; j <- fs if j >= i)
      yield s"p${i}_$j / $S / cnt AS q${i}_$j"
    val cvs = for (i <- fs; j <- fs if j >= i)
      yield s"q${i}_$j - m$i * m$j AS c${i}_$j"
    def cRef(i: Int, j: Int) = { val (a, b) = if (i <= j) (i, j) else (j, i); s"c${a}_$b" }
    val initA = (for (i <- fs; j <- fs) yield cRef(i, j)).mkString(", ")
    val initV = (for (i <- fs; j <- fs) yield if (i == j) "1.0" else "0.0").mkString(", ")
    val steps = (for (_ <- 1 to 12; p <- 1 to 4; q <- (p + 1) to 4)
      yield s"[$p.0, $q.0]").mkString(", ")
    // rotation pieces — p/q/t/c/s expand textually inside ONE lambda
    val P = "CAST(e[1] AS BIGINT)"; val Q = "CAST(e[2] AS BIGINT)"
    def A(r: String, c: String) = s"acc[($r - 1) * 4 + $c]"
    def V(r: String, c: String) = s"acc[16 + ($r - 1) * 4 + $c]"
    val app = A(P, P); val aqq = A(Q, Q); val apq = A(P, Q)
    val th = s"(($aqq - $app) / (2.0 * $apq))"
    val t = s"((CASE WHEN $th >= 0 THEN 1.0 ELSE -1.0 END) / (abs($th) + sqrt($th * $th + 1.0)))"
    val co = s"(1.0 / sqrt($t * $t + 1.0))"
    val si = s"($t * $co)"
    val rr = "(((ii - 1) // 4) + 1)"; val cc = "(((ii - 1) % 4) + 1)"
    val vr = "(((ii - 17) // 4) + 1)"; val vc = "(((ii - 17) % 4) + 1)"
    val step =
      s"""CASE WHEN $apq = 0 THEN acc ELSE list_transform(range(1, 33), ii ->
         |  CASE WHEN ii <= 16 THEN
         |    CASE WHEN $rr = $P AND $cc = $P THEN $app - $t * $apq
         |         WHEN $rr = $Q AND $cc = $Q THEN $aqq + $t * $apq
         |         WHEN ($rr = $P AND $cc = $Q) OR ($rr = $Q AND $cc = $P) THEN 0.0
         |         WHEN $rr = $P THEN $co * ${A(P, cc)} - $si * ${A(Q, cc)}
         |         WHEN $rr = $Q THEN $si * ${A(P, cc)} + $co * ${A(Q, cc)}
         |         WHEN $cc = $P THEN $co * ${A(rr, P)} - $si * ${A(rr, Q)}
         |         WHEN $cc = $Q THEN $si * ${A(rr, P)} + $co * ${A(rr, Q)}
         |         ELSE acc[ii] END
         |  ELSE
         |    CASE WHEN $vc = $P THEN $co * ${V(vr, P)} - $si * ${V(vr, Q)}
         |         WHEN $vc = $Q THEN $si * ${V(vr, P)} + $co * ${V(vr, Q)}
         |         ELSE acc[ii] END
         |  END) END""".stripMargin
    def vSel(rk: Int) =
      s"""v${rk}i AS (SELECT m1, m2, m3, m4, st,
         |  (SELECT idx FROM sel WHERE rk = $rk) AS tidx FROM eig),
         |v$rk AS (SELECT m1, m2, m3, m4,
         |  list_transform(range(1, 5), k -> st[16 + (k - 1) * 4 + tidx]) AS vraw FROM v${rk}i),
         |v${rk}f AS (SELECT m1, m2, m3, m4,
         |  CASE WHEN vraw[list_position(list_transform(vraw, y -> abs(y)),
         |                 list_aggregate(list_transform(vraw, y -> abs(y)), 'max'))] < 0
         |       THEN list_transform(vraw, y -> -y) ELSE vraw END AS v FROM v$rk)""".stripMargin
    def proj(tbl: String) =
      fs.map(f => s"(f$f - $tbl.m$f) * $tbl.v[$f]").mkString(" + ")
    s"""WITH src AS (SELECT l_orderkey AS k1, l_linenumber AS k2,
       |               CAST(l_quantity AS DOUBLE) AS f1, CAST(l_extendedprice AS DOUBLE) AS f2,
       |               CAST(l_discount AS DOUBLE) AS f3, CAST(l_tax AS DOUBLE) AS f4 FROM lineitem),
       |mm AS (SELECT MIN(f1) lo1, MAX(f1) hi1, MIN(f2) lo2, MAX(f2) hi2,
       |              MIN(f3) lo3, MAX(f3) hi3, MIN(f4) lo4, MAX(f4) hi4 FROM src),
       |n AS (SELECT k1, k2,
       |        CASE WHEN hi1 = lo1 THEN 0.0 ELSE (f1 - lo1) / (hi1 - lo1) END AS f1,
       |        CASE WHEN hi2 = lo2 THEN 0.0 ELSE (f2 - lo2) / (hi2 - lo2) END AS f2,
       |        CASE WHEN hi3 = lo3 THEN 0.0 ELSE (f3 - lo3) / (hi3 - lo3) END AS f3,
       |        CASE WHEN hi4 = lo4 THEN 0.0 ELSE (f4 - lo4) / (hi4 - lo4) END AS f4
       |      FROM src, mm),
       |mom AS (SELECT COUNT(*) AS cnt, ${(sums ++ prods).mkString(", ")}
       |        FROM n WHERE f1 IS NOT NULL AND f2 IS NOT NULL AND f3 IS NOT NULL AND f4 IS NOT NULL),
       |cv AS (SELECT cnt, ${(ms ++ qs).mkString(", ")} FROM mom),
       |cvm AS (SELECT cnt, m1, m2, m3, m4, ${cvs.mkString(", ")} FROM cv),
       |jac AS (SELECT m1, m2, m3, m4,
       |          list_reduce(list_prepend(
       |            [$initA, $initV],
       |            [$steps]),
       |            (acc, e) -> $step) AS st FROM cvm),
       |eig AS (SELECT m1, m2, m3, m4, [st[1], st[6], st[11], st[16]] AS ev, st FROM jac),
       |sel AS (SELECT i AS idx, row_number() OVER (ORDER BY ev[i] DESC, i) AS rk
       |        FROM eig, (SELECT unnest([1, 2, 3, 4]) AS i)),
       |${vSel(1)},
       |${vSel(2)}
       |SELECT k1 AS l_orderkey, k2 AS l_linenumber,
       |  ${proj("v1f")} AS PC1,
       |  ${proj("v2f")} AS PC2
       |FROM n, v1f, v2f""".stripMargin
  }

  /** q_coret_mds oracle: bit-exact DuckDB replay of classical MDS —
    * minmax normalization, canonical s_suppkey row order, the
    * double-centered Gram matrix B = -1/2·J·D²·J as a list-of-lists,
    * and the SAME fixed-300-iteration power iteration + deflation as
    * [[graft.functions.JacobiEig.powerTop]] (integer-hash start
    * vector, ascending folds, sqrt-only arithmetic), so MDS-1/MDS-2
    * match with no output rounding. */
  private def mdsOracle: String = {
    // each iteration is TWO fold steps — odd: w = B·acc (the O(n²)
    // mat-vec, written once), even: normalize acc in place (cheap
    // folds over the materialized list) — so the mat-vec isn't
    // re-evaluated for every textual occurrence of `w`
    def w(b: String) =
      s"list_transform(range(1, cnt + 1), i -> " +
        OracleSql.osum(s"list_transform(range(1, cnt + 1), j -> $b[i][j] * acc[j])") + ")"
    val s2acc = OracleSql.osum("list_transform(acc, t -> t * t)")
    // the 1-element wrapper transform evaluates the O(n) norm fold
    // ONCE per step (binding it to `s2`) instead of once per element —
    // DuckDB re-evaluates expressions embedded in element lambdas.
    //
    // DuckDB 1.0 REGRESSION NOTE: singleton-binding transforms inside
    // a list_reduce lambda are the construct family TsneOracle.scala
    // documents as miscompiled ("state zeroes out"). That failure mode
    // needs (a) the binding to slice the accumulator itself
    // (`[acc[k]]`) and (b) a coexisting plain-`acc` branch reading the
    // corrupted state on a LATER fold step. Here neither holds: the
    // bound value `s2acc` is a fresh fold over acc (not an acc slice),
    // the only plain-`acc` reference inside the transform (`t / ...`)
    // is consumed in the SAME step, and the zero-norm `THEN acc`
    // branch is dead (power iteration never reaches norm 0 — vinit is
    // non-null-space by construction). If a DuckDB version bump ever
    // breaks q_coret_mds, restructure this normalize as a fixed-slot
    // phase fold like TsneOracle's GD loop before suspecting the math.
    def step(b: String) =
      s"CASE WHEN e[1] = 1.0 THEN ${w(b)} " +
        s"ELSE list_transform([$s2acc], s2 -> CASE WHEN s2 = 0 THEN acc " +
        s"ELSE list_transform(acc, t -> t / sqrt(s2)) END)[1] END"
    def lam(b: String, v: String) =
      OracleSql.osum(s"list_transform(range(1, cnt + 1), i -> $v[i] * " +
        OracleSql.osum(s"list_transform(range(1, cnt + 1), j -> $b[i][j] * $v[j])") + ")")
    def power(b: String) =
      s"""list_reduce(list_prepend(vinit,
         |      list_transform(range(1, 601), z -> [CAST(z % 2 AS DOUBLE)])),
         |      (acc, e) -> ${step(b)})""".stripMargin
    s"""WITH src AS (SELECT s_suppkey AS k, CAST(s_nationkey AS DOUBLE) AS f1,
       |               CAST(s_acctbal AS DOUBLE) AS f2 FROM supplier),
       |mm AS (SELECT MIN(f1) lo1, MAX(f1) hi1, MIN(f2) lo2, MAX(f2) hi2 FROM src),
       |nn AS (SELECT k,
       |         coalesce(CASE WHEN hi1 = lo1 THEN 0.0 ELSE (f1 - lo1) / (hi1 - lo1) END, 0.0) AS f1,
       |         coalesce(CASE WHEN hi2 = lo2 THEN 0.0 ELSE (f2 - lo2) / (hi2 - lo2) END, 0.0) AS f2
       |       FROM src, mm ORDER BY k LIMIT 5001),
       |pts AS (SELECT list(f1 ORDER BY k) AS x, list(f2 ORDER BY k) AS y,
       |               list(k ORDER BY k) AS ks, COUNT(*) AS cnt FROM nn),
       |ddm AS (SELECT *, list_transform(range(1, cnt + 1), i -> list_transform(range(1, cnt + 1), j ->
       |          (x[i] - x[j]) * (x[i] - x[j]) + (y[i] - y[j]) * (y[i] - y[j]))) AS dd FROM pts),
       |rmm AS (SELECT *, list_transform(dd, r ->
       |          ${OracleSql.osum("r")} / cnt) AS rmn FROM ddm),
       |grm AS (SELECT *, ${OracleSql.osum("rmn")} / cnt AS grand FROM rmm),
       |bm AS (SELECT *, list_transform(range(1, cnt + 1), i -> list_transform(range(1, cnt + 1), j ->
       |         -0.5 * (dd[i][j] - rmn[i] - rmn[j] + grand))) AS b FROM grm),
       |ini AS (SELECT *, list_transform(range(1, cnt + 1), i ->
       |          CAST(i * 2654435761 % 1000003 AS DOUBLE) / 1000003.0 - 0.5) AS vinit FROM bm),
       |pw1 AS (SELECT *, ${power("b")} AS vv1 FROM ini),
       |lm1 AS (SELECT *, ${lam("b", "vv1")} AS l1 FROM pw1),
       |dfl AS (SELECT *, list_transform(range(1, cnt + 1), i -> list_transform(range(1, cnt + 1), j ->
       |          b[i][j] - l1 * vv1[i] * vv1[j])) AS b2 FROM lm1),
       |pw2 AS (SELECT *, ${power("b2")} AS vv2 FROM dfl),
       |lm2 AS (SELECT *, ${lam("b2", "vv2")} AS l2 FROM pw2)
       |SELECT unnest(ks) AS s_suppkey,
       |  unnest(list_transform(range(1, cnt + 1), i -> vv1[i] * sqrt(greatest(l1, 0.0)))) AS mds_1,
       |  unnest(list_transform(range(1, cnt + 1), i -> vv2[i] * sqrt(greatest(l2, 0.0)))) AS mds_2
       |FROM lm2""".stripMargin
  }

  /** The core transforms' oracles: DBSCAN with canonical
    * min-core-key labels is pure ε-graph set logic — neighbor counts,
    * connected components (recursive CTE), min-label border assignment
    * — over the same minmax normalization and fixed-order squared
    * distances, so it value-matches bit-exactly; KMeans replays the
    * deterministic Lloyd fit ([[kmeansOracle]]); PCA replays the
    * fixed-sweep Jacobi ([[pcaOracle]]); MDS replays power iteration
    * ([[mdsOracle]]); t-SNE replays the whole fit through MirrorMath
    * ([[TsneOracle]]); UMAP replays the whole fit — counter-based
    * draws, closed-form schedule, MirrorMath kernel — at the gate's
    * pinned 50 epochs ([[UmapOracle]]); LDA replays the deterministic
    * VB fit — ranks, all EM iterations, labels — ([[LdaOracle]]). */
  val entries: Seq[Query] = Seq(
    Query("q_coret_pca", Headline)(pcaOracle) { (s, dir) =>
      CoreT.pca(Tables.lineitem(s, dir),
        features = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        carry = Seq("l_orderkey", "l_linenumber")).get
    },
    Query("q_coret_kmeans", Headline)(kmeansOracle) { (s, dir) =>
      // fitCap pinned to 2000 so the oracle's fixed-iteration Lloyd
      // replay (ordered folds over the sample lists) stays cheap at
      // gate scale; the operator default stays 50000
      CoreT.kmeans(Tables.lineitem(s, dir),
        features = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        carry = Seq("l_orderkey", "l_linenumber"), fitCap = 2000).get
        .withColumnRenamed("Category by KMeans", "category_kmeans")
    },
    Query("q_coret_lda", DumpFirst)(LdaOracle.sql) { (s, dir) =>
      // key-bounded input (dbscan's gate bounds the same way, and the
      // reference itself caps sources at 400 rows): the oracle replays
      // all 10 VB iterations × 30 E-step sweeps PER DOC, so the gate
      // runs at chart scale while the operator stays unbounded
      CoreT.lda(Tables.part(s, dir).where(col("p_partkey") <= LdaOracle.GateKeyBound),
        features = LdaOracle.GateFeatures,
        carry = Seq("p_partkey")).get
        .withColumnRenamed("Category by LDA", "category_lda")
    },
    Query("q_coret_dbscan", DumpFirst)(
      // Core-point components run over grid-CELL representatives, not the
      // raw ε-graph: cells of side 0.17 have diagonal ≤ 0.2404 < ε = 0.25,
      // so core points sharing a cell are pairwise ε-reachable (a clique),
      // and the ε-components of core points equal the components of the
      // cell graph (cells linked iff some cross-cell core pair is
      // ε-close). Labels are unchanged — min core key per component is
      // min over the component's cells of each cell's min key. This cut
      // the recursive closure from ~10^6 core-pair rows (125-290 s — it
      // blew the driver's round-7 correctness window) to ~dozens of cell
      // rows (3.6 s), bit-identical on the gate input and on 12
      // randomized multi-cluster/border/noise property trials.
      """WITH RECURSIVE
        |pts AS (SELECT p_partkey AS k, CAST(p_size AS DOUBLE) AS f1,
        |               CAST(p_retailprice AS DOUBLE) AS f2 FROM part
        |        WHERE p_partkey <= 2000),
        |mm AS (SELECT MIN(f1) AS lo1, MAX(f1) AS hi1, MIN(f2) AS lo2, MAX(f2) AS hi2 FROM pts),
        |n AS (SELECT k,
        |        CASE WHEN hi1 = lo1 THEN 0.0 ELSE (f1 - lo1) / (hi1 - lo1) END AS x,
        |        CASE WHEN hi2 = lo2 THEN 0.0 ELSE (f2 - lo2) / (hi2 - lo2) END AS y
        |      FROM pts, mm),
        |e AS (SELECT a.k AS ka, b.k AS kb FROM n a JOIN n b
        |      ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0625),
        |core AS (SELECT ka AS k FROM e GROUP BY ka HAVING COUNT(*) >= 5),
        |cp AS (SELECT n.k, n.x, n.y,
        |              CAST(floor(n.x / 0.17) AS BIGINT) AS cx,
        |              CAST(floor(n.y / 0.17) AS BIGINT) AS cy
        |       FROM n JOIN core ON core.k = n.k),
        |cellmin AS (SELECT cx, cy, MIN(k) AS cm FROM cp GROUP BY cx, cy),
        |ce AS (SELECT DISTINCT am.cm AS ka, bm.cm AS kb
        |       FROM cp a JOIN cp b
        |         ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.0625
        |       JOIN cellmin am ON am.cx = a.cx AND am.cy = a.cy
        |       JOIN cellmin bm ON bm.cx = b.cx AND bm.cy = b.cy),
        |reach(id, r) AS (
        |  SELECT ka, kb FROM ce
        |  UNION
        |  SELECT ce.ka, reach.r FROM ce JOIN reach ON ce.kb = reach.id),
        |compc AS (SELECT id, LEAST(id, MIN(r)) AS lbl FROM reach GROUP BY id),
        |comp AS (SELECT cp.k AS id, compc.lbl AS lbl
        |         FROM cp JOIN cellmin ON cellmin.cx = cp.cx AND cellmin.cy = cp.cy
        |         JOIN compc ON compc.id = cellmin.cm),
        |border AS (SELECT e.ka AS k, MIN(comp.lbl) AS lbl
        |           FROM e JOIN core c ON c.k = e.kb JOIN comp ON comp.id = e.kb
        |           WHERE e.ka NOT IN (SELECT k FROM core)
        |           GROUP BY e.ka)
        |SELECT n.k AS p_partkey,
        |  COALESCE(comp.lbl, border.lbl, -1) AS category_dbscan
        |FROM n LEFT JOIN comp ON comp.id = n.k LEFT JOIN border ON border.k = n.k""".stripMargin) { (s, dir) =>
      // key-bounded input (chart-feeder scale, like the reference's
      // 400-row cap): keeps the oracle's transitive closure O(bound²)
      // at every scale factor; the operator itself is unbounded
      CoreT.dbscan(Tables.part(s, dir).where(col("p_partkey") <= 2000),
        features = Seq("p_size", "p_retailprice"),
        carry = Seq("p_partkey")).get
        .withColumnRenamed("Category by DBSCAN", "category_dbscan")
    },
    Query("q_coret_tsne", DumpFirst)(TsneOracle.sql) { (s, dir) =>
      // key-bounded input (TsneOracle.GateKeyBound, round 8): the
      // oracle's GD fold is O(n²) per phase × 2000 phases, so the
      // bound is what keeps its replay (~18 s at 64 rows vs 45 s at
      // sf0.01's full 100) inside the gate's DuckDB budget — and
      // makes it sf-independent; the operator itself is unbounded
      // (up to its documented 2000-row driver cap)
      CoreT.tsne(Tables.supplier(s, dir).where(col("s_suppkey") <= TsneOracle.GateKeyBound),
        features = Seq("s_nationkey", "s_acctbal"),
        carry = Seq("s_suppkey")).get
        .withColumnRenamed("tSNE-1", "tsne_1").withColumnRenamed("tSNE-2", "tsne_2")
    },
    Query("q_coret_mds")(mdsOracle) { (s, dir) =>
      CoreT.mds(Tables.supplier(s, dir),
        features = Seq("s_nationkey", "s_acctbal"),
        carry = Seq("s_suppkey")).get
        .withColumnRenamed("MDS-1", "mds_1").withColumnRenamed("MDS-2", "mds_2")
    },
    Query("q_coret_umap", DumpFirst)(UmapOracle.sql) { (s, dir) =>
      // epochs pinned to UmapOracle.GateEpochs (30 since round 8 —
      // the 150-epoch replay alone cost 321s of DuckDB time and the
      // driver's correctness window expired two rounds running; see
      // the GateEpochs scaladoc for the budget math) so the oracle's
      // per-event replay fold stays affordable (like kmeans pins
      // fitCap=2000); the operator default stays 300. The gate checks
      // replay EXACTNESS; UmapQualitySpec pins neighborhood
      // preservation at the 300-epoch default.
      CoreT.umap(Tables.supplier(s, dir).where(col("s_suppkey") <= UmapOracle.GateKeyBound),
        features = Seq("s_nationkey", "s_acctbal"),
        carry = Seq("s_suppkey"), epochs = UmapOracle.GateEpochs).get
        .withColumnRenamed("UMAP-1", "umap_1").withColumnRenamed("UMAP-2", "umap_2")
    }
  )
}
