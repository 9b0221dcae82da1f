package graft

/** Value-level pin for q_recommend_charts — the full search pipeline
  * has no tractable SQL oracle, so its gate check replays the pinned
  * output as a VALUES literal ([[RecommendGolden.valuesOracle]]).
  * This spec asserts the pipeline still produces EXACTLY the pinned
  * rows (all four columns) on the gate fixture (customer at sf0.01,
  * default config). Everything feeding these numbers is deterministic
  * by construction (canonical-order fits, seeded draws,
  * partition-independent rank/nominalize), so an exact match is the
  * correct expectation — a drift here means the search pipeline's
  * semantics changed, and the pin should only be regenerated for a
  * deliberate change (dump /tmp/out/q_recommend_charts from Verify,
  * then update [[RecommendGolden.rows]] — spec AND oracle share it).
  *
  * Pin history: regenerated round 7 for one deliberate scale-behavior
  * change — searchEmbedSampleFit is now ON by default (types.scala),
  * so at the 1500-row gate fixture the mds/tsne/umap channels run the
  * digest-sampled bounded fit + out-of-sample transform
  * (CoreT.embedSampled) instead of being skipped (tsne/umap) or
  * exact-fitted (mds). Rounds ≤6 pins are reproducible with
  * searchEmbedSampleFit=false.
  */
class RecommendGoldenSpec extends SparkSpec {

  test("golden: q_recommend_charts gate fixture — exact 4-column row set") {
    val df = SparkEntry.queries("q_recommend_charts")(spark, "/root/testdata/sf0.01")
    val got = df.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getString(2), r.getString(3))).toSet
    val expected = RecommendGolden.rows.toSet
    val gotSigs = got.map(_._3)
    val expSigs = expected.map(_._3)
    assert(gotSigs == expSigs,
      s"signature drift:\n+${(gotSigs -- expSigs).mkString("\n+")}" +
        s"\n-${(expSigs -- gotSigs).mkString("\n-")}")
    assert(got == expected, {
      val drift = (got -- expected) ++ (expected -- got)
      s"row drift (score/chart_type/channels):\n${drift.mkString("\n")}"
    })
  }

  test("oracle literal is bit-exact: every score round-trips through its SQL integer ratio") {
    // mirror of doubleLit's guarantee, evaluated in the JVM: n/2^k
    // must divide back to the pinned double exactly (IEEE division of
    // exactly-representable operands is correctly rounded)
    val lit = raw"\(CAST\((-?\d+) AS DOUBLE\) / (\d+)\)|CAST\((-?\d+) AS DOUBLE\)".r
    val sql = RecommendGolden.valuesOracle
    assert(lit.findAllMatchIn(sql).size == RecommendGolden.rows.size)
    RecommendGolden.rows.foreach { case (_, score, sig, _) =>
      // reconstruct from the emitted SQL fragment for this row
      val row = sql.linesIterator.find(_.contains(s"'${sig.replace("'", "''")}'")).get
      lit.findFirstMatchIn(row) match {
        case Some(m) if m.group(1) != null =>
          val v = m.group(1).toDouble / m.group(2).toLong
          assert(v == score, s"$sig: $v != $score")
        case Some(m) =>
          assert(m.group(3).toDouble == score, s"$sig literal mismatch")
        case None => fail(s"no score literal found for $sig")
      }
    }
  }

  test("oracle is exact END TO END: DuckDB parses the pin bit-for-bit and a 1-ulp perturbation fails the gate compare") {
    // The JVM round-trip above proves doubleLit's arithmetic; this
    // drives the actual gate machinery: DuckDB executes the VALUES
    // SQL, tools/check.py's compare/normalize judge it against the
    // pinned doubles (reconstructed from raw IEEE bits, no text
    // round-trip), and the same compare must REJECT an oracle whose
    // one score moved by a single ulp. Skipped when the driver-side
    // python/duckdb stack is absent (it is not a library dependency).
    import scala.sys.process._
    val py = try ("python3 -c \"import duckdb, pandas, numpy\"".! == 0)
             catch { case _: Throwable => false }
    assume(py, "python3+duckdb not available")
    assume(new java.io.File("tools/check.py").exists(), "tools/check.py not found")
    val dir = java.nio.file.Files.createTempDirectory("pinprobe")
    def put(name: String, s: String) =
      java.nio.file.Files.writeString(dir.resolve(name), s)
    put("oracle.sql", RecommendGolden.valuesOracle)
    put("perturbed.sql", RecommendGolden.perturbedOracle(0))
    put("pins.json", RecommendGolden.rows.map { case (ct, score, sig, ch) =>
      val esc = (x: String) => x.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""["${esc(ct)}", ${java.lang.Double.doubleToLongBits(score)}, "${esc(sig)}", "${esc(ch)}"]"""
    }.mkString("[", ",", "]"))
    put("probe.py",
      """import sys, json
        |sys.path.insert(0, "tools")
        |import duckdb, numpy as np, pandas as pd
        |import check
        |d = sys.argv[1]
        |pins = json.load(open(d + "/pins.json"))
        |df_p = pd.DataFrame({
        |    "chart_type": [r[0] for r in pins],
        |    "score": np.array([r[1] for r in pins], dtype=np.int64).view(np.float64),
        |    "signature": [r[2] for r in pins],
        |    "channels": [r[3] for r in pins]})
        |df_o = duckdb.sql(open(d + "/oracle.sql").read()).df()
        |print("R1=" + check.compare(check.normalize(df_p.copy()), check.normalize(df_o)))
        |df_q = duckdb.sql(open(d + "/perturbed.sql").read()).df()
        |print("R2=" + check.compare(check.normalize(df_p.copy()), check.normalize(df_q)))
        |""".stripMargin)
    val out = new StringBuilder
    val code = Process(Seq("python3", dir.resolve("probe.py").toString,
      dir.toString), new java.io.File(".")) ! ProcessLogger(l => out.append(l).append('\n'))
    assert(code == 0, s"probe failed:\n$out")
    val lines = out.toString.linesIterator.toSeq
    assert(lines.exists(_ == "R1=OK"),
      s"pinned oracle did not reproduce the doubles bit-for-bit:\n$out")
    assert(lines.exists(l => l.startsWith("R2=VAL col=score")),
      s"1-ulp perturbation was NOT rejected — gate compare is tolerant:\n$out")
  }
}
