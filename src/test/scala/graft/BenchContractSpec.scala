package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the Bench→driver output contract.
  *
  * The driver tail-captures ~2 KB of Bench's COMBINED stdout+stderr and
  * JSON-parses the last line. Rounds 6 and 7 both shipped `"parsed":
  * null` artifacts because output printed after the contract line
  * pushed it out of that window. The contract line itself must fit the
  * window with margin (< 1.85 KB even with worst-case 4-digit-second
  * values) as the headline grows. Every headline name is a registered
  * query by construction ([[Bench.headline]] reads the registry).
  */
class BenchContractSpec extends AnyFunSuite {

  test("contract line stays under the driver's ~2KB tail-capture window") {
    // Worst case: every query slow (4 integer digits), hot-start n=4,
    // and full-width loadavg fields.
    val worst = Bench.headline.map(n =>
      n -> Vector(9999.999, 9999.999, 9999.999, 9999.999))
    // worst suspect payload: EVERY query suspect — the adaptive cap
    // must fold names into the "+K" overflow until the line fits
    val allSuspect = Bench.headline.sortBy(-_.length)
    val line = Bench.contractLine(worst, "/root/testdata/sf0.1",
      "99.99 99.99 99.99", "99.99 99.99 99.99", hotStart = true,
      busyFrac = -1.0, suspect = allSuspect)
    // 1850, not 1800: the driver tail-captures ~2048 bytes and the
    // rounds-6/7 evictions were output AFTER the line, not length —
    // 1850 leaves ~200 bytes of newline/launcher margin while making
    // room for the always-present (possibly overflow-only) suspect field
    assert(line.length < 1850,
      s"contract line is ${line.length} bytes; driver tail-captures ~2KB — " +
        "trim query names or split the headline list")
    assert(!line.contains("\n"))
    assert(line.contains("\"suspect\":["), "suspect field must survive trimming")
    assert(line.matches(""".*"\+\d+"\].*"""),
      "overflow marker must record the trimmed suspect count")
    // the realistic shape — sub-10s queries, a couple of suspects —
    // ships full names
    val realistic = Bench.headline.map(n => n -> Vector(1.234, 1.234))
    val line2 = Bench.contractLine(realistic, "/root/testdata/sf0.1",
      suspect = Seq("q_sim_ivfpq_topk", "q_lm_buckets"))
    assert(line2.contains("\"suspect\":[\"q_sim_ivfpq_topk\",\"q_lm_buckets\"]"))
    assert(line2.length < 1850)
  }

  test("suspect adjudication: trigger math, n=5 cap list, medians parsing") {
    val prior = Map("q_slow" -> 3.0, "q_fast" -> 0.1)
    // 3x + 0.5s absolute: 9.2 > 9.0 and > 3.5 — suspect
    assert(Bench.isSuspect("q_slow", Vector(9.2, 10.0), prior))
    // 3x not met
    assert(!Bench.isSuspect("q_slow", Vector(8.9), prior))
    // sub-second noise: 0.4 > 3x0.1 but not > med+0.5 — NOT suspect
    assert(!Bench.isSuspect("q_fast", Vector(0.4), prior))
    assert(Bench.isSuspect("q_fast", Vector(0.7), prior))
    // unknown query / failed run never trigger
    assert(!Bench.isSuspect("q_new", Vector(99.0), prior))
    assert(!Bench.isSuspect("q_slow", Vector(-1.0), prior))
    assert(Bench.suspectOf(
      Seq("q_slow" -> Vector(9.2), "q_fast" -> Vector(0.2)), prior) == Seq("q_slow"))
    // the real prior artifact parses and covers the headline
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("MEDIANS_r13.json")), "UTF-8")
    val parsed = Bench.parseMedians(raw)
    assert(parsed.nonEmpty && parsed.contains("q_sim_ivfpq_topk"))
    assert(math.abs(parsed("q_sim_ivfpq_topk") - 0.663) < 1e-9)
    // sf guard: a medians artifact from a different scale factor is
    // ignored (3x of an sf0.1 median means nothing at sf0.001)
    assert(Bench.parseMedians(raw, "/root/testdata/sf0.1").nonEmpty)
    assert(Bench.parseMedians(raw, "/root/testdata/sf0.001").isEmpty)
    // the writer is the reader's format: a written line parses back to
    // its medians, through the sf guard too, byte for byte as recorded;
    // a query whose every run failed (−1) stays out of the totals
    val written = Bench.mediansLine(Seq(("q_a", 1.234, 1.2), ("q_b", 0.051, 0.05),
      ("q_c", -1.0, -1.0)), 3, "data/sf0.1", "0.10;0.20")
    assert(written == """{"metric":"median_total","value":1.285,"unit":"sec","n":3,""" +
      """"min_total":1.250,"sf":"data/sf0.1","load":"0.10;0.20","queries":""" +
      """{"q_a":{"med":1.234,"min":1.200},"q_b":{"med":0.051,"min":0.050},""" +
      """"q_c":{"med":-1.000,"min":-1.000}}}""")
    val meds = Map("q_a" -> 1.234, "q_b" -> 0.051)
    assert(Bench.parseMedians(written) == meds)
    assert(Bench.parseMedians(written, "data/sf0.1/") == meds)
    assert(Bench.parseMedians(written, "data/sf0.01").isEmpty)
    // malformed input degrades to empty, never throws
    assert(Bench.parseMedians("not json").isEmpty)
    assert(Bench.parseMedians("{}").isEmpty)
  }
}
