package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SparkProbeSpec extends AnyFunSuite {

  private def metric(p: SparkProbe, ws: Seq[Window], kind: String, name: String): Double =
    p.metrics(ws, kind).collectFirst { case (n, v, _) if n == s"spark.$kind.$name" => v }.get

  test("a stage counts as run only in the window it was submitted in") {
    val p = new SparkProbe
    val ws = Seq(Window("search", 0, 100), Window("search", 200, 300), Window("refine", 400, 500))
    // request 1 runs stages 1 and 2
    p.jobStarted(1, 10, Seq(1, 2))
    p.stageSubmitted(1, 0, 12)
    p.stageSubmitted(2, 0, 20)
    p.taskEnded(1, 0, ok = true, 100, 0, 5, 1000)
    p.taskEnded(1, 0, ok = true, 100, 0, 5, 1000)
    p.taskEnded(2, 0, ok = false, 0, 0, 0, 0)
    // request 2 reuses shuffle stage 1 (same id, not submitted again) and runs stage 3
    p.jobStarted(2, 210, Seq(1, 3))
    p.stageSubmitted(3, 0, 215)
    p.taskEnded(3, 0, ok = true, 0, 0, 0, 500)
    // a refine reuses stage 1 and runs nothing
    p.jobStarted(3, 410, Seq(1))

    assert(metric(p, ws, "search", "jobs") == 2)
    assert(metric(p, ws, "search", "stages") == 3)
    assert(metric(p, ws, "search", "tasks") == 4)
    assert(metric(p, ws, "search", "failed_tasks") == 1)
    assert(metric(p, ws, "search", "skipped_stage_ratio") == 0.25) // stage 1 in request 2, of 4 listed
    assert(metric(p, ws, "refine", "jobs") == 1)
    assert(metric(p, ws, "refine", "stages") == 0)
    assert(metric(p, ws, "refine", "tasks") == 0)
    assert(metric(p, ws, "refine", "skipped_stage_ratio") == 1.0)
  }

  test("a retried stage attempt counts as a second run, with its own tasks") {
    val p = new SparkProbe
    val ws = Seq(Window("query", 0, 100))
    p.jobStarted(1, 1, Seq(7))
    p.stageSubmitted(7, 0, 2)
    p.taskEnded(7, 0, ok = false, 0, 0, 0, 0)
    p.stageSubmitted(7, 1, 50)
    p.taskEnded(7, 1, ok = true, 0, 0, 0, 0)
    assert(metric(p, ws, "query", "stages") == 2)
    assert(metric(p, ws, "query", "tasks") == 2)
    assert(metric(p, ws, "query", "failed_tasks") == 1)
    assert(metric(p, ws, "query", "skipped_stage_ratio") == 0.0)
  }
}
