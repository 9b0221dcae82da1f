package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {

  test("the union of intervals counts overlapping time once and clips to the window") {
    assert(SelfTime.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0)), 0, 100) == 20.0)
    assert(SelfTime.unionLength(Seq((0.0, 10.0), (2.0, 3.0)), 0, 100) == 10.0)
    assert(SelfTime.unionLength(Seq((-5.0, 5.0), (8.0, 30.0)), 0, 20) == 17.0)
    assert(SelfTime.unionLength(Nil, 0, 10) == 0.0)
  }

  test("self time subtracts children once even when concurrent jobs overlap") {
    val req = Span(1, "vis.search", 0, 100, -1, 0)
    // three concurrent jobs covering [10, 60) and one later job [70, 80)
    val jobs = Seq(Span(2, "spark.job", 10, 40, 1, 0), Span(3, "spark.job", 20, 60, 1, 0),
      Span(4, "spark.job", 30, 35, 1, 0), Span(5, "spark.job", 70, 80, 1, 0))
    assert(SelfTime.of(req, jobs) == 40.0) // 100 minus [10, 60) and [70, 80)
    val table = SelfTime.byName(req +: jobs)
    assert(table("vis.search") == ((1, 100.0, 40.0)))
    assert(table("spark.job") == ((4, 85.0, 85.0)))
  }

  test("nested spans: a layer's self time excludes its children, not its grandchildren") {
    val root = Span(1, "vis.search", 0, 100, -1, 0)
    val layer = Span(2, "plans.search", 10, 90, 1, 0)
    val job = Span(3, "spark.job", 20, 50, 2, 0)
    val t = SelfTime.byName(Seq(root, layer, job))
    assert(t("vis.search")._3 == 20.0)
    assert(t("plans.search")._3 == 50.0)
  }

  test("the tracer records parent and request ids, and nothing when disabled") {
    val on = new Tracer(true)
    on.request("a")(on.span("b")(()))
    on.request("c")(())
    val spans = on.all.sortBy(_.id)
    assert(spans.map(_.name) == Seq("a", "b", "c"))
    assert(spans(1).parent == spans(0).id && spans(0).parent == -1)
    assert(spans(0).request == spans(1).request && spans(2).request != spans(0).request)
    val off = new Tracer(false)
    off.request("a")(())
    assert(off.all.isEmpty)
  }
}
