package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the reported tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.highestPercentile(100).contains(90.0))
    assert(Stats.highestPercentile(99).contains(75.0)) // 9.9 samples beyond p90
    assert(Stats.highestPercentile(199).contains(90.0)) // 9.95 beyond p95
    assert(Stats.highestPercentile(200).contains(95.0))
    assert(Stats.highestPercentile(1000).contains(99.0))
    assert(Stats.highestPercentile(10000).contains(99.9))
    assert(Stats.highestPercentile(40).contains(75.0))
    assert(Stats.highestPercentile(20).contains(50.0))
    assert(Stats.highestPercentile(19).isEmpty)
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0 && Stats.quantile(xs, 1.0) == 4.0)
    assert(math.abs(Stats.quantile((1 to 101).map(_.toDouble), 0.9) - 91.0) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("the geometric mean weighs every step the same in relative terms") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
    // doubling any one of n steps moves it by the same factor 2^(1/n)
    val base = Stats.geomean(Seq(10.0, 1000.0, 100.0))
    assert(math.abs(Stats.geomean(Seq(20.0, 1000.0, 100.0)) / base - math.pow(2, 1.0 / 3)) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(10.0, 2000.0, 100.0)) / base - math.pow(2, 1.0 / 3)) < 1e-12)
    assert(Stats.mean(Seq(1.0, 2.0, 6.0)) == 3.0)
  }
}
