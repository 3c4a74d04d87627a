package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs.reverse, 10) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("a percentile is reported only with 10 samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.reportable(100, 90))
    assert(Stats.beyond(99, 90) == 9)
    assert(!Stats.reportable(99, 90))
    assert(Stats.reportable(20, 50))
    assert(!Stats.reportable(19, 50))
    assert(Stats.samplesFor(50) == 20)
    assert(Stats.samplesFor(90) == 100)
    assert(Stats.samplesFor(99) == 1000)
  }
}
