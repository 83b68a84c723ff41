package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a p90 is reportable only with at least ten samples beyond its rank") {
    assert(!Stats.reportable(99, 90))
    assert(Stats.reportable(100, 90))
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.tail((1 to 99).map(_.toDouble), 90).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble), 90).contains(90.0))
  }

  test("a p50 as a reported tail needs twenty samples; the median itself needs one") {
    assert(!Stats.reportable(19, 50))
    assert(Stats.reportable(20, 50))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentiles pick a sample, never interpolate") {
    val xs = Seq(10.0, 20.0, 30.0, 40.0)
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.percentile(Seq(5.0), 90) == 5.0)
  }

  test("the geometric mean weighs every sample equally in ratio terms") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(5.0, 5.0, 5.0)) - 5.0) < 1e-9)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("out-of-range percentiles and empty samples are refused") {
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
