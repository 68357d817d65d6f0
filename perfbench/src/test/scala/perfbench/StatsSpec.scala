package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("percentile interpolates between order statistics") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.percentile(ramp(11), 90) == 10.0)
  }

  test("tail picks the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tail(ramp(10000))._1 == 99.9) // 10 beyond p99.9
    assert(Stats.tail(ramp(9999))._1 == 99.0)  // 9.999 beyond p99.9: not enough
    assert(Stats.tail(ramp(1000))._1 == 99.0)
    assert(Stats.tail(ramp(200))._1 == 95.0)
    assert(Stats.tail(ramp(199))._1 == 90.0)
    assert(Stats.tail(ramp(100))._1 == 90.0)
    assert(Stats.tail(ramp(40))._1 == 75.0)
    assert(Stats.tail(ramp(20))._1 == 50.0)
  }

  test("tail falls back to the maximum below 20 samples") {
    assert(Stats.tail(ramp(19)) == (100.0, 19.0))
    assert(Stats.tail(Seq(7.0)) == (100.0, 7.0))
  }

  test("geomean weighs a relative change in any value the same") {
    assert(math.abs(Stats.geomean(Seq(2.0, 8.0)) - 4.0) < 1e-12)
    val base = Stats.geomean(Seq(10.0, 1000.0, 50.0))
    val cheapFaster = Stats.geomean(Seq(5.0, 1000.0, 50.0))
    val dearFaster = Stats.geomean(Seq(10.0, 500.0, 50.0))
    assert(math.abs(cheapFaster - dearFaster) < 1e-9 && cheapFaster < base)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("the tail value is the interpolated percentile of the chosen rung") {
    val xs = ramp(200)
    assert(Stats.tail(xs)._2 == Stats.percentile(xs, 95))
  }
}
