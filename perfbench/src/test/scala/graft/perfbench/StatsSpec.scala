package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile needs ten samples beyond it") {
    assert(Stats.samplesFor(95) == 200)
    assert(Stats.samplesFor(75) == 40)
    assert(Stats.samplesFor(50) == 20)
  }

  test("the percentile helper refuses a tail the sample cannot hold") {
    val xs = (1 to 199).map(_.toDouble)
    val e = intercept[IllegalArgumentException](Stats.percentile(xs, 95))
    assert(e.getMessage.contains("10 samples beyond"))
    assert(math.abs(Stats.percentile(xs :+ 200.0, 95) - 190.05) < 1e-9)
    assert(Stats.percentile((1 to 40).map(_.toDouble), 75) == 30.25)
  }

  test("median interpolates between the middle pair") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
