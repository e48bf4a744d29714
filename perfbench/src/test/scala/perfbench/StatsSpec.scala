package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs at least 10 samples beyond it") {
    assert(Stats.supportedPercentile(0).isEmpty)
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(39).contains(50.0))
    assert(Stats.supportedPercentile(40).contains(75.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(199).contains(90.0))
    assert(Stats.supportedPercentile(200).contains(95.0))
    assert(Stats.supportedPercentile(999).contains(95.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(10000).contains(99.9))
  }

  test("the summary reports the median, the supported tail and the count") {
    val xs = (1 to 100).map(_.toDouble)
    val s = Stats.summary(xs)
    assert(s.n == 100 && s.median == 50.5)
    assert(s.tail.contains(90.0 -> 90.0))
    assert(Stats.summary(Seq(3.0, 1.0, 2.0)).tail.isEmpty)
    // at least 10 samples lie above the reported tail value
    assert(xs.count(_ > s.tail.get._2) >= 10)
  }

  test("union of intervals counts overlaps once") {
    assert(Main.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Main.covered(Nil) == 0L)
  }
}
