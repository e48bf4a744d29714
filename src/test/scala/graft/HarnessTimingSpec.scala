package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one timing rule of Bench and LadderAdjudicate ([[Harness.time]]),
  * driven by a counting closure instead of a Spark query.
  */
class HarnessTimingSpec extends AnyFunSuite {

  /** A query that counts its runs and fails on run `failAt` (1-based). */
  private final class Counting(failAt: Int = 0) {
    var runs = 0
    def apply(): Unit = {
      runs += 1
      if (runs == failAt) throw new IllegalStateException(s"boom on run $runs")
    }
  }

  test("a successful query runs once cold and WarmRuns = 3 times warm") {
    assert(Harness.WarmRuns == 3)
    val q = new Counting()
    val t = Harness.time(() => q())
    assert(q.runs == 1 + 3)
    assert(t.error.isEmpty && t.warm.size == 3)
    assert(t.cold >= 0 && t.warm.forall(_ >= 0))
  }

  test("median and IQR by nearest rank, on fixed samples given out of order") {
    val t = Harness.Timing(cold = 9.0, warm = Seq(3.0, 1.0, 2.5), error = None)
    assert(t.median == 2.5)
    assert(t.iqr == 3.0 - 1.0) // at three samples, max − min
    // nearest rank, not interpolation: four samples pick real values
    val four = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Harness.percentile(four, 25) == 1.0)
    assert(Harness.percentile(four, 50) == 2.0)
    assert(Harness.percentile(four, 75) == 3.0)
    assert(Harness.Timing(0.0, Seq(7.0), None).iqr == 0.0)
    intercept[IllegalArgumentException](Harness.percentile(Nil, 50))
  }

  test("the first error stops the runs: after the cold run, or at the warm run that failed") {
    val cold = new Counting(failAt = 1)
    val tc = Harness.time(() => cold())
    assert(cold.runs == 1 && tc.warm.isEmpty)
    assert(tc.error.exists(m => m.contains("IllegalStateException") && m.contains("boom on run 1")),
      tc.error)
    val warm = new Counting(failAt = 3) // the second warm run
    val tw = Harness.time(() => warm())
    assert(warm.runs == 3 && tw.warm.size == 2)
    assert(tw.error.exists(_.contains("boom on run 3")), tw.error)
  }
}
