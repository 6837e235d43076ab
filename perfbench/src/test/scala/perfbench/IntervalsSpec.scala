package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  private def counters(jobs: (Long, Long)*): Counters = {
    val c = new Counters
    c.jobIntervals ++= jobs
    c
  }

  test("overlapping jobs count once") {
    // [0,10) and [5,15) cover 15 ms; [20,30) covers 10 more
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 40L) == 25L)
  }

  test("nested and repeated jobs count once") {
    assert(Intervals.unionLength(Seq((0L, 30L), (5L, 10L), (5L, 10L), (29L, 30L)), 0L, 30L) == 30L)
  }

  test("jobs are clipped to the window") {
    assert(Intervals.unionLength(Seq((-10L, 5L), (35L, 50L)), 0L, 40L) == 10L)
    assert(Intervals.unionLength(Seq((50L, 60L)), 0L, 40L) == 0L)
  }

  test("touching jobs leave no gap") {
    assert(Intervals.unionLength(Seq((10L, 20L), (0L, 10L)), 0L, 20L) == 20L)
  }

  test("driver-only time is the window minus the union of its jobs") {
    val c = counters((1000L, 3000L), (2000L, 4000L), (6000L, 7000L))
    assert(LayerMetrics.driverOnlySeconds(c, 0L, 10000L) == 6.0)
    assert(LayerMetrics.driverOnlySeconds(counters(), 0L, 10000L) == 10.0)
    assert(LayerMetrics.driverOnlySeconds(counters((0L, 10000L), (2000L, 3000L)), 0L, 10000L) == 0.0)
  }
}
