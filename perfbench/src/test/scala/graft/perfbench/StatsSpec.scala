package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile is nearest-rank and reports its sample count") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == ((5.0, 10)))
    assert(Stats.percentile(xs, 90) == ((9.0, 10)))
    assert(Stats.percentile(xs, 99) == ((10.0, 10)))
    assert(Stats.percentile(xs.reverse, 90) == ((9.0, 10)))
    // 16 samples: p90 is rank ceil(14.4) = 15, one sample beyond it
    assert(Stats.percentile((1 to 16).map(_.toDouble), 90) == ((15.0, 16)))
    assert(Stats.percentile(Seq(3.0), 50) == ((3.0, 1)))
    val (v, n) = Stats.percentile(Nil, 50)
    assert(v.isNaN && n == 0)
  }

  test("median averages the two middle samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("failed_frac is failed over attempted and refuses an empty run") {
    assert(Stats.failedFrac(0, 16) == 0.0)
    assert(Stats.failedFrac(4, 16) == 0.25)
    assertThrows[IllegalArgumentException](Stats.failedFrac(0, 0))
    assertThrows[IllegalArgumentException](Stats.failedFrac(17, 16))
  }

  test("sched gap is the window time no task covers") {
    // window 0..100; tasks 10..30 and 20..40 overlap, 60..70, one past the end
    val tasks = Seq((10L, 30L), (20L, 40L), (60L, 70L), (95L, 130L))
    assert(Stats.coveredLength(0, 100, tasks) == 30 + 10 + 5)
    assert(Stats.schedGap(0, 100, tasks) == 55)
    assert(Stats.schedGap(0, 100, Nil) == 100)
    assert(Stats.schedGap(0, 100, Seq((0L, 100L), (10L, 20L))) == 0)
    // tasks wholly outside the window count for nothing
    assert(Stats.schedGap(50, 60, Seq((0L, 40L), (70L, 80L))) == 10)
  }

  test("busy time sums overlapping tasks inside the window") {
    val tasks = Seq((0L, 100L), (0L, 100L), (50L, 100L), (90L, 150L))
    assert(Stats.busyMs(0, 100, tasks) == 260)
    // task_busy_frac: busy time over 4 slots times the window
    assert(Stats.ratio(Stats.busyMs(0, 100, tasks).toDouble, 4.0 * 100) == 0.65)
  }

  test("efficiency ratios divide the job's rate by the bare rate, 0 without a base") {
    // spawn: 146 files/s through the job against 640 bare
    assert(math.abs(Stats.ratio(146.0, 640.0) - 0.228125) < 1e-12)
    // pump: 214 MiB/s against 428 bare
    assert(Stats.ratio(214.0, 428.0) == 0.5)
    // a workload that never ran the layer reports 0, not NaN
    assert(Stats.ratio(146.0, 0.0) == 0.0)
  }
}
