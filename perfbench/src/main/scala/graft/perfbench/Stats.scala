package graft.perfbench

/** The benchmark's pure arithmetic, kept apart so the specs can pin it. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. Returns (value, sample count); the value
    * is NaN when there are no samples.
    */
  def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    if (xs.isEmpty) (Double.NaN, 0)
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      (s(math.max(rank, 1) - 1), s.size)
    }
  }

  /** Median with the two middle samples averaged; NaN when empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Failed or wrong outputs over outputs attempted. */
  def failedFrac(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "nothing attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    failed.toDouble / attempted
  }

  /** `a / b`, or 0 when the base is not positive (the layer did no work). */
  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Total length of the union of `intervals` clipped to [w0, w1]. */
  def coveredLength(w0: Long, w1: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Wall time of [w0, w1] during which no task interval is running. */
  def schedGap(w0: Long, w1: Long, tasks: Seq[(Long, Long)]): Long =
    math.max(w1 - w0, 0L) - coveredLength(w0, w1, tasks)

  /** Summed task time inside [w0, w1]; overlapping tasks each count. */
  def busyMs(w0: Long, w1: Long, tasks: Seq[(Long, Long)]): Long =
    tasks.map { case (s, e) => math.max(math.min(e, w1) - math.max(s, w0), 0L) }.sum

}
