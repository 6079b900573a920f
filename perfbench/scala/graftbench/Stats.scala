package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** The highest whole percentile that still has at least `beyond` samples
    * above its nearest rank, or None when there are too few samples for
    * any tail percentile (n <= beyond). With n = 100 this is p90; with
    * n = 30 it is p66.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None
    else {
      var p = 99
      while (p > 0 && n - math.ceil(p / 100.0 * n).toInt < beyond) p -= 1
      if (p >= 50) Some(p) else None
    }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `span` not covered by any of `cover` (each clipped to it). */
  def uncovered(span: (Long, Long), cover: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = cover.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    (e - s) - unionLength(clipped)
  }
}
