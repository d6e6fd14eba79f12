package perfbench

/** Order statistics for the benchmark's samples. Medians are the
  * reported central value everywhere; an upper percentile is reported
  * only when at least [[MinBeyond]] samples lie beyond it, so a p95 over
  * a handful of samples (which would just be the maximum) never appears
  * as if it were a tail estimate. */
object Stats {

  /** Samples that must lie strictly above a reported percentile. */
  val MinBeyond = 10

  /** Median; an even count averages the middle two. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` in (0, 1): the sample at rank
    * ceil(p * n). `None` unless at least [[MinBeyond]] samples rank
    * above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(p * n).toInt
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Percentiles tried, highest first, for [[summary]]. */
  val Upper = Seq(0.99, 0.95, 0.9, 0.75, 0.5)

  /** Median, sample count, and the highest of [[Upper]] the samples
    * support (null when none does). */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val upper = Upper.iterator.map(p => p -> percentile(xs, p)).collectFirst {
      case (p, Some(v)) => (p, v)
    }
    Map("median" -> median(xs), "n" -> xs.size,
      "upper_pct" -> upper.map(_._1), "upper" -> upper.map(_._2))
  }

  /** Union length of possibly overlapping [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
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
}
