package etlbench

/** Order statistics over op timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it, as
    * (percentile, value, samples); None when that percentile is not above
    * the median, so a tail is never a second name for the median.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double, Int)] = {
    val s = xs.sorted
    val n = s.size
    val i = n - beyond - 1
    if (i < 0) None
    else {
      val v = s(i)
      if (v <= median(s)) None
      else Some((math.floor(100.0 * (i + 1) / n).toInt, v, n))
    }
  }

  /** Relative distance between the medians of the first and second half. */
  def halfDrift(xs: Seq[Double]): (Double, Double, Double) = {
    val (a, b) = xs.splitAt(xs.size / 2)
    val ma = median(a)
    val mb = median(b)
    (ma, mb, math.abs(mb - ma) / ma)
  }
}
