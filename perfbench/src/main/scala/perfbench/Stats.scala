package perfbench

/** Pure summary helpers. */
object Stats {

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`
    * samples: the rank is ceil(p/100 · n), so n − rank samples lie
    * beyond it. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** A percentile is reported only when at least ten samples lie beyond
    * it; a tail read off fewer samples moves with single outliers. */
  def reportable(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= 10

  /** Nearest-rank percentile, or None when `reportable` does not hold. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (!reportable(xs.size, p)) None
    else {
      val s = xs.sorted
      Some(s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The median of a non-empty sample (mean of the middle pair for an
    * even count). Used for values summarised across repetitions, such
    * as set-up times, where the ten-beyond rule does not apply. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Highest percentile among `ps` that `n` samples can report. */
  def highestReportable(n: Int, ps: Seq[Double] = Seq(50, 75, 90, 95, 99)): Option[Double] =
    ps.filter(reportable(n, _)).lastOption
}
