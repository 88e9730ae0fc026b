package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  private val TailCandidates = Seq(99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** The highest candidate percentile with at least ten samples above
    * its rank; the median when there are too few samples for any. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    TailCandidates.find(p => n - math.ceil(p / 100 * n) >= 10) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (50.0, median(xs))
    }
  }
}
