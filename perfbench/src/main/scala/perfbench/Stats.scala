package perfbench

/** Order statistics for latency samples.
  *
  * Percentiles use the nearest-rank rule: the p-th percentile of n sorted
  * samples is the sample at rank ceil(p/100 * n). A percentile is only
  * reported when at least [[MinBeyond]] samples lie beyond its rank, so a
  * p90 needs at least 100 samples; below that the tail is too thin to
  * compare between runs. */
object Stats {

  val MinBeyond = 10

  private def rank(n: Int, p: Double): Int = {
    require(n > 0, "no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
  }

  /** Number of samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Whether the p-th percentile of n samples may be reported. */
  def reportable(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  /** Nearest-rank percentile, regardless of sample count. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** The p-th percentile when [[reportable]], otherwise None. */
  def tail(xs: Seq[Double], p: Double): Option[Double] =
    if (reportable(xs.size, p)) Some(percentile(xs, p)) else None

  /** Geometric mean: each sample weighs the same in ratio terms, so one
    * slow kind of call cannot dominate a mix of heterogeneous calls (the
    * way TPC-H's power metric summarizes its queries). */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Median, averaging the two middle samples of an even-sized set. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
