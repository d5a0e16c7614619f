package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Candidate tail percentiles, highest first: 99.9, then every whole
    * percentile from 99 down to 50. Whole steps keep the chosen percentile,
    * and so the tail value, moving smoothly as the sample count varies
    * between runs. */
  val TailCandidates: Seq[Double] = 99.9 +: (99 to 50 by -1).map(_.toDouble)

  /** Samples that lie beyond the `p`-th percentile of `n` samples: those
    * ranked after position ceil(n·p/100). Integer arithmetic on tenths of
    * a percent, so 90 of 100 leaves exactly 10 and not 9.99…. */
  def beyond(n: Int, p: Double): Int = {
    val tenths = math.round(p * 10).toLong
    (n - (n.toLong * tenths + 999) / 1000).toInt
  }

  /** The tail percentile: the highest candidate with at least `min`
    * samples beyond it. None when even the median has fewer (n < 2·min). */
  def tailPercentile(n: Int, min: Int = 10): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= min)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** (value, label) of the tail: the tail percentile when the sample
    * supports one, else the median labelled as such. */
  def tail(xs: Seq[Double]): (Double, String) = tailPercentile(xs.length) match {
    case Some(p) => (percentile(xs, p), label(p))
    case None => (median(xs), s"p50 (n=${xs.length} < 20)")
  }

  def label(p: Double): String =
    if (p == p.floor) s"p${p.toInt}" else s"p$p"
}
