package perfbench

/** Order statistics used by every metric the benchmark reports. */
object Stats {

  /** Nearest-rank percentile (p in 0..100) of unsorted values; NaN if empty. */
  def percentile(values: Seq[Double], p: Double): Double =
    if (values.isEmpty) Double.NaN
    else {
      val s = values.sorted
      val rank = math.ceil(p / 100.0 * s.length).toInt
      s(math.min(s.length - 1, math.max(0, rank - 1)))
    }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0 else values.sum / values.length

  /** Samples strictly above the nearest-rank percentile position. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(p / 100.0 * n).toInt

  val TailLevels: Seq[Int] = Seq(99, 95, 90)

  /** The tail rule: the highest of p99, p95 and p90 that has at least ten
    * samples beyond it, or None when even p90 has fewer than ten. */
  def tailLevel(n: Int): Option[Int] = TailLevels.find(p => beyond(n, p) >= 10)
}
