package perfbench

/** Order statistics for the benchmark's reports. */
object Stats {

  /** Samples that must lie strictly beyond a tail percentile before it is
    * reported: fewer and the percentile is one or two outliers, not a tail.
    */
  val MinBeyond = 10

  /** Nearest-rank rank (1-based) of percentile `q` in `n` samples. */
  private def rank(n: Int, q: Double): Int =
    math.max(1, math.min(n, math.ceil(q / 100.0 * n - 1e-9).toInt))

  /** Nearest-rank percentile; NaN on no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply(rank(xs.size, q) - 1)

  /** Classic median (mean of the two middle samples on an even count). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Samples strictly beyond the nearest-rank percentile `q`. */
  def beyond(n: Int, q: Double): Int = if (n == 0) 0 else n - rank(n, q)

  /** The tail rule: percentile `q` of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie beyond it.
    */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (beyond(xs.size, q) >= MinBeyond) Some(pct(xs, q)) else None

  /** Total length of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
