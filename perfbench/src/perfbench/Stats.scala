package perfbench

/** Order statistics used by every report. Percentiles are nearest-rank:
  * the p-th percentile of n sorted samples is the sample at rank
  * ceil(p/100 * n), and the samples "beyond" it are the n - rank that
  * follow. A percentile is only reported when at least [[MinBeyond]]
  * samples lie beyond it, so a tail figure never rests on one or two
  * observations. */
object Stats {
  val MinBeyond = 10

  private def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def beyond(p: Double, n: Int): Int = n - rank(p, n)

  /** Nearest-rank percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty || beyond(p, xs.size) < MinBeyond) None
    else Some(xs.sorted.apply(rank(p, xs.size) - 1))

  /** The highest of `ps` that may be reported for `xs`, with its value. */
  def highestReportable(xs: Seq[Double],
      ps: Seq[Double] = Seq(99, 95, 90, 75, 50)): Option[(Double, Double)] =
    ps.sorted.reverse.iterator.flatMap(p => percentile(xs, p).map(p -> _)).nextOption()

  /** The median (mean of the middle pair for even n). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
