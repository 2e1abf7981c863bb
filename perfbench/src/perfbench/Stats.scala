package perfbench

object Stats {
  /** Linear-interpolation quantile (numpy's default), p in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: with fewer than 20 samples the tail is the median.
    * Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = math.max(0.5, 1.0 - 10.0 / xs.size)
    (quantile(xs, p), p)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def seconds(body: => Unit): Double = time(body)._2
}
