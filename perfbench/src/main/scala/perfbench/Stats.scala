package perfbench

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Samples strictly beyond quantile q: what makes a percentile credible. */
  def beyond(n: Int, q: Double): Int = n - 1 - math.floor(q * (n - 1)).toInt

  /** "p50 47.1 ms (n=812)" style summary of one latency series. */
  def describe(name: String, ms: Seq[Double]): String =
    if (ms.isEmpty) s"$name n=0"
    else {
      val ps = 0.5 +: Seq(0.95, 0.99).filter(q => beyond(ms.size, q) >= 10)
      val parts = ps.map(q => f"p${(q * 100).toInt}%d=${quantile(ms, q)}%.3f")
      s"$name n=${ms.size} ${parts.mkString(" ")} ms"
    }
}
