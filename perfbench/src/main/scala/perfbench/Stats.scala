package perfbench

/** Order statistics and the result line's JSON. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
      .stripTrailingZeros().toPlainString

  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** `{"name": {"value": v, "unit": u}, ...}` in the given order. */
  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString("{", ", ", "}")
}
