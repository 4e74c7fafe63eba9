package perfbench

/** The little JSON and statistics the benchmark needs, without extra jars. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def metric(value: Double, unit: String): String = s"""{"value":${num(value)},"unit":${str(unit)}}"""
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Weighted quantile: the smallest value whose cumulative weight reaches
    * `q` of the total. Used for "epoch latency seen by a fetched page".
    */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return Double.NaN
    val total = s.map(_._2).sum.toDouble
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= q * total }.getOrElse(s.last)._1
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
