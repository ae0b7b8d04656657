package perfbench

object Stats {
  /** Nearest-rank percentile, q in [0, 1]; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  /** The middle value, or the mean of the two middle values; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  /** A JSON number with all its digits; 0 for NaN and infinities. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")

  /** Parse a flat `{"k":number,...}` object as written by [[json]]. */
  def parse(s: String): Map[String, Double] =
    s.trim.stripPrefix("{").stripSuffix("}").split(",").iterator.filter(_.contains(":")).map { kv =>
      val i = kv.lastIndexOf(':')
      kv.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"") -> kv.substring(i + 1).trim.toDouble
    }.toMap
}
