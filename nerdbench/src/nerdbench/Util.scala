package nerdbench

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case raw: Raw => raw.json
    case other => quote(other.toString)
  }

  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile with at least ten samples beyond it:
    * p = 100 * (1 - 10 / n), never below the median. Returns (p, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = math.max(50.0, 100.0 * (1.0 - 10.0 / math.max(1, xs.length)))
    (p, percentile(xs, p))
  }
}
