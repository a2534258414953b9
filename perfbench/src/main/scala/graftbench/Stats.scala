package graftbench

/** Order statistics and a minimal JSON writer for the report. */
object Stats {
  /** Linear-interpolated quantile `q` in [0, 1] of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median, quartiles and count of a metric's samples. */
  final case class Summary(median: Double, p25: Double, p75: Double, n: Int)
  def summary(xs: Seq[Double]): Summary =
    Summary(median(xs), quantile(xs, 0.25), quantile(xs, 0.75), xs.size)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** JSON for nested Maps, Seqs, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case Summary(m, a, b, n) => json(Map("median" -> m, "p25" -> a, "p75" -> b, "n" -> n))
    case Span(id, name, parent, s, e) =>
      json(Map("id" -> id, "name" -> name, "parent" -> parent, "start_ms" -> s, "end_ms" -> e))
    case other => str(other.toString)
  }
}
