package perfbench

/** Order statistics and the one-line JSON the benchmark writes. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val h = s.length / 2
    if (s.length % 2 == 1) s(h) else (s(h - 1) + s(h)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `q` of the
    * samples at or below it. For n = 44, q = 0.75 gives the 33rd smallest,
    * with 11 samples above it.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q <= 1, s"percentile $q of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  /** Renders maps, sequences, numbers, strings and booleans as JSON. */
  def json(v: Any): String = v match {
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
}
