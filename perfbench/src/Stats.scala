package perfbench

/** Order statistics and the small JSON writer the benchmark reports with. */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between the closest
    * ranks (R-7, numpy's default). Requires a non-empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` computes them
    * (its default 'exclusive' method): positions (n + 1) * k / 4, clamped
    * to the sample. Needs at least two values.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val s = xs.sorted
    val n = s.length
    def at(k: Int): Double = {
      val m = (n + 1) * k
      val j = math.min(math.max(m / 4, 1), n - 1)
      val delta = m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (at(1), at(2), at(3))
  }

  /** How many samples lie strictly above percentile `p`. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }
}

/** Minimal JSON rendering for Map / Seq / numbers / strings / booleans. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parses JSON text into a Jackson tree. */
  def parse(text: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(text)
}
