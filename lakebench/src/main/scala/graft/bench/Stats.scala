package graft.bench

/** Summary statistics the benchmark reports: a timing is a median plus the
  * highest percentile that still has at least ten samples beyond it.
  */
object Stats {
  /** samples that must lie above a reported percentile */
  val Beyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** nearest-rank `q`-quantile, or None when fewer than [[Beyond]]
    * samples lie above its rank (so p90 needs at least 100 samples)
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0.0 && q < 1.0, s"quantile $q")
    val n = xs.size
    val rank = math.ceil(q * n).toInt // 1-based
    if (n == 0 || n - rank < Beyond) None else Some(xs.sorted.apply(rank - 1))
  }
}

/** Minimal JSON rendering (locale-independent numbers). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    value(scala.collection.immutable.ListMap(fields: _*))
}
