package perfbench

/** Order statistics used by every metric. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: the (n-10)-th smallest of n samples when n >= 20,
    * else the median. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.length
    if (n < 20) (median(xs), 50)
    else {
      val s = xs.sorted
      (s(n - 11), math.floor(100.0 * (n - 10) / n).toInt)
    }
  }

  /** Least-squares slope of y against x; 0 when x does not vary. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.length.toDouble
    if (n < 2) return 0.0
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case Some(x) => apply(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
