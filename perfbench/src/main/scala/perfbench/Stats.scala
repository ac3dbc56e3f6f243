package perfbench

/** Order statistics and the small JSON writer the harness reports with. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean; NaN for an empty sample. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile (in whole percent) that leaves at least ten
    * samples above it, with its value; None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val pct = ((1.0 - 10.0 / xs.size) * 100).floor.toInt.min(99)
      Some(pct -> quantile(xs, pct / 100.0))
    }

  /** A named tail figure, `<prefix>.tail_p<pct>_s`: the [[tail]], or the
    * maximum (p100) below eleven samples. */
  def tailFigure(prefix: String, xs: Seq[Double]): (String, Double, String, Int) = {
    val t = tail(xs)
    (s"$prefix.tail_p${t.map(_._1).getOrElse(100)}_s", t.map(_._2).getOrElse(xs.max), "s", xs.size)
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product if p.productArity == 0 => json(p.toString)
    case other => json(other.toString)
  }
}
