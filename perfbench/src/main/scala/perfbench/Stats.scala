package perfbench

/** Order statistics and the small JSON the benchmark prints. */
object Stats {
  /** Linearly interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def json(v: Any): String = v match {
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }
        .sorted.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "metric is not a finite number")
      d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
  }
}
