package mobbench

/** Order statistics over per-op samples, and the JSON writer behind
  * the run record and the result line.
  */
object Stats {

  /** Linear-interpolated quantile at position q·(n−1) of the sorted
    * samples (numpy's default); q = 0.5 is the median, which for an
    * even count is the mean of the two middle samples.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile level $q outside [0, 1]")
    val s = xs.sorted(Ordering.Double.TotalOrdering).toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate tail levels in per-mille, highest first. */
  private val TailPerMille = Seq(999, 990, 900)

  /** The highest tail percentile (in per-mille: 990 is p99) that has at
    * least `minBeyond` of `n` samples beyond it; None when even p90
    * has fewer.  Integer arithmetic, so p90 of exactly 100 samples
    * qualifies (100·100/1000 = 10 beyond it).
    */
  def tailPerMille(n: Int, minBeyond: Int = 10): Option[Int] =
    TailPerMille.find(pm => n.toLong * (1000 - pm) / 1000 >= minBeyond)

  /** Median, sample count and the tail percentile the count supports. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("n" -> xs.length, "p50" -> median(xs))
    tailPerMille(xs.length).fold(base) { pm =>
      base + (s"p${pm / 10.0}".stripSuffix(".0") -> quantile(xs, pm / 1000.0))
    }
  }

  /** Compact JSON.  Maps keep their iteration order (pass a ListMap for
    * a fixed key order); NaN and infinities become null.
    */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.iterator.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
