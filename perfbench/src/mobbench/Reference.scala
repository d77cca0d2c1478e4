package mobbench

import graft.core.{Kernels, WoeBin, WoeConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The benchmark's own expected outputs.  Sufficient statistics come
  * from the benchmark's own explode + groupBy (not the library's stack
  * melt or its collect and decode), and the expected bins from the
  * public driver kernels over them — so a change to how the library
  * moves the statistics to the driver is checked bit for bit.
  */
object Reference {

  /** Per-column (value → count, Σtarget) with NaN values split out, as
    * the kernels consume them.
    */
  def stats(df: DataFrame, target: String, cols: Seq[String]): Map[String, Kernels.VarStats] = {
    val pairs = array(cols.map(c => struct(lit(c).as("v"), col(c).cast("double").as("x"))): _*)
    val rows = df.select(explode(pairs).as("p"), col(target).cast("long").as("t"))
      .groupBy(col("p.v").as("v"), col("p.x").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("ts"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (v, rs) =>
      val (missing, present) = rs.partition(r => r.isNullAt(1) || r.getDouble(1).isNaN)
      val groups = present.map(r => (r.getDouble(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)(Ordering.Double.TotalOrdering).toVector
      val nanCount = missing.map(_.getLong(2)).sum
      val nanTsum = missing.map(_.getLong(3)).sum
      v -> Kernels.VarStats(v, groups, nanCount, nanTsum,
        nanCount + groups.map(_._2).sum, nanTsum + groups.map(_._3).sum)
    }
  }

  /** Distinct non-missing values per column, from the stats above. */
  def distinct(stats: Map[String, Kernels.VarStats]): Map[String, Long] =
    stats.map { case (c, s) => c -> s.groups.length.toLong }

  /** Per-column ascending (value, count) of the non-missing values. */
  def valueCounts(df: DataFrame, cols: Seq[String]): Map[String, Vector[(Double, Long)]] = {
    val pairs = array(cols.map(c => struct(lit(c).as("v"), col(c).cast("double").as("x"))): _*)
    df.select(explode(pairs).as("p"))
      .where(col("p.x").isNotNull && !isnan(col("p.x")))
      .groupBy(col("p.v").as("v"), col("p.x").as("x"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (c, rs) =>
        c -> rs.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)(Ordering.Double.TotalOrdering).toVector
      }
  }

  /** The pandas median of the values behind ascending counts. */
  def median(counts: Vector[(Double, Long)]): Double = {
    val n = counts.map(_._2).sum
    def at(k: Long): Double = {
      var seen = 0L
      counts.find { case (_, c) => seen += c; seen > k }.get._1
    }
    if (n == 0) Double.NaN
    else if (n % 2 == 1) at(n / 2)
    else (at(n / 2 - 1) + at(n / 2)) / 2.0
  }

  /** Expected bins of one column: the kernel fit, or for a sentinel
    * the fits of the sentinel rows and of the rest, stitched.
    */
  def bins(s: Kernels.VarStats, cfg: WoeConfig, sep: Option[Double]): Vector[WoeBin] = sep match {
    case None => Kernels.fitVariable(s, cfg)
    case Some(v) =>
      val (sepBins, restBins) = splitSentinel(s, v)
      Kernels.stitchSentinel(Kernels.fitVariable(sepBins, cfg), Kernels.fitVariable(restBins, cfg),
        v, s.totalTsum.toDouble, s.totalRows.toDouble)
  }

  /** The sentinel rows and the rest (which keeps the NaN rows). */
  def splitSentinel(s: Kernels.VarStats, v: Double): (Kernels.VarStats, Kernels.VarStats) = {
    val (hit, rest) = s.groups.partition(_._1 == v)
    (Kernels.VarStats(s.variable, hit, 0L, 0L, hit.map(_._2).sum, hit.map(_._3).sum),
      Kernels.VarStats(s.variable, rest, s.nanCount, s.nanTsum,
        s.nanCount + rest.map(_._2).sum, s.nanTsum + rest.map(_._3).sum))
  }

  private def sameDouble(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def sameBin(a: WoeBin, b: WoeBin): Boolean =
    a.variable == b.variable &&
      a.productIterator.drop(1).zip(b.productIterator.drop(1)).forall {
        case (x: Double, y: Double) => sameDouble(x, y)
        case (x, y) => x == y
      }

  /** The first difference between fitted and expected bins, compared
    * bit for bit; None when they are identical.
    */
  def diff(got: Seq[(String, Vector[WoeBin])], want: Map[String, Vector[WoeBin]]): Option[String] = {
    val gotMap = got.toMap
    if (gotMap.keySet != want.keySet)
      return Some(s"fitted columns ${gotMap.keySet.toSeq.sorted} != expected ${want.keySet.toSeq.sorted}")
    want.keys.toSeq.sorted.iterator.flatMap { c =>
      val (g, w) = (gotMap(c), want(c))
      if (g.length != w.length) Some(s"$c: ${g.length} bins, expected ${w.length}")
      else g.indices.find(i => !sameBin(g(i), w(i))).map(i => s"$c bin $i: ${g(i)} != expected ${w(i)}")
    }.nextOption()
  }

  private def complete(b: WoeBin): Boolean =
    !b.productIterator.drop(1).exists { case d: Double => d.isNaN; case _ => false }

  /** Columns `transform` keeps under its default filters: total IV
    * over complete bins at least 0.02, at least 2 bins, IV not +inf,
    * and the first of any columns with exactly equal IV.
    */
  def survivors(fitted: Seq[(String, Vector[WoeBin])]): Set[String] = {
    var seen = Set.empty[Double]
    fitted.flatMap { case (c, bs) =>
      val iv = bs.filter(complete).map(_.ivComponents).sum
      if (iv < 0.02 || bs.length < 2 || iv == Double.PositiveInfinity || seen(iv)) None
      else { seen += iv; Some(c) }
    }.toSet
  }

  /** Bins compiled into the apply expression of one column. */
  def branches(bins: Vector[WoeBin]): Int = bins.count(complete)

  /** The WoE `pd.cut` assigns to `x` (already median-imputed): bins
    * are [start, end) when starts ascend and (end, start] when they
    * descend; values past the outer cuts take the outer labels.
    */
  def lookup(bins: Vector[WoeBin], x: Double): Double = {
    if (x.isNaN) return Double.NaN
    val cb = bins.filter(complete)
    val cuts0 = cb.map(_.intervalStartInclude) :+ cb.last.intervalEndExclude
    val descending = cuts0.head > cuts0.last
    val cuts = if (descending) cuts0.reverse else cuts0
    val labels = if (descending) cb.map(_.woe).reverse else cb.map(_.woe)
    labels.indices.dropRight(1)
      .find(k => if (descending) x <= cuts(k + 1) else x < cuts(k + 1))
      .map(labels(_)).getOrElse(labels.last)
  }

  def sameValue(a: Double, b: Double): Boolean = sameDouble(a, b)
}
