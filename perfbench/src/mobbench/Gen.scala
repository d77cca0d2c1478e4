package mobbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs.  Every value is a pure function of
  * xxhash64(seed, salt, id), so one seed always yields the same rows
  * and the same parquet bytes; the program only ever reads the
  * parquet written here.
  */
object Gen {

  /** The 53 high bits of the hash as a uniform double in [0, 1). */
  def uniform(seed: Long, salt: Int): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), col("id")), 11).cast("double") *
      lit(1.0 / (1L << 53))

  /** One of `d` equally likely codes 0 .. d-1, as a double. */
  def code(seed: Long, salt: Int, d: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(d.toLong)).cast("double")

  /** A feature column.  `distinct` None is near-unique (a uniform
    * double, so about one distinct value per row); Some(d) draws d
    * codes.  A `nanShare` of rows read NaN and a `sentinelShare` read
    * `Sentinel` instead of their value (both decided by one more hash).
    */
  final case class Feature(
      name: String,
      distinct: Option[Int],
      nanShare: Double = 0.0,
      sentinelShare: Double = 0.0)

  val Sentinel: Double = -999.0

  /** A table of `rows` rows, ids 0 on.  The 0/1 `target` is
    * 1{u < sigmoid(bias + Σ w·(x̂ − 0.5))}, a logistic link on each
    * weighted feature's value rescaled to [0, 1) before masking, so
    * bins have real signal; `target` is omitted when `withTarget` is
    * false.
    */
  final case class Table(
      rows: Long,
      features: Seq[Feature],
      weights: Map[String, Double],
      bias: Double,
      saltBase: Int,
      withTarget: Boolean = true) {
    def names: Seq[String] = features.map(_.name)
  }

  def frame(spark: SparkSession, seed: Long, t: Table, partitions: Int): DataFrame = {
    val salted = t.features.zipWithIndex.map { case (f, k) => (f, t.saltBase + 2 * k) }
    val scaled: Map[String, Column] = salted.map { case (f, s) =>
      f.name -> f.distinct.fold(uniform(seed, s))(d => code(seed, s, d) / lit(d.toDouble))
    }.toMap
    val values = salted.map { case (f, s) =>
      val raw = f.distinct.fold(uniform(seed, s))(d => code(seed, s, d))
      val mask = uniform(seed, s + 1)
      (if (f.nanShare == 0.0 && f.sentinelShare == 0.0) raw
      else when(mask < lit(f.nanShare), lit(Double.NaN))
        .when(mask < lit(f.nanShare + f.sentinelShare), lit(Sentinel))
        .otherwise(raw)).as(f.name)
    }
    val logit = t.weights.toSeq.sortBy(_._1).foldLeft(lit(t.bias)) {
      case (acc, (c, w)) => acc + lit(w) * (scaled(c) - lit(0.5))
    }
    val target =
      (uniform(seed, t.saltBase - 1) < lit(1.0) / (lit(1.0) + exp(-logit))).cast("int").as("target")
    spark.range(0, t.rows, 1, partitions)
      .select((col("id") +: values) ++ (if (t.withTarget) Seq(target) else Nil): _*)
  }

  def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
}
