package mobbench

import graft.core.{GroupStat, Kernels, WoeBin, WoeConfig}
import graft.spark.{WoeBinning, WoeBinningEstimator, WoeBinningTransformer, WoeFitOptions}
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.immutable.ListMap
import scala.collection.parallel.CollectionConverters._

final case class Ctx(spark: SparkSession, seed: Long, cores: Int)

/** One workload: its inputs, its op, and the check of the op's output.
  * The driver loop calls `prepare` once per set-up round (the last
  * round's inputs are the ones measured), then `setUp`, a warm-up op,
  * `buildCheck`, and then the measured ops.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Input rows × feature columns one op processes. */
  def cellsPerOp: Long
  /** Row and column counts for the run record. */
  def sizes: Map[String, Any]
  /** Write this round's inputs under `dir`. */
  def prepare(dir: String): Unit
  /** Program-side set-up over the last round's inputs, before any op. */
  def setUp(): Unit = ()
  /** Build the expected outputs; returns the measured distinct count of
    * every input column.
    */
  def buildCheck(): Map[String, Long]
  /** The timed operation. */
  def op(i: Int): Unit
  /** The op run with the listeners on, split into its layers: returns
    * the op's wall seconds and the per-layer values.
    */
  def tracedOp(i: Int, t: Tracer): (Double, Map[String, Double])
  /** The first mismatch in op `i`'s output, if any. */
  def check(i: Int): Option[String]
  /** Expected per-layer profile figures, for the run record. */
  def notes: Map[String, Any] = Map.empty

  protected def spark: SparkSession = ctx.spark
  protected def seed: Long = ctx.seed

  protected def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Workload {
  val Names: Seq[String] = Seq("fit_unique", "fit_wide", "score_fresh")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "fit_unique" => new FitUnique(ctx)
    case "fit_wide" => new FitWide(ctx)
    case "score_fresh" => new ScoreFresh(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** The fit workloads: one table, one fit per op, bins checked against
  * the kernels over the benchmark's own stats.
  */
abstract class FitWorkload(ctx: Ctx) extends Workload(ctx) {
  protected def table: Gen.Table
  protected def cfg: WoeConfig
  protected def sep: Option[Double]
  protected def fit(df: DataFrame): Seq[(String, Vector[WoeBin])]

  protected lazy val cols: Seq[String] = table.names
  protected var df: DataFrame = _
  private var expected: Map[String, Vector[WoeBin]] = Map.empty
  private var last: Seq[(String, Vector[WoeBin])] = Nil

  def cellsPerOp: Long = table.rows * cols.length
  def sizes: Map[String, Any] = ListMap("rows" -> table.rows, "feature_columns" -> cols.length)

  def prepare(dir: String): Unit = {
    Gen.write(Gen.frame(spark, seed, table, ctx.cores), dir)
    df = spark.read.parquet(dir)
  }

  def buildCheck(): Map[String, Long] = {
    val st = Reference.stats(df, "target", cols)
    expected = cols.map(c => c -> Reference.bins(st(c), cfg, sep)).toMap
    Reference.distinct(st)
  }

  def op(i: Int): Unit = last = fit(df)

  def check(i: Int): Option[String] = Reference.diff(last, expected)

  def tracedOp(i: Int, t: Tracer): (Double, Map[String, Double]) = {
    val (fitted, opWall, _, _) = t.window(name, i)(fit(df))
    last = fitted
    // the stats layer alone, then the kernels one at a time on its output
    val (stats, statsS, jobs, rows) =
      t.window("WoeBinning.sufficientStats", i)(WoeBinning.sufficientStats(df, "target", cols))
    // the library's per-column kernel fan-out, as `fit` runs it after the stats
    val (_, fanOutS) = t.span("WoeBinning.fitOne", i)(
      cols.par.map(c => WoeBinning.fitOne(c, "target", stats, cfg, sep)).seq)
    val kernels = kernelSplit(t, i, stats)
    val stitched = cols.map(c => c -> kernels._2(c))
    Reference.diff(stitched, expected).foreach(m =>
      throw new IllegalStateException(s"kernel split does not reproduce the fit: $m"))
    val layer = ListMap(
      "WoeBinning.stats_s" -> statsS,
      "WoeBinning.collect_job_s" -> jobs("job_wall_s"),
      "WoeBinning.decode_s" -> (statsS - jobs("job_wall_s")),
      "WoeBinning.collected_rows" -> rows.toDouble,
      "WoeBinning.result_bytes" -> jobs("result_bytes"),
      "WoeBinning.shuffle_write_bytes" -> jobs("shuffle_write_bytes"),
      "WoeBinning.shuffle_read_bytes" -> jobs("shuffle_read_bytes"),
      "WoeBinning.spill_bytes" -> jobs("spill_bytes"),
      "WoeBinning.jobs" -> jobs("jobs"),
      "WoeBinning.stages" -> jobs("stages"),
      "WoeBinning.tasks" -> jobs("tasks"),
      "WoeBinning.executor_run_s" -> jobs("executor_run_s"),
      "WoeBinning.executor_cpu_s" -> jobs("executor_cpu_s"),
      "Kernels.par_wall_s" -> fanOutS) ++ kernels._1
    (opWall, layer)
  }

  /** The public kernels in the order `Kernels.fitVariable` runs them,
    * one column after another, timed per phase.  Returns the phase
    * totals and the bins, which must equal the fit's.
    */
  private def kernelSplit(t: Tracer, i: Int, stats: Map[String, Kernels.VarStats])
      : (Map[String, Double], Map[String, Vector[WoeBin]]) = {
    var order, pool, merge, fin = 0.0
    var groupsIn, pools, binsOut = 0L
    def one(s: Kernels.VarStats): Vector[WoeBin] = {
      val (asc, a) = timed(Kernels.detectOrder(s))
      val (pooled, b) = timed {
        val gs = s.groups.map { case (v, n, ts) =>
          GroupStat(v, n.toDouble, ts.toDouble / n.toDouble, Kernels.binaryStd(n, ts))
        }
        val up = cfg.sortOverload.contains(true) || asc
        Kernels.monotonePool(if (up) gs else gs.reverse)
      }
      val (merged, c) = timed(
        Kernels.significanceMerge(pooled, cfg.nThreshold, cfg.nOccurrences, cfg.pThreshold))
      val (bins, d) = timed {
        val end = if (asc) Double.PositiveInfinity else Double.NegativeInfinity
        val assembled = Kernels.assembleIntervals(s.variable, merged, end)
        val withNan =
          if (s.nanCount == 0) assembled
          else assembled :+ WoeBin(s.variable, Double.NaN, Double.NaN, s.nanCount.toDouble,
            s.nanTsum.toDouble / s.nanCount.toDouble, 0, 0, 0, 0, 0, 0)
        val finalized = Kernels.finalizeWoe(withNan)
        cfg.mergeThreshold.fold(finalized)(Kernels.mergeByWoeGap(finalized, _))
      }
      order += a; pool += b; merge += c; fin += d
      groupsIn += s.groups.length; pools += pooled.length
      bins
    }
    val (out, _) = t.span("Kernels", i) {
      cols.map { c =>
        val s = stats(c)
        val bins = sep match {
          case None => one(s)
          case Some(v) =>
            val (hit, rest) = Reference.splitSentinel(s, v)
            val (a, b) = (one(hit), one(rest))
            val (st, e) = timed(Kernels.stitchSentinel(a, b, v, s.totalTsum.toDouble, s.totalRows.toDouble))
            fin += e
            st
        }
        binsOut += bins.length
        c -> bins
      }.toMap
    }
    (ListMap("Kernels.detectOrder_s" -> order, "Kernels.monotonePool_s" -> pool,
      "Kernels.significanceMerge_s" -> merge, "Kernels.finalize_s" -> fin,
      "Kernels.groups_in" -> groupsIn.toDouble, "Kernels.pools" -> pools.toDouble,
      "Kernels.bins" -> binsOut.toDouble), out)
  }
}

/** Exact fit over near-unique columns: the op is mostly O(distinct)
  * movement of stats rows to the driver and the driver-side pooling.
  */
final class FitUnique(ctx: Ctx) extends FitWorkload(ctx) {
  val name = "fit_unique"
  private val rows = 200000L
  protected val table: Gen.Table = Gen.Table(rows,
    Seq(Gen.Feature("u1", None), Gen.Feature("u2", None), Gen.Feature("c12", Some(12))),
    weights = Map("u1" -> 2.5, "u2" -> -1.0, "c12" -> 1.0), bias = -1.0, saltBase = 100)
  protected val cfg: WoeConfig = WoeConfig(nThreshold = (rows / 200).toDouble)
  protected val sep: Option[Double] = None
  protected def fit(df: DataFrame): Seq[(String, Vector[WoeBin])] =
    WoeBinning.fit(df, "target", cols, WoeFitOptions(nThreshold = Some(cfg.nThreshold))).fitted
}

/** The MLlib Estimator with a sentinel and the WoE-gap merge over many
  * low-cardinality columns: the op is mostly scan, the 32× stack melt
  * and map-side aggregation; little reaches the driver.
  */
final class FitWide(ctx: Ctx) extends FitWorkload(ctx) {
  val name = "fit_wide"
  private val rows = 150000L
  private val cardinalities = Seq(6, 20, 60, 200, 1000, 5000)
  protected val table: Gen.Table = Gen.Table(rows,
    (0 until 32).map(k => Gen.Feature(f"w$k%02d", Some(cardinalities(k % cardinalities.length)),
      nanShare = 0.03, sentinelShare = 0.05)),
    weights = (0 until 6).map(k => f"w$k%02d" -> (if (k % 2 == 0) 1.2 else -0.8)).toMap,
    bias = -1.0, saltBase = 200)
  protected val cfg: WoeConfig =
    WoeConfig(nThreshold = math.ceil(rows / 20.0), mergeThreshold = Some(0.1))
  protected val sep: Option[Double] = Some(Gen.Sentinel)
  protected def fit(df: DataFrame): Seq[(String, Vector[WoeBin])] =
    new WoeBinningEstimator().setTargetCol("target").setInputCols(cols.toArray)
      .setSepValue(Gen.Sentinel).setMergeThreshold(0.1)
      .fit(df).core.fitted
}

/** Scoring a fresh table with a fitted Transformer, then writing it.
  * The scoring set is not the fit's plan, so `transform` first
  * computes exact medians of the surviving columns, collecting every
  * distinct value of them.
  */
final class ScoreFresh(ctx: Ctx) extends Workload(ctx) {
  val name = "score_fresh"
  private val rows = 40000L
  private val features =
    (0 until 4).map(k => Gen.Feature(s"s$k", None, nanShare = 0.01)) ++
      Seq(3, 5, 8, 12, 20, 30, 50, 80, 120, 200, 300, 500).zipWithIndex.map { case (d, k) =>
        Gen.Feature(f"l$k%02d", Some(d), nanShare = 0.02)
      }
  private val weights = Map("s0" -> 2.0, "s1" -> -1.5, "s2" -> 0.8) ++
    (0 until 12 by 2).map(k => f"l$k%02d" -> 0.9)
  private val train = Gen.Table(rows, features, weights, bias = -1.0, saltBase = 300)
  // a different salt: fresh values from the same distribution
  private val score = train.copy(saltBase = 1300, withTarget = false)
  private val cols = train.names

  private var trainDf, scoreDf: DataFrame = _
  private var model: WoeBinningTransformer = _
  private var outDir: String = _
  private var survivors = Set.empty[String]
  private var medians = Map.empty[String, Double]
  private var mediansRows = 0L
  private lazy val sampleIds: Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(256)(r.nextLong(rows)).distinct.take(64)
  }

  def cellsPerOp: Long = rows * cols.length
  def sizes: Map[String, Any] =
    ListMap("train_rows" -> rows, "score_rows" -> rows, "feature_columns" -> cols.length)

  def prepare(dir: String): Unit = {
    Gen.write(Gen.frame(spark, seed, train, ctx.cores), dir + "/train")
    Gen.write(Gen.frame(spark, seed, score, ctx.cores), dir + "/score")
    trainDf = spark.read.parquet(dir + "/train")
    scoreDf = spark.read.parquet(dir + "/score")
    outDir = dir + "/scored"
  }

  override def setUp(): Unit =
    model = new WoeBinningEstimator().setTargetCol("target").setInputCols(cols.toArray)
      .setExactSchema(true).setPassthrough(true).fit(trainDf)

  override def notes: Map[String, Any] = ListMap(
    "surviving_columns" -> survivors.toSeq.sorted, "surviving_distinct" -> mediansRows)

  def buildCheck(): Map[String, Long] = {
    val counts = Reference.valueCounts(scoreDf, cols)
    medians = counts.map { case (c, vc) => c -> Reference.median(vc) }
    survivors = Reference.survivors(model.core.fitted)
    mediansRows = survivors.toSeq.map(c => counts(c).length.toLong).sum
    counts.map { case (c, vc) => c -> vc.length.toLong }
  }

  def op(i: Int): Unit = model.transform(scoreDf).write.mode("overwrite").parquet(outDir)

  def tracedOp(i: Int, t: Tracer): (Double, Map[String, Double]) = {
    val (out, mediansS, _, collected) = t.window("WoeBinningModel.transform", i)(model.transform(scoreDf))
    val (_, writeS) = t.span("write", i)(out.write.mode("overwrite").parquet(outDir))
    val bytes = new File(outDir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    (mediansS + writeS, ListMap(
      "WoeBinningModel.medians_s" -> mediansS,
      "WoeBinningModel.medians_rows" -> collected.toDouble,
      "WoeBinningModel.apply_write_s" -> writeS,
      "WoeBinningModel.output_bytes" -> bytes.toDouble,
      "WoeBinningModel.when_branches" ->
        model.core.fitted.filter(f => survivors(f._1)).map(f => Reference.branches(f._2)).sum.toDouble))
  }

  def check(i: Int): Option[String] = {
    val back = spark.read.parquet(outDir)
    val n = back.count()
    if (n != rows) return Some(s"scored $n rows, expected $rows")
    val bins = model.core.fitted.toMap
    val got = back.where(col("id").isin(sampleIds: _*)).collect()
    if (got.length != sampleIds.length) return Some(s"sample: ${got.length} of ${sampleIds.length} ids found")
    got.iterator.flatMap { r =>
      cols.iterator.flatMap { c =>
        val x = r.getAs[Double](c)
        val woe = r.getAs[java.lang.Double](c + "_bin")
        if (!survivors(c)) Option.when(woe != null)(s"id ${r.getAs[Long]("id")}: $c is filtered but scored $woe")
        else {
          val want = Reference.lookup(bins(c), if (x.isNaN) medians(c) else x)
          Option.when(woe == null || !Reference.sameValue(woe, want))(
            s"id ${r.getAs[Long]("id")}: ${c}_bin = $woe, expected $want for value $x")
        }
      }
    }.nextOption()
  }
}
