package graft.spark

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.parallel.CollectionConverters._

/** Fit options — names follow the reference API (binning.py:78-104).
  *
  * @param nThreshold    minimum bin size; default ceil(N/20) like
  *                      `batch_woe_binning` (binning.py:84-87)
  * @param maxDistinct   scale knob with NO reference equivalent: when
  *                      set, values are first reduced to at most this
  *                      many quantile buckets (approx_percentile) before
  *                      the groupBy, bounding the collected stats at
  *                      100 TB scale.  OFF (= exact parity) by default.
  */
final case class WoeFitOptions(
    nThreshold: Option[Double] = None,
    nOccurrences: Double = 1.0,
    pThreshold: Double = 0.1,
    sepValue: Option[Double] = None,
    mergeThreshold: Option[Double] = None,
    sortOverload: Option[Boolean] = None,
    maxDistinct: Option[Int] = None)

/** Spark-side fit: ONE distributed pass computes exact integer
  * sufficient statistics `(variable, value) → (count, target_sum)` for
  * all features (unpivot → groupBy, map-side partial aggregation, a
  * single shuffle), then the iterative MOB kernels (graft.core.Kernels)
  * run driver-side over the collected per-variable stats — bounded by
  * distinct-value count, not row count.
  *
  * This replaces the reference's per-column process fan-out that
  * pickles the full column to each worker (binning.py:82,89-99) and its
  * O(rows) pandas group/sort per column (binning.py:111-131).
  */
object WoeBinning {

  /** `name` as a column reference taken literally: backtick-quoted, so
    * dots, quotes and backslashes in a column name stay part of it.
    */
  private[spark] def colNamed(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** The one melt of the fit and apply paths: each row becomes one
    * (variable, value) row per input column, with `carry` alongside.
    * The variable name is a literal, not spliced SQL, so any column name
    * survives.  NaN and NULL are both "missing" (pandas dropna
    * semantics): the value is NULL for either.
    */
  private def melt(df: DataFrame, inputCols: Seq[String], carry: Column*): DataFrame = {
    require(inputCols.nonEmpty, "woe_binning: no feature columns to fit")
    val pairs = inputCols.flatMap(c => Seq(lit(c), colNamed(c).cast("double")))
    df.select(carry :+ stack(lit(inputCols.length) +: pairs: _*)
        .as(Seq("variable", "value")): _*)
      .withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
  }

  /** The exact-integer stats per melted group, in the field order
    * [[statsFromRows]] reads: cnt, tsum, tcnt, tbad.
    */
  private val statsAggs: Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    // only in-domain values reach the bigint cast: under ANSI mode
    // (Spark 4 default) cast(NaN/±Infinity as bigint) throws a raw
    // ArithmeticException at the executor, pre-empting the friendly
    // 0/1-domain error (tbad below flags everything out-of-domain)
    sum(when(col("traw") === 0.0 || col("traw") === 1.0, col("traw"))
      .otherwise(lit(null)).cast("bigint")).as("tsum"),
    count(col("traw")).as("tcnt"), // non-null targets → null guard
    // 0/1-domain guard: a fractional or NaN target would silently
    // truncate under the integer-stats design
    sum(when(isnan(col("traw")) ||
        (col("traw") =!= 0.0 && col("traw") =!= 1.0), 1L)
      .otherwise(0L)).as("tbad"))

  private def target(targetCol: String): Column =
    colNamed(targetCol).cast("double").as("traw")

  /** The melt + exact-integer stats aggregation, shared by the batch
    * fit and the streaming incremental fit (StreamingWoe): rows of
    * (variable, value, cnt, tsum, tcnt, tbad).
    */
  def statsAggregation(df: DataFrame, targetCol: String, inputCols: Seq[String]): DataFrame =
    melt(df, inputCols, target(targetCol))
      .groupBy("variable", "value")
      .agg(statsAggs.head, statsAggs.tail: _*)

  /** Collected stats rows → per-variable exact sufficient statistics:
    * the one decoder of every fit collect (batch, per-segment and
    * streaming).  It reads fields 0-5 as (variable, value, cnt, tsum,
    * tcnt, tbad) and ignores any after them, so `fitByGroup`'s rows,
    * which carry the segment key last, decode the same way.
    *
    * The collect is a plain Row collect, decoded straight from the Row
    * fields in one loop.  A typed tuple collect is no faster: q_fit_exact
    * at sf0.1 took 2.48-2.73 s typed vs 2.19-2.51 s Row; the MOB
    * benchmark's fit_unique (4-vCPU VM, seeds 11-14, interleaved) gave
    * op_p50_s medians of 0.99 s typed vs 1.00 s Row and a traced decode
    * of 0.64 s vs 0.59 s, with the same bins.
    *
    * Fails fast on a target outside the 0/1 domain and on null targets:
    * a null target would silently vanish from sum(), and a fractional
    * or NaN target would truncate under the integer-stats design.
    */
  def statsFromRows(rows: Array[Row]): Map[String, Kernels.VarStats] =
    rows.groupBy(_.getString(0)).map { case (variable, vr) =>
      def where(r: Row) =
        s"(variable '$variable', value ${if (r.isNullAt(1)) "null" else r.getDouble(1)})"
      // single driver pass: domain/null guards, NaN split, tuple build
      // and a sortedness check all fused — a presorted input (ad-hoc
      // callers that ordered upstream) skips the O(n log n) driver sort;
      // the engine's own collects arrive unsorted by design (r18: the
      // range-sort exchange cost more than this in-memory sort)
      val groupsB = Vector.newBuilder[(Double, Long, Long)]
      groupsB.sizeHint(vr.length)
      var nanCount = 0L; var nanTsum = 0L
      var valCnt = 0L; var valTsum = 0L
      var presorted = true; var prev = Double.NegativeInfinity
      var i = 0
      while (i < vr.length) {
        val r = vr(i)
        // domain check FIRST: an all-NaN group also has a null tsum (the
        // NaN→null cast guard), and "must be 0/1" is the accurate error
        if (r.getLong(5) > 0)
          throw new IllegalArgumentException(
            s"woe_binning: target must be 0/1 ${where(r)}")
        val cnt = r.getLong(2)
        if (r.isNullAt(3) || r.getLong(4) != cnt)
          throw new IllegalArgumentException(
            s"woe_binning: target contains nulls ${where(r)}")
        val tsum = r.getLong(3)
        if (r.isNullAt(1)) {
          nanCount += cnt; nanTsum += tsum
        } else {
          val v = r.getDouble(1)
          if (v < prev) presorted = false
          prev = v
          groupsB += ((v, cnt, tsum))
          valCnt += cnt; valTsum += tsum
        }
        i += 1
      }
      val built = groupsB.result()
      // fallback sort tuned for the near-unique case (r18): 583k
      // boxed-tuple `sortBy` cost ~0.5 s at sf0.1; Arrays.sort with a
      // direct primitive-field comparator over the one materialized
      // array cuts the constant (values are unique per variable after
      // the groupBy, so the order — hence the fit — is identical)
      val groups =
        if (presorted) built
        else {
          val arr = built.toArray
          java.util.Arrays.sort(arr,
            new java.util.Comparator[(Double, Long, Long)] {
              def compare(a: (Double, Long, Long), b: (Double, Long, Long)): Int =
                java.lang.Double.compare(a._1, b._1)
            })
          arr.toVector
        }
      variable -> Kernels.VarStats(variable, groups, nanCount, nanTsum,
        nanCount + valCnt, nanTsum + valTsum)
    }

  /** Collected exact stats for every variable in one job. */
  def sufficientStats(
      df: DataFrame,
      targetCol: String,
      inputCols: Seq[String],
      maxDistinct: Option[Int] = None): Map[String, Kernels.VarStats] = {
    val base = maxDistinct.map(m => preBin(df, inputCols, m)).getOrElse(df)
    // collect UNSORTED and sort on the driver (r18, reversing the r-early
    // Spark-side orderBy): measured at sf0.1's 583k-distinct column, the
    // range-sort exchange added 0.55-0.9 s to the agg+collect while the
    // driver fallback sort in statsFromRows costs ~0.3 s — the cluster
    // sort pays a full extra shuffle of the O(distinct) rows (sampling +
    // range exchange) to save a cheaper in-memory sort
    statsFromRows(statsAggregation(base, targetCol, inputCols).collect())
  }

  /** One variable's bins from its collected stats — the per-variable
    * kernel dispatch shared by the batch and streaming fits (guards
    * and sentinel handling included).
    */
  def fitOne(
      variable: String,
      targetCol: String,
      stats: Map[String, Kernels.VarStats],
      cfg: WoeConfig,
      sepValue: Option[Double]): Vector[WoeBin] =
    if (variable == targetCol) Kernels.degenerateBins(variable) // binning.py:106-109
    else {
      val s = stats.getOrElse(variable,
        Kernels.VarStats(variable, Vector.empty, 0, 0, 0, 0))
      require(s.groups.nonEmpty || s.nanCount > 0,
        s"woe_binning: column '$variable' has no rows")
      sepValue match {
        case None => Kernels.fitVariable(s, cfg)
        case Some(sep) => fitSentinel(s, sep, cfg)
      }
    }

  /** Snap each value of `c` to the LOWER edge of its bucket (edges
    * deduped + sorted; null/NaN pass through untouched — they carry
    * their own "missing" semantics through the fit).  Shared by the
    * quantile scale path ([[preBin]]) and the streaming state cap
    * (StreamingWoe.fitStream's `preBucketEdges`), which must bound
    * distinct values with CALLER-FIXED edges because a stream cannot
    * run the quantile pass.
    */
  def snapToEdges(df: DataFrame, c: String, edges: Seq[Double]): DataFrame = {
    val es = edges.distinct.sorted
    require(es.length >= 2, s"snapToEdges('$c'): need >= 2 distinct edges, got ${es.length}")
    // codegen'd O(log edges) binary search per row (SnapToEdge) — the
    // Bucketizer computes the same buckets but through a Scala UDF,
    // which boxes rows and fences whole-stage codegen right in the
    // scale valve's hot path; SnapToEdgeSpec pins bucket-for-bucket
    // equivalence against the Bucketizer
    df.withColumn(c,
      graft.functions.SnapToEdge(colNamed(c).cast("double"), es.toArray))
  }

  /** Quantile pre-binning for the distinct-value-explosion scale path:
    * snap each value to the lower edge of its approx-quantile bucket.
    * Semantics divergence knob — documented, off for parity tests.
    */
  def preBin(df: DataFrame, inputCols: Seq[String], maxDistinct: Int): DataFrame = {
    val probs = (0 to maxDistinct).map(_.toDouble / maxDistinct).toArray
    val quantiles = df.stat.approxQuantile(inputCols.toArray, probs, 1e-4)
    inputCols.zip(quantiles).foldLeft(df) { case (acc, (c, qs)) =>
      val edges = qs.distinct.sorted
      if (edges.length <= 2) acc
      else snapToEdges(acc, c, edges)
    }
  }

  /** Fit all input columns; kernels run in a parallel collection on the
    * collected stats (one task per variable, like the reference's
    * joblib fan-out but without re-scanning data per column).
    */
  def fit(
      df: DataFrame,
      targetCol: String,
      inputCols: Seq[String],
      opts: WoeFitOptions = WoeFitOptions()): WoeBinningModel =
    modelFromStats(sufficientStats(df, targetCol, inputCols, opts.maxDistinct),
      targetCol, inputCols, opts, Some(df.queryExecution.analyzed))

  /** Stats → model, shared by [[fit]], [[fitByGroup]] and the streaming
    * refit: the default `nThreshold = ceil(N/20)` (binning.py:84-87),
    * the per-variable kernels in a parallel collection, and the fit
    * medians.
    *
    * The per-(variable, value) counts the fit just collected ARE the
    * grouped stats `transform`'s exact medians need — precompute them
    * driver-side (O(distinct), zero extra jobs) so a fit-then-apply on
    * the SAME DataFrame (the dominant workflow) scans the data once.
    * Skipped without a fit plan (nothing to match the apply frame
    * against) and under maxDistinct: pre-binned values would yield
    * snapped medians, not the apply dataset's true ones.
    */
  private[graft] def modelFromStats(
      stats: Map[String, Kernels.VarStats],
      targetCol: String,
      inputCols: Seq[String],
      opts: WoeFitOptions,
      fitPlan: Option[LogicalPlan]): WoeBinningModel = {
    val n = stats.valuesIterator.map(_.totalRows).maxOption.getOrElse(0L)
    val cfg = WoeConfig(opts.nThreshold.getOrElse(math.ceil(n.toDouble / 20.0)),
      opts.nOccurrences, opts.pThreshold, opts.sortOverload, opts.mergeThreshold)
    val fitted: Seq[(String, Vector[WoeBin])] =
      inputCols.par
        .map(c => c -> fitOne(c, targetCol, stats, cfg, opts.sepValue))
        .seq.toVector
    val fitMedians: Map[String, Double] =
      if (fitPlan.isEmpty || opts.maxDistinct.isDefined) Map.empty
      else stats.map { case (v, s) => v -> Kernels.exactMedian(s.groups) }
    new WoeBinningModel(fitted, fitMedians, fitPlan)
  }

  /** Per-segment fit: an independent model per distinct value of
    * `groupCol`, all segments computed in ONE distributed stats pass.
    *
    * Semantics contract (ByGroupSpec pins it): the model for segment
    * `g` equals `fit(df.filter(col(groupCol) === g), ...)` — including
    * the per-segment default `nThreshold = ceil(segmentRows / 20)`
    * (binning.py:84-87 applied to the segment, exactly what a user
    * filtering manually would get).  Rows whose segment is null are
    * skipped, as no equality filter would select them.
    *
    * Scale: the reference user fits per-segment scorecards by running
    * the whole pipeline once per segment — S full scans.  Here the melt
    * is keyed by (segment, variable, value), so the single shuffle and
    * single collect carry every segment at once; driver work stays
    * O(segments × distinct values) and the kernels run in one parallel
    * collection over (segment, variable) tasks.  `maxDistinct` prebins
    * globally (same edges for every segment) before the stats pass.
    */
  def fitByGroup(
      df: DataFrame,
      targetCol: String,
      inputCols: Seq[String],
      groupCol: String,
      opts: WoeFitOptions = WoeFitOptions()): Seq[(String, WoeBinningModel)] = {
    val base = opts.maxDistinct.map(m => preBin(df, inputCols, m)).getOrElse(df)
    val grp = colNamed(groupCol).cast("string")
    // the segment key goes AFTER the six stats fields, so statsFromRows
    // decodes these rows as they are (unsorted, like sufficientStats)
    val grouped = melt(base.where(grp.isNotNull), inputCols, target(targetCol), grp.as("grp"))
      .groupBy("variable", "value", "grp")
      .agg(statsAggs.head, statsAggs.tail: _*)
      .select("variable", "value", "cnt", "tsum", "tcnt", "tbad", "grp")
      .collect()
    grouped.groupBy(_.getString(6)).toSeq.sortBy(_._1).map { case (g, rows) =>
      // fit plan of the EQUIVALENT manual workflow: transform on
      // df.filter(groupCol === g) reuses the precomputed medians
      val gPlan =
        try Some(df.filter(grp === g).queryExecution.analyzed)
        catch { case scala.util.control.NonFatal(_) => None }
      g -> modelFromStats(statsFromRows(rows), targetCol, inputCols, opts, gPlan)
    }
  }

  /** Sentinel fit (`woe_binning_sep`, binning.py:32-75) WITHOUT extra
    * scans: the sep-subset and complement sufficient stats are split
    * out of the already-collected grouped stats.
    */
  private def fitSentinel(
      s: Kernels.VarStats,
      sep: Double,
      cfg: WoeConfig): Vector[WoeBin] = {
    val (sepGroups, rest) = s.groups.partition(_._1 == sep)
    // the reference crashes opaquely on these (binning.py:37, 49); fail
    // fast — the complement needs at least one NON-null value (a
    // complement of only-null rows yields a lone NaN bin, which the
    // stitch strips before indexing b(0))
    require(sepGroups.nonEmpty,
      s"woe_binning_sep: no rows of '${s.variable}' equal sep_value=$sep")
    require(rest.nonEmpty,
      s"woe_binning_sep: no non-null rows of '${s.variable}' differ from sep_value=$sep — nothing to bin")
    val sepStats = Kernels.VarStats(s.variable, sepGroups, 0L, 0L,
      sepGroups.iterator.map(_._2).sum, sepGroups.iterator.map(_._3).sum)
    // pandas `!=` keeps NaN rows in the complement (binning.py:43)
    val compStats = Kernels.VarStats(s.variable, rest, s.nanCount, s.nanTsum,
      s.nanCount + rest.iterator.map(_._2).sum,
      s.nanTsum + rest.iterator.map(_._3).sum)
    val a = Kernels.fitVariable(sepStats, cfg)
    val b = Kernels.fitVariable(compStats, cfg)
    Kernels.stitchSentinel(a, b, sep, s.totalTsum.toDouble, s.totalRows.toDouble)
  }

  /** Exact interpolated medians (pandas `Series.median`,
    * binning.py:297/302) for several columns in ONE distributed job:
    * melt → per-value counts → unsorted collect → driver sort and
    * interpolation over the grouped counts.  A column with no
    * non-missing values maps to NaN.
    */
  def exactMedians(df: DataFrame, cols: Seq[String]): Map[String, Double] = {
    val byVar = melt(df, cols)
      .where(col("value").isNotNull)
      .groupBy("variable", "value")
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .groupBy(_.getString(0))
    cols.map { c =>
      c -> byVar.get(c).fold(Double.NaN) { rows =>
        // exactMedian walks groups in ascending-value order; values are
        // unique per variable after the groupBy so this sort is total
        Kernels.exactMedian(
          rows.iterator.map(r => (r.getDouble(1), r.getLong(2), 0L))
            .toVector.sortBy(_._1))
      }
    }.toMap
  }

  /** Reference 11-column schema (binning.py:107-108). */
  val binsSchema: StructType = StructType(Seq(
    StructField("variable", StringType, nullable = false),
    StructField("interval_start_include", DoubleType, nullable = false),
    StructField("interval_end_exclude", DoubleType, nullable = false),
    StructField("size", DoubleType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("bads", DoubleType, nullable = false),
    StructField("goods", DoubleType, nullable = false),
    StructField("dist_good", DoubleType, nullable = false),
    StructField("dist_bad", DoubleType, nullable = false),
    StructField("woe", DoubleType, nullable = false),
    StructField("iv_components", DoubleType, nullable = false)))
}

/** The fitted model: the stacked bins table (variable-keyed, like
  * `apply_bins(is_df=True)` consumes, binning.py:271-277) plus the
  * expression-compiled transform.
  *
  * @param fitMedians per-column exact medians of the FIT dataset,
  *                   precomputed driver-side from the fit's collected
  *                   grouped stats (empty for loaded / hand-built models)
  * @param fitPlan    analyzed plan of the fit DataFrame; when the apply
  *                   DataFrame `sameResult`s it, `transform` reuses
  *                   [[fitMedians]] instead of launching a second
  *                   median job over the same data.  CONTRACT: plan
  *                   equality stands in for data equality — if the
  *                   underlying files are overwritten between fit and
  *                   transform, the reused medians describe the OLD
  *                   data (the same staleness any Spark cache of that
  *                   plan would exhibit); re-fit, or transform a
  *                   freshly-read DataFrame whose plan differs, when
  *                   the source may have changed.  The retained plan
  *                   also keeps its analyzed tree reachable for the
  *                   model's lifetime — negligible for file scans,
  *                   worth knowing for plans embedding large local
  *                   relations.
  */
final class WoeBinningModel(
    val fitted: Seq[(String, Vector[WoeBin])],
    fitMedians: Map[String, Double] = Map.empty,
    fitPlan: Option[LogicalPlan] = None) {

  def bins(variable: String): Vector[WoeBin] =
    fitted.collectFirst { case (v, b) if v == variable => b }.getOrElse(
      throw new NoSuchElementException(
        s"WoeBinningModel.bins: no fitted variable '$variable' " +
          s"(fitted: ${fitted.map(_._1).mkString("'", "', '", "'")})"))

  /** Stacked bins DataFrame in the reference's 11-column schema. */
  def binsDf(spark: SparkSession): DataFrame = {
    val rows = fitted.flatMap { case (_, bs) =>
      bs.map(b => Row(b.variable, b.intervalStartInclude, b.intervalEndExclude,
        b.size, b.mean, b.bads, b.goods, b.distGood, b.distBad, b.woe,
        b.ivComponents))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), WoeBinning.binsSchema)
  }

  private def isCompleteRow(b: WoeBin): Boolean = Kernels.isCompleteRow(b)

  /** Canonical-plan equality between the apply DataFrame and the fit
    * DataFrame — `sameResult` normalizes expression ids and ordering,
    * so the common `model.transform(sameDf)` is recognized even when
    * the plan object was rebuilt.
    */
  private def sameAsFit(df: DataFrame): Boolean =
    fitPlan.exists { p =>
      try df.queryExecution.analyzed.sameResult(p)
      catch { case scala.util.control.NonFatal(_) => false }
    }

  /** `apply_bins` (binning.py:268-304): per surviving variable compile
    * the learned bins into a single codegen-friendly `when`-chain over
    * `coalesce(value, median)` — no join, no shuffle, no UDF; one
    * `select` evaluates every variable in one pass over the data.
    *
    * Quirks preserved: data-NaN is imputed with the column median of
    * the APPLY dataset, not the learned NaN bin (binning.py:297,302);
    * variables are deduped by exact total-IV equality when
    * remove100Corr (binning.py:294-299); output holds ONLY the
    * `<col>_bin` columns unless passthrough is set.
    *
    * The surviving-variable set is DATA-DEPENDENT (IV / bin-count /
    * dedup filters) — like the reference, the default output may have
    * fewer columns than fitted variables.  `exactSchema = true` keeps
    * one `<col>_bin` column per fitted variable, emitting NULL for the
    * filtered ones, so the output schema is static.
    */
  def transform(
      df: DataFrame,
      ivThreshold: Double = 0.02,
      binThreshold: Int = 2,
      remove100Corr: Boolean = true,
      passthrough: Boolean = false,
      exactSchema: Boolean = false): DataFrame = {
    // per-variable filters computed once: IV over complete rows,
    // bin-count incl. NaN row, +inf-only exclusion (binning.py:278-280)
    val withIv = fitted.map { case (v, bs) =>
      val ivTotal = bs.filter(isCompleteRow).map(_.ivComponents).sum
      val ok = !(ivTotal < ivThreshold || bs.length < binThreshold ||
        ivTotal == Double.PositiveInfinity)
      (v, bs, ivTotal, ok)
    }
    // IV-equality dedup (binning.py:294-299), first occurrence wins
    var seenIvs = List.empty[Double]
    val kept: Seq[(String, Option[Vector[WoeBin]])] =
      withIv.map { case (v, bs, ivTotal, ok) =>
        if (!ok) (v, None)
        else if (remove100Corr && seenIvs.contains(ivTotal)) (v, None)
        else {
          seenIvs = ivTotal :: seenIvs
          (v, Some(bs))
        }
      }
    val selected = kept.collect { case (v, Some(bs)) => (v, bs) }
    // medians of the APPLY dataset (binning.py:297,302).  When the apply
    // plan IS the fit plan (the dominant fit-then-apply workflow), the
    // fit already collected per-value counts — reuse its precomputed
    // medians and skip the second scan entirely.  Otherwise: one job of
    // exact interpolated medians for all selected columns at once, from
    // per-value grouped counts (O(distinct) driver rows, like the fit's
    // sufficient stats) — NOT Spark's `median`/`percentile` aggregate,
    // whose final merge buffers every raw value of the group in one
    // task: on a 100 TB apply pass that single buffer is the job
    // killer, while grouped counts stay bounded by distinct values
    val medians: Map[String, Double] =
      if (selected.isEmpty) Map.empty
      else if (sameAsFit(df) && selected.forall(s => fitMedians.contains(s._1)))
        selected.iterator.map { case (v, _) => v -> fitMedians(v) }.toMap
      else WoeBinning.exactMedians(df, selected.map(_._1))
    val outCols =
      if (exactSchema) kept.map {
        case (v, Some(bs)) => applyExpr(v, bs, medians(v)).as(v + "_bin")
        case (v, None) => lit(null).cast(DoubleType).as(v + "_bin")
      }
      else selected.map { case (variable, bs) =>
        applyExpr(variable, bs, medians(variable)).as(variable + "_bin")
      }
    if (passthrough) df.select(col("*") +: outCols: _*)
    else df.select(outCols: _*)
  }

  /** pd.cut-equivalent expression for one variable (binning.py:283-303). */
  private def applyExpr(variable: String, bs: Vector[WoeBin], med: Double): Column = {
    val complete = bs.filter(isCompleteRow)
    var cuts = complete.map(_.intervalStartInclude) :+ complete.last.intervalEndExclude
    var labels = complete.map(_.woe)
    val rightClosed = cuts.head > cuts.last
    if (rightClosed) { cuts = cuts.reverse; labels = labels.reverse }
    // NaN → null → median; then bucket via the interval chain
    val raw = WoeBinning.colNamed(variable).cast(DoubleType)
    val base = coalesce(when(isnan(raw), lit(null)).otherwise(raw), lit(med))
    val chain = labels.indices.dropRight(1).foldLeft(Option.empty[Column]) {
      case (acc, k) =>
        val cond =
          if (rightClosed) base <= lit(cuts(k + 1))
          else base < lit(cuts(k + 1))
        Some(acc.fold(when(cond, lit(labels(k))))(_.when(cond, lit(labels(k)))))
    }
    val binned = chain.fold(lit(labels.last))(_.otherwise(lit(labels.last)))
    // all-null/all-NaN apply column: median is NaN → base is NaN (never
    // null — coalesce always lands on lit(med)); Spark's NaN-is-greatest
    // ordering would otherwise fall through every cut to the LAST bin,
    // where pandas' cut yields NaN (binning.py:297)
    when(base.isNull || isnan(base), lit(Double.NaN)).otherwise(binned)
  }

  /** Persist as the stacked bins table (the reference user pickles the
    * dict; we round-trip through parquet).
    */
  def save(spark: SparkSession, path: String): Unit = {
    val ordered = fitted.zipWithIndex.flatMap { case ((v, bs), vi) =>
      bs.zipWithIndex.map { case (b, bi) => (vi, bi, b) }
    }
    import spark.implicits._
    ordered.map { case (vi, bi, b) =>
      (vi, bi, b.variable, b.intervalStartInclude, b.intervalEndExclude, b.size,
        b.mean, b.bads, b.goods, b.distGood, b.distBad, b.woe, b.ivComponents)
    }.toDF("var_ordinal", "bin_ordinal", "variable", "interval_start_include",
      "interval_end_exclude", "size", "mean", "bads", "goods", "dist_good",
      "dist_bad", "woe", "iv_components")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}

object WoeBinningModel {
  def load(spark: SparkSession, path: String): WoeBinningModel = {
    val rows = spark.read.parquet(path)
      .orderBy("var_ordinal", "bin_ordinal").collect()
    val fitted = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      val bins = rs.sortBy(_.getInt(1)).map { r =>
        WoeBin(r.getString(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getDouble(9),
          r.getDouble(10), r.getDouble(11), r.getDouble(12))
      }.toVector
      bins.head.variable -> bins
    }
    new WoeBinningModel(fitted)
  }
}
