package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Kernels
import graft.spark.{WoeBinning, WoeFitOptions}

/** The one stats path of the fit: the Row decoder every fit collect
  * goes through, the literal-name melt, and the model's lookup errors.
  */
class StatsPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // (variable, value, cnt, tsum, tcnt, tbad), shuffled on purpose
  private val unsorted = Array(
    Row("x", 3.0, 2L, 1L, 2L, 0L),
    Row("y", 7.0, 5L, 5L, 5L, 0L),
    Row("x", null, 4L, 3L, 4L, 0L),
    Row("x", -1.5, 3L, 0L, 3L, 0L),
    Row("x", 2.0, 1L, 1L, 1L, 0L))

  test("decoder: unsorted and presorted rows give the same VarStats") {
    val presorted = unsorted.sortBy(r =>
      (r.getString(0), if (r.isNullAt(1)) Double.NegativeInfinity else r.getDouble(1)))
    val a = WoeBinning.statsFromRows(unsorted)
    assert(a == WoeBinning.statsFromRows(presorted))
    assert(a("x") == Kernels.VarStats("x",
      Vector((-1.5, 3L, 0L), (2.0, 1L, 1L), (3.0, 2L, 1L)), 4L, 3L, 10L, 5L))
    assert(a("y") == Kernels.VarStats("y", Vector((7.0, 5L, 5L)), 0L, 0L, 5L, 5L))
  }

  test("decoder: a null value lands in the NaN bucket") {
    val s = WoeBinning.statsFromRows(Array(Row("z", null, 6L, 2L, 6L, 0L)))("z")
    assert(s.groups.isEmpty)
    assert((s.nanCount, s.nanTsum, s.totalRows, s.totalTsum) == ((6L, 2L, 6L, 2L)))
  }

  test("decoder: both target guards fire, the domain check first") {
    def err(r: Row) = intercept[IllegalArgumentException](
      WoeBinning.statsFromRows(Array(Row("x", 1.0, 1L, 0L, 1L, 0L), r))).getMessage
    // a null tsum, and fewer non-null targets than rows
    assert(err(Row("x", 2.0, 2L, null, 0L, 0L)).contains("target contains nulls"))
    assert(err(Row("x", 2.0, 2L, 1L, 1L, 0L)).contains("target contains nulls"))
    // out-of-domain targets also null the tsum; the domain error wins
    val m = err(Row("x", 2.0, 2L, null, 2L, 1L))
    assert(m.contains("target must be 0/1") && m.contains("value 2.0"), m)
    assert(err(Row("x", null, 2L, null, 2L, 2L)).contains("target must be 0/1 (variable 'x', value null)"))
  }

  test("decoder: a segment key after the six stats fields decodes the same") {
    val keyed = unsorted.map(r => Row.fromSeq(r.toSeq :+ "segment-a"))
    assert(WoeBinning.statsFromRows(keyed) == WoeBinning.statsFromRows(unsorted))
  }

  private val odd = Seq("a\\b", "x\\", "it's", "we`ird")
  private val plain = Seq("p1", "p2", "p3", "p4")

  /** The same 800 rows under the given feature names: a near-unique
    * column with NaNs, two coded columns and a NULL-bearing one.
    */
  private def frame(names: Seq[String]): DataFrame = {
    val rows = (0 until 800).map { i =>
      val h = ((i.toLong * 2654435761L) >>> 5) % 1000
      val a = if (i % 23 == 0) Double.NaN else (i * 37 % 797).toDouble
      val t = if (h < 150 + (i * 37 % 797) / 2) 1 else 0
      Row(if (i % 2 == 0) "g0" else "g1", t, a, (i % 13).toDouble,
        (i * 7 % 50) / 10.0, if (i % 31 == 0) null else (h % 97).toDouble)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "seg STRING, target INT, c0 DOUBLE, c1 DOUBLE, c2 DOUBLE, c3 DOUBLE")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .toDF("seg" +: "target" +: names: _*)
  }

  test("odd column names fit, fit by group and transform like plain ones") {
    val (dfOdd, dfPlain) = (frame(odd), frame(plain))
    val opts = WoeFitOptions(nThreshold = Some(40))
    // compared as text: the NaN bin's NaN fields never equal themselves
    def same(a: Vector[graft.core.WoeBin], b: Vector[graft.core.WoeBin], what: String) =
      assert(a.map(_.copy(variable = "")).toString == b.map(_.copy(variable = "")).toString, what)
    val mOdd = WoeBinning.fit(dfOdd, "target", odd, opts)
    val mPlain = WoeBinning.fit(dfPlain, "target", plain, opts)
    assert(plain.exists(mPlain.bins(_).length > 2), "expected a real binning")
    odd.zip(plain).foreach { case (o, p) => same(mOdd.bins(o), mPlain.bins(p), s"fit $o") }

    val gOdd = WoeBinning.fitByGroup(dfOdd, "target", odd, "seg", opts)
    val gPlain = WoeBinning.fitByGroup(dfPlain, "target", plain, "seg", opts)
    assert(gOdd.map(_._1) == Seq("g0", "g1") && gPlain.map(_._1) == Seq("g0", "g1"))
    gOdd.zip(gPlain).foreach { case ((g, mo), (_, mp)) =>
      odd.zip(plain).foreach { case (o, p) => same(mo.bins(o), mp.bins(p), s"segment $g $o") }
    }

    // a frame that is not the fit's plan: transform computes its
    // medians with exactMedians (the NaN/NULL rows are imputed by them)
    def scored(m: graft.spark.WoeBinningModel, df: DataFrame) =
      m.transform(df.where(col("target") >= 0), ivThreshold = 0.0, binThreshold = 0,
          remove100Corr = false)
        .collect().map(_.toSeq).toSeq
    val sOdd = scored(mOdd, dfOdd)
    assert(sOdd.head.length == 4)
    assert(sOdd == scored(mPlain, dfPlain))
    assert(odd.map(WoeBinning.exactMedians(dfOdd, odd)) ==
      plain.map(WoeBinning.exactMedians(dfPlain, plain)))
  }

  test("bins of an unknown variable names it and the fitted ones") {
    val m = new graft.spark.WoeBinningModel(Seq(
      "p1" -> Kernels.degenerateBins("p1"), "p2" -> Kernels.degenerateBins("p2")))
    val e = intercept[NoSuchElementException](m.bins("nope"))
    assert(e.getMessage.contains("'nope'") && e.getMessage.contains("'p1', 'p2'"), e.getMessage)
  }
}
