package mobbench

import graft.core.WoeConfig
import graft.spark.{WoeBinning, WoeBinningEstimator, WoeFitOptions}
import java.io.File
import java.nio.file.Files
import scala.util.control.NonFatal

/** Tests of the benchmark itself (`run.py --self-test`): seeded
  * generation is byte-stable, the output check catches a single
  * perturbed bin, and the percentile and sample-count rules hold.
  *
  *   mobbench.SelfTest <scratch dir>
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case NonFatal(e) =>
        failures += 1
        println(s"FAIL $name: $e")
        e.printStackTrace()
    }

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def parquetBytes(dir: String): Seq[Array[Byte]] =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => Files.readAllBytes(f.toPath)).toSeq

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(throw new IllegalArgumentException("usage: SelfTest <dir>"))

    test("median and quantiles interpolate between order statistics") {
      assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
      assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even median")
      assert(Stats.median(Seq(7.0)) == 7.0, "single sample")
      assert(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0, "p90 of 1..11")
      assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5, "interpolated quartile")
    }

    test("a tail percentile needs ten samples beyond it") {
      assert(Stats.tailPerMille(9).isEmpty, "9 samples")
      assert(Stats.tailPerMille(99).isEmpty, "99 samples: p90 has 9 beyond")
      assert(Stats.tailPerMille(100).contains(900), "100 samples: p90")
      assert(Stats.tailPerMille(999).contains(900), "999 samples: p99 has 9 beyond")
      assert(Stats.tailPerMille(1000).contains(990), "1000 samples: p99")
      assert(Stats.tailPerMille(10000).contains(999), "10000 samples: p99.9")
      val s = Stats.summary((1 to 100).map(_.toDouble))
      assert(s("n") == 100 && s.contains("p90") && !s.contains("p99"), s"summary keys $s")
      assert(!Stats.summary(Seq(1.0, 2.0)).contains("p90"), "no tail from 2 samples")
    }

    test("JSON numbers keep every digit") {
      assert(Stats.json(Map("v" -> 0.1234567890123)) == """{"v": 0.1234567890123}""", "digits")
      assert(Stats.json(Seq(Double.NaN, 1L, "a\"b")) == """[null, 1, "a\"b"]""", "escapes")
    }

    val spark = Main.session(2, s"$work/spark")
    try {
      val table = Gen.Table(20000,
        Seq(Gen.Feature("u", None), Gen.Feature("c", Some(7), nanShare = 0.05, sentinelShare = 0.1)),
        weights = Map("u" -> 2.0, "c" -> 1.0), bias = -0.5, saltBase = 10)

      test("the same seed writes byte-identical parquet; another seed does not") {
        Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).foreach { case (d, s) =>
          Gen.write(Gen.frame(spark, s, table, 3), s"$work/gen/$d")
        }
        val (a, b, c) = (parquetBytes(s"$work/gen/a"), parquetBytes(s"$work/gen/b"), parquetBytes(s"$work/gen/c"))
        assert(a.length == 3 && b.length == 3, s"part files ${a.length}, ${b.length}")
        assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }, "same seed, different bytes")
        assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) }, "another seed, same bytes")
        val df = spark.read.parquet(s"$work/gen/a")
        val d = Reference.distinct(Reference.stats(df, "target", Seq("u", "c")))
        assert(d("u") > 19900, s"near-unique column has ${d("u")} distinct values")
        assert(d("c") == 8, s"coded column has ${d("c")} distinct values (7 codes and the sentinel)")
      }

      val df = spark.read.parquet(s"$work/gen/a")
      val cols = Seq("u", "c")

      test("the fit check accepts the library's bins and catches one perturbed bin") {
        val cfg = WoeConfig(nThreshold = 100.0)
        val st = Reference.stats(df, "target", cols)
        val want = cols.map(c => c -> Reference.bins(st(c), cfg, None)).toMap
        val got = WoeBinning.fit(df, "target", cols, WoeFitOptions(nThreshold = Some(100.0))).fitted
        assert(Reference.diff(got, want).isEmpty, s"unperturbed: ${Reference.diff(got, want)}")
        assert(got.head._2.length >= 3, s"too few bins to perturb: ${got.head._2.length}")
        val (c0, bins0) = got.head
        val k = bins0.length / 2
        val woeNudged = got.updated(0, c0 -> bins0.updated(k, bins0(k).copy(woe = math.nextUp(bins0(k).woe))))
        assert(Reference.diff(woeNudged, want).nonEmpty, "one-ulp WoE change not caught")
        val edgeMoved = got.updated(0, c0 -> bins0.updated(k,
          bins0(k).copy(intervalEndExclude = math.nextDown(bins0(k).intervalEndExclude))))
        assert(Reference.diff(edgeMoved, want).nonEmpty, "moved bin edge not caught")
        assert(Reference.diff(got.updated(0, c0 -> bins0.init), want).nonEmpty, "dropped bin not caught")
      }

      test("the sentinel fit check accepts the Estimator's bins and catches one perturbed bin") {
        val cfg = WoeConfig(nThreshold = math.ceil(20000 / 20.0), mergeThreshold = Some(0.1))
        val st = Reference.stats(df, "target", cols)
        val wantC = Map("c" -> Reference.bins(st("c"), cfg, Some(Gen.Sentinel)))
        val got = new WoeBinningEstimator().setTargetCol("target").setInputCols(Array("c"))
          .setSepValue(Gen.Sentinel).setMergeThreshold(0.1).fit(df).core.fitted
        assert(Reference.diff(got, wantC).isEmpty, s"unperturbed: ${Reference.diff(got, wantC)}")
        val bins0 = got.head._2
        val nudged = Seq("c" -> bins0.updated(0, bins0(0).copy(size = bins0(0).size + 1)))
        assert(Reference.diff(nudged, wantC).nonEmpty, "perturbed sentinel bin size not caught")
      }

      test("the scoring check's WoE lookup agrees with transform") {
        val model = new WoeBinningEstimator().setTargetCol("target").setInputCols(cols.toArray)
          .setNThreshold(100.0).setIvThreshold(0.0).setBinThreshold(1).setRemove100Corr(false)
          .setPassthrough(true).fit(df)
        val counts = Reference.valueCounts(df, cols)
        val rows = model.transform(df).orderBy("id").limit(500).collect()
        rows.foreach { r =>
          cols.foreach { c =>
            val x = r.getAs[Double](c)
            val want = Reference.lookup(model.core.bins(c), if (x.isNaN) Reference.median(counts(c)) else x)
            val got = r.getAs[Double](c + "_bin")
            assert(Reference.sameValue(got, want), s"$c = $x: transform $got, lookup $want")
          }
        }
        val bins = model.core.bins("u")
        val k = bins.length / 2
        val nudged = bins.updated(k, bins(k).copy(woe = bins(k).woe + 1.0))
        val x = bins(k).intervalStartInclude
        assert(!Reference.sameValue(Reference.lookup(nudged, x), Reference.lookup(bins, x)),
          "perturbed WoE not seen by the lookup")
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
