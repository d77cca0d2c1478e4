package mobbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One benchmark run: set up a workload from its seed, run its op in a
  * closed loop with one client for `--seconds`, check every output,
  * and print the run record and then the one-line result.
  *
  *   mobbench.Main --workload fit_unique --seed 1 --seconds 10 --trace 0
  *     --cores 4 --work <scratch dir> --out <record dir>
  *
  * `--trace 0` reports the end-to-end metrics.  `--trace 1` runs the
  * first half of the window untraced and the second half with the
  * listeners on and each op split into its layers, and reports the
  * per-layer metrics.  Exit code 3 means an output mismatch.
  */
object Main {
  /** Input-writing rounds per run; `setup_s` takes their median. */
  val SetupRounds = 3
  /** Ops after set-up and before the window, so JIT and lazy set-up
    * settle; they count in setup_s.
    */
  val WarmOps = 5
  /** Each half of a run measures at least this many ops. */
  val MinOps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "op_p50_s" -> "s", "cells_per_s" -> "cells/s", "driver_heap_peak_mb" -> "MB", "setup_s" -> "s")

  /** Every per-layer metric with its unit; a layer a workload does not
    * run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "WoeBinning.stats_s" -> "s", "WoeBinning.collect_job_s" -> "s", "WoeBinning.decode_s" -> "s",
    "WoeBinning.collected_rows" -> "rows", "WoeBinning.result_bytes" -> "B",
    "WoeBinning.shuffle_write_bytes" -> "B", "WoeBinning.shuffle_read_bytes" -> "B",
    "WoeBinning.spill_bytes" -> "B", "WoeBinning.jobs" -> "count", "WoeBinning.stages" -> "count",
    "WoeBinning.tasks" -> "count", "WoeBinning.executor_run_s" -> "s",
    "WoeBinning.executor_cpu_s" -> "s",
    "Kernels.detectOrder_s" -> "s", "Kernels.monotonePool_s" -> "s",
    "Kernels.significanceMerge_s" -> "s", "Kernels.finalize_s" -> "s",
    "Kernels.groups_in" -> "count", "Kernels.pools" -> "count", "Kernels.bins" -> "count",
    "Kernels.par_wall_s" -> "s",
    "WoeBinningModel.medians_s" -> "s", "WoeBinningModel.medians_rows" -> "rows",
    "WoeBinningModel.apply_write_s" -> "s", "WoeBinningModel.output_bytes" -> "B",
    "WoeBinningModel.when_branches" -> "count",
    "jvm.cpu_s_per_op" -> "s", "jvm.gc_s" -> "s", "host.steal_frac" -> "ratio",
    "host.loadavg" -> "threads",
    "trace_overhead_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, out: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      need("work"), need("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("mobbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parseArgs(args))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  final case class Sample(wallS: Double, cpuS: Double, heapPeakMb: Double, gcS: Double)

  def run(a: Args): Int = {
    val t0 = System.nanoTime()
    val spark = session(a.cores, a.work)
    val sessionS = secs(t0)
    val w = Workload(a.workload, Ctx(spark, a.seed, a.cores))
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    try {
      val roundDirs = (1 to SetupRounds).map(r => s"${a.work}/in/r$r")
      val roundS = roundDirs.map { d => val s = System.nanoTime(); w.prepare(d); secs(s) }
      roundDirs.init.foreach(d => deleteTree(new File(d)))
      val u0 = System.nanoTime()
      w.setUp()
      val setUpS = secs(u0)
      val warmS = (0 until WarmOps).map { i => val s = System.nanoTime(); w.op(i); secs(s) }
      val setupS = sessionS + Stats.median(roundS) + setUpS + warmS.sum
      // the expected outputs are the benchmark's own work, so they are
      // built outside setup_s, once the ops have warmed the JIT
      val c0 = System.nanoTime()
      val distinct = w.buildCheck()
      val checkBuildS = secs(c0)
      w.check(WarmOps - 1).foreach { m =>
        System.err.println(s"OUTPUT MISMATCH in the warm-up op: $m")
        return 3
      }

      val untraced = ArrayBuffer[Sample]()
      val traced = ArrayBuffer[(Double, Map[String, Double])]()
      var failed = 0
      var attempted = 0
      var mismatch: Option[String] = None
      val jiffies0 = Host.cpuJiffies()
      val win0 = System.nanoTime()
      val window = (a.seconds * 1e9).toLong
      val traceFrom = if (a.trace) win0 + window / 2 else Long.MaxValue
      def more: Boolean =
        System.nanoTime() - win0 < window || untraced.length < MinOps ||
          (a.trace && traced.length < MinOps)
      var i = WarmOps
      while (mismatch.isEmpty && more && failed < 3) {
        val tracing = a.trace && System.nanoTime() >= traceFrom && untraced.length >= MinOps
        System.gc()
        Jvm.resetHeapPeak()
        val (cpu0, gc0, s0) = (Jvm.cpuNs, Jvm.gcMs, System.nanoTime())
        attempted += 1
        try {
          if (tracing) {
            val t = tracer.get
            t.install()
            traced += w.tracedOp(i, t)
          } else {
            w.op(i)
            untraced += Sample(secs(s0), (Jvm.cpuNs - cpu0) / 1e9,
              Jvm.heapPeakBytes / 1048576.0, (Jvm.gcMs - gc0) / 1e3)
          }
          mismatch = w.check(i)
        } catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"op $i failed:")
            e.printStackTrace()
        }
        i += 1
      }
      val stealFrac = Host.stealFrac(jiffies0, Host.cpuJiffies())
      val loadavg = Host.loadavg()
      mismatch.foreach(m => System.err.println(s"OUTPUT MISMATCH: $m"))
      if (untraced.isEmpty) throw new IllegalStateException(s"all $attempted ops failed")

      val walls = untraced.map(_.wallS).toSeq
      val p50 = Stats.median(walls)
      val endToEnd = ListMap(
        "op_p50_s" -> p50,
        "cells_per_s" -> w.cellsPerOp / p50,
        "driver_heap_peak_mb" -> Stats.median(untraced.map(_.heapPeakMb).toSeq),
        "setup_s" -> setupS)
      // process CPU per op: reported beside wall time so host steal cannot
      // hide, but ungated, since on a shared host its run-to-run spread
      // exceeds any bound a gate may use
      val cpuS = Stats.median(untraced.map(_.cpuS).toSeq)
      val gcS = Stats.median(untraced.map(_.gcS).toSeq)
      val layers: Map[String, Double] =
        if (!a.trace || traced.isEmpty) Map.empty
        else {
          val keys = traced.flatMap(_._2.keys).distinct
          keys.map(k => k -> Stats.median(traced.map(_._2.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
            "jvm.cpu_s_per_op" -> cpuS, "jvm.gc_s" -> gcS, "host.steal_frac" -> stealFrac,
            "host.loadavg" -> loadavg,
            "trace_overhead_frac" -> (Stats.median(traced.map(_._1).toSeq) / p50 - 1.0))
        }

      val record = ListMap[String, Any](
        "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "trace" -> a.trace,
        "seconds" -> a.seconds, "sizes" -> w.sizes,
        "distinct" -> ListMap(distinct.toSeq.sortBy(_._1): _*),
        "setup" -> ListMap("session_s" -> sessionS, "rounds_s" -> roundS, "program_s" -> setUpS, "warmup_s" -> warmS,
          "check_build_s" -> checkBuildS),
        "ops" -> ListMap("attempted" -> attempted, "failed" -> failed,
          "failed_ratio" -> failed.toDouble / attempted,
          "wall_s" -> Stats.summary(walls), "wall_samples_s" -> walls,
          "cpu_samples_s" -> untraced.map(_.cpuS), "heap_peak_samples_mb" -> untraced.map(_.heapPeakMb),
          "traced_wall_samples_s" -> traced.map(_._1)),
        "context" -> ListMap("jvm.cpu_s_per_op" -> cpuS, "jvm.gc_s" -> gcS,
          "host.steal_frac" -> stealFrac, "host.loadavg" -> loadavg),
        "end_to_end" -> endToEnd, "layers" -> ListMap(layers.toSeq.sortBy(_._1): _*),
        "notes" -> w.notes, "mismatch" -> mismatch)
      new File(a.out).mkdirs()
      val outFile = new File(a.out, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
      Files.write(outFile.toPath, Stats.json(ListMap(
        "record" -> record, "spans" -> tracer.map(_.spanRecords).getOrElse(Nil))).getBytes(StandardCharsets.UTF_8))
      println("record " + Stats.json(record))

      val metrics =
        if (a.trace) PerLayer.map { case (k, u) =>
          // 0 for a layer this workload does not run, or a host counter it cannot read
          k -> ListMap("value" -> layers.get(k).filterNot(_.isNaN).getOrElse(0.0), "unit" -> u)
        }
        else EndToEnd.map { case (k, u) => k -> ListMap("value" -> endToEnd(k), "unit" -> u) }
      println(Stats.json(ListMap("correct" -> mismatch.isEmpty, "attempted" -> attempted,
        "failed" -> failed, "metrics" -> ListMap(metrics: _*))))
      if (mismatch.isEmpty) 0 else 3
    } finally spark.stop()
  }
}
