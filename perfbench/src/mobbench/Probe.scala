package mobbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Counters of this JVM, read through the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def cpuNs: Long = os.getProcessCpuTime
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Peak used bytes since the last reset, summed over the heap pools. */
  def heapPeakBytes: Long = heapPools.iterator.map(_.getPeakUsage.getUsed).sum
  def gcMs: Long = gcs.iterator.map(_.getCollectionTime).filter(_ > 0).sum
}

/** Host counters from /proc, for the run context. */
object Host {
  /** (steal, total) jiffies summed over all CPUs: the aggregate `cpu`
    * line of /proc/stat, whose first eight fields are user, nice,
    * system, idle, iowait, irq, softirq and steal (guest time is
    * already inside user).
    */
  def cpuJiffies(): Option[(Long, Long)] = firstLine("/proc/stat", "cpu ").map { l =>
    val f = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (if (f.length == 8) f(7) else 0L, f.sum)
  }

  def stealFrac(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    (from, to) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => Double.NaN
    }

  /** One-minute load average. */
  def loadavg(): Double =
    firstLine("/proc/loadavg", "").map(_.trim.split("\\s+")(0).toDouble).getOrElse(Double.NaN)

  private def firstLine(path: String, prefix: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(prefix)) finally src.close()
    } catch { case _: java.io.IOException => None }
}

/** Scheduler totals between two resets: jobs, stages, tasks and the
  * task metrics the fit's layers move.
  */
final class JobTotals extends SparkListener {
  private val started = scala.collection.mutable.Map[Int, Long]()
  private var jobs, stages, tasks, jobWallMs, runMs, cpuNs = 0L
  private var resultBytes, shuffleWrite, shuffleRead, spill = 0L

  def reset(): Unit = synchronized {
    started.clear()
    jobs = 0; stages = 0; tasks = 0; jobWallMs = 0; runMs = 0; cpuNs = 0
    resultBytes = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
  }

  def snapshot(): Map[String, Double] = synchronized {
    Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "job_wall_s" -> jobWallMs / 1e3, "executor_run_s" -> runMs / 1e3,
      "executor_cpu_s" -> cpuNs / 1e9, "result_bytes" -> resultBytes.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; started(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(s => jobWallMs += e.time - s)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      resultBytes += m.resultSize
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Rows each finished query returned to its caller: the output-row
  * metric of the topmost plan node that has one.  For a collect that
  * is the number of rows moved to the driver.
  */
final class CollectRows extends QueryExecutionListener {
  private var rows = 0L
  def reset(): Unit = synchronized { rows = 0 }
  def total: Long = synchronized(rows)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "collect") synchronized { rows += CollectRows.rootRows(qe.executedPlan).getOrElse(0L) }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object CollectRows {
  def rootRows(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => rootRows(a.executedPlan)
    case q: QueryStageExec => rootRows(q.plan)
    case _ =>
      p.metrics.get("numOutputRows").map(_.value).orElse(p.children match {
        case Seq(c) => rootRows(c)
        case _ => None
      })
  }
}

/** One timed layer call of traced op `op`, in seconds since the tracer started. */
final case class Span(op: Int, name: String, startS: Double, endS: Double)

/** The traced run's instruments, all registered from outside the
  * library at the start of the traced half: a SparkListener and a
  * query-execution listener, plus in-memory spans written once at the
  * end of the run.
  */
final class Tracer(spark: SparkSession) {
  val jobs = new JobTotals
  val rows = new CollectRows
  private val spans = ArrayBuffer[Span]()
  private val t0 = System.nanoTime()
  private var installed = false

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(rows)
    installed = true
  }

  def drain(): Unit = BenchBridge.drain(spark.sparkContext)

  /** Time `f` as a span of traced op `op`. */
  def span[A](name: String, op: Int)(f: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = f
    val e = System.nanoTime()
    spans += Span(op, name, (s - t0) / 1e9, (e - t0) / 1e9)
    (r, (e - s) / 1e9)
  }

  /** Run `f` as a span with fresh listener totals; returns its result,
    * its wall seconds, the scheduler totals and the rows collected.
    */
  def window[A](name: String, op: Int)(f: => A): (A, Double, Map[String, Double], Long) = {
    drain(); jobs.reset(); rows.reset()
    val (r, wall) = span(name, op)(f)
    drain()
    (r, wall, jobs.snapshot(), rows.total)
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map[String, Any](
    "op" -> s.op, "name" -> s.name, "start_s" -> s.startS, "end_s" -> s.endS))
}
