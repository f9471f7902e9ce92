package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One timed region around the benchmark's own call into a program layer:
  * name, wall-clock start/end (epoch ms) and the span that encloses it
  * (0 = none). */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long)

/** Executor CPU time of every finished task, by launch time. Installed in
  * every run (traced or not): CPU time does not count hypervisor steal, so
  * it is reported beside wall time. */
final class CpuMeter extends SparkListener {
  val cpuNs = new AtomicLong
  private val byLaunch = ArrayBuffer.empty[(Long, Long)]
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
      synchronized { byLaunch += ((e.taskInfo.launchTime, e.taskMetrics.executorCpuTime)) }
    }

  /** CPU seconds of the tasks launched in [fromMs, toMs]. */
  def between(fromMs: Long, toMs: Long): Double = synchronized {
    byLaunch.collect { case (t, ns) if t >= fromMs && t <= toMs => ns }.sum / 1e9
  }
}

/** The traced run's in-memory record: spans from the benchmark's own code,
  * the Spark jobs, tasks and Catalyst phases seen through Spark's public
  * listener APIs, and named counts. Nothing is written until the run ends.
  * With `enabled = false` every method is a pass-through and no listener
  * is installed, so untraced runs pay nothing for it. */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val phases = ArrayBuffer.empty[Phase]
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(0)
      val t0 = System.currentTimeMillis()
      open = id :: open
      try body
      finally {
        open = open.tail
        val t1 = System.currentTimeMillis()
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  def count(name: String, v: Double): Unit = if (enabled) counts(name) = v

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        tasks += Task(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
          e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      Trace.this.synchronized {
        Seq("analysis", "optimization", "planning").flatMap(ps.get).foreach(p =>
          phases += Phase(p.startTimeMs, p.durationMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Per-instance quantities of one span. Jobs and Catalyst phases belong
    * to the span their start falls in, tasks to the span their launch falls
    * in: the workloads are closed loops with one operation in flight, so
    * time attribution is exact. Call after the session stopped, which
    * drains the listener bus. */
  def quantities(s: Span): Map[String, Double] = synchronized {
    def in(t: Long) = t >= s.startMs && t <= s.endMs
    val js = jobs.filter(j => in(j.start)).sortBy(_.start)
    // union of the jobs' intervals, clipped to the span
    var covered = 0L
    var reach = s.startMs
    js.foreach { j =>
      val a = math.max(j.start, reach)
      val b = math.min(j.end, s.endMs)
      if (b > a) { covered += b - a; reach = b }
    }
    val ts = tasks.filter(t => in(t.launch))
    val slowest = ts.groupBy(t => (t.stage, t.attempt)).values
      .maxByOption(g => g.map(_.finish).max - g.map(_.launch).min)
    val skew = slowest.map { g =>
      val runs = g.map(_.runMs).sorted
      runs.last.toDouble / math.max(runs(runs.length / 2), 1L)
    }.getOrElse(0.0)
    Map(
      "wall_s" -> (s.endMs - s.startMs) / 1e3,
      "jobs" -> js.size.toDouble,
      "between_jobs_s" -> (s.endMs - s.startMs - covered) / 1e3,
      "catalyst_s" -> phases.filter(p => in(p.start)).map(_.durMs).sum / 1e3,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "skew" -> skew)
  }
}

/** The timed loop's bounds: wall clock and the CPU time of the thread that
  * drives it (Catalyst, planning and job submission run there). A workload
  * whose operations are driven by another thread adds that thread's CPU to
  * `driverCpuS` after `end()`. */
final class Loop {
  private def threadCpuNs = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
  val startMs: Long = System.currentTimeMillis()
  private val cpu0 = threadCpuNs
  var endMs = 0L
  var driverCpuS = 0.0
  def end(): Unit = {
    endMs = System.currentTimeMillis()
    driverCpuS = (threadCpuNs - cpu0) / 1e9
  }
}

object Loop {
  /** CPU seconds so far of the live threads whose name starts with `prefix`. */
  def threadsCpuS(prefix: String): Double = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getThreadInfo(mx.getAllThreadIds).filter(i => i != null && i.getThreadName.startsWith(prefix))
      .map(i => math.max(mx.getThreadCpuTime(i.getThreadId), 0L)).sum / 1e9
  }
}

object Trace {
  private final case class Job(start: Long, end: Long)
  private final case class Task(stage: Int, attempt: Int, launch: Long,
                                finish: Long, runMs: Long, cpuNs: Long,
                                shuffleWrite: Long)
  private final case class Phase(start: Long, durMs: Long)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}
