package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run inside one JVM. `perfbench/run.py` generates the
  * inputs, launches this main, then checks the outputs it leaves behind.
  *
  * Usage: perfbench.Main --workload <name> --in <dir> --out <dir>
  *          --seconds <s> --trace <0|1> --seed <n> --launch-ms <epoch ms>
  *
  * Writes `<out>/result.json`: set-up time, per-operation latencies,
  * report figures, counts and (traced runs) span aggregates. */
object Main {

  /** The run's record, written as result.json: fields in insertion order. */
  type Result = mutable.LinkedHashMap[String, Any]

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The session `graft.Bench` configures: local[nproc], shuffle
    * partitions = nproc, UTC, the program's planner extensions. Scratch
    * space stays inside the run's output directory. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The fixed probe the set-up ends with: one small aggregate through
    * the planner and the noop sink. */
  private def probe(spark: SparkSession): Unit =
    spark.range(0, 100000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS k", "id AS v").groupBy("k").sum("v")
      .write.format("noop").mode("overwrite").save()

  /** Bytes held by cached relations (Spark's storage info), in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** CPU seconds this JVM has used since it started, all threads. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productIterator.toSeq)
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val (in, out) = (opt("in"), opt("out"))
    val trace = new Trace(opt("trace") == "1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val res: Result = mutable.LinkedHashMap.empty
    res("cpus") = cpus
    res("jvm_start_s") = (mainMs - opt("launch-ms").toLong) / 1e3

    // Set-up, once and cold, as every deployment of the program pays it:
    // session build plus one probe through the program's planner extensions.
    // Its CPU time, all threads from JVM start on, is the gated figure: it
    // moves with the work done, not with time the host withholds (steal).
    val setup0 = System.nanoTime()
    val spark = session(cpus, out + "/scratch")
    probe(spark)
    res("setup_wall_s") = secs(setup0)
    res("setup_cpu_s") = processCpuS()
    val cpu = new CpuMeter
    spark.sparkContext.addSparkListener(cpu)
    trace.install(spark)
    val (_, hits0, misses0) = graft.plans.SessionBroadcastCache.stats(spark.sparkContext)

    val t0 = System.nanoTime()
    val w: Workload = workload match {
      case "pe_pipeline" => PePipeline
      case "curated_ingest" => CuratedIngest
      case "declared_queries" => DeclaredQueries
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loop = w.run(spark, RunArgs(in, out, opt("seconds").toDouble, opt("seed").toLong),
      trace, res)
    res("workload_wall_s") = secs(t0)
    // the session caches as the workload left them
    val (entries, hits, misses) = graft.plans.SessionBroadcastCache.stats(spark.sparkContext)
    val lookups = hits - hits0 + misses - misses0
    trace.count("SessionBroadcastCache.entries", entries.toDouble)
    trace.count("SessionBroadcastCache.hit_ratio",
      if (lookups == 0) 0.0 else (hits - hits0).toDouble / lookups)
    if (!trace.counts.contains("Persisted.cached_mb"))
      trace.count("Persisted.cached_mb", cachedMb(spark))
    spark.stop() // drains the listener bus before the trace is read
    res("executor_cpu_s") = cpu.cpuNs.get / 1e9
    // CPU spent on the timed loop: its tasks plus the thread driving it
    res("loop_cpu_s") = cpu.between(loop.startMs, loop.endMs) + loop.driverCpuS
    res("rss_peak_mb") = rssPeakMb()
    if (trace.enabled) {
      res("spans") = trace.allSpans
      res("layers") = w.layers(trace)
      res("counts") = trace.counts
    }
    Files.writeString(Paths.get(out, "result.json"), json(res))
  }
}

/** What a workload is given: input and output directories, the seconds to
  * measure for, and the seed. */
final case class RunArgs(in: String, out: String, seconds: Double, seed: Long)

/** A benchmark workload: runs its warm-up and timed loop in the given
  * session, records per-operation latencies and report figures into the
  * result, and maps its spans to the per-layer metrics. Returns the timed
  * loop's bounds. */
trait Workload {
  def run(spark: SparkSession, a: RunArgs, trace: Trace, res: Main.Result): Loop

  /** `<layer>.<quantity>` -> value, from the recorded spans. */
  def layers(trace: Trace): Map[String, Double]

  /** Median over the instances of each named span, per quantity. */
  protected def medianByName(trace: Trace, names: Seq[String]): Map[String, Double] =
    names.flatMap { n =>
      val qs = trace.allSpans.filter(_.name == n).map(trace.quantities)
      if (qs.isEmpty) Nil
      else qs.head.keys.map(k => s"$n.$k" -> Trace.median(qs.map(_(k))))
    }.toMap
}
