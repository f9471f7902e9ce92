package perfbench

import graft.operators.{FoundedYear, PortCoPipeline, SeedPipeline, Sinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `pe_pipeline`: the reference pipeline, logs to nested documents, as one
  * timed operation. Each step reads what the step before it wrote:
  *
  *   SeedPipeline   crawl-log JSONL -> PE_firms.csv + detailed_PE.csv
  *   FoundedYear    PE_firms.csv + (website, method, text) -> founded CSV
  *   PortCoPipeline portfolio pages -> ranked portcos (parquet)
  *   Sinks          founded CSV + portcos -> nested per-firm JSON
  *
  * Every execution starts cold: the page artifacts the portco step
  * persists in the session are released after it, as a job cycling
  * through corpora would, so each execution pays the page scan. An
  * operation is one execution, all four steps. */
object PePipeline extends Workload {
  val Layers = Seq("SeedPipeline", "FoundedYear", "PortCoPipeline", "Sinks")
  /** A run executes the pipeline at least this often, whatever `--seconds`
    * says: two, so that a run fits the benchmark's time budget. */
  val MinExecutions = 2

  def execute(spark: SparkSession, in: String, out: String, trace: Trace): Unit = {
    trace.span("SeedPipeline") {
      val firms = SeedPipeline.peFirms(SeedPipeline.readLogs(spark, s"$in/logs"))
      SeedPipeline.writeCsv(SeedPipeline.seedProjection(firms), s"$out/PE_firms")
      SeedPipeline.writeCsv(SeedPipeline.detailedProjection(firms), s"$out/detailed_PE")
    }
    trace.span("FoundedYear") {
      val seed = spark.read.schema("FullName STRING, Website STRING")
        .option("header", "true").csv(s"$out/PE_firms")
      val texts = spark.read.schema("website STRING, method STRING, text STRING")
        .json(s"$in/texts")
      FoundedYear.enrich(seed.select(col("FullName"), col("Website").as("website")), texts)
        .select("FullName", "website", "Founded_Year")
        .write.mode("overwrite").option("header", "true").csv(s"$out/founded")
    }
    trace.span("PortCoPipeline") {
      val pages = spark.read.schema("firm_name STRING, firm_url STRING, html STRING")
        .json(s"$in/pages")
      PortCoPipeline.portcos(pages).write.mode("overwrite").parquet(s"$out/portcos")
    }
    trace.span("Sinks") {
      val firms = spark.read.schema("FullName STRING, website STRING, Founded_Year INT")
        .option("header", "true").csv(s"$out/founded")
        .select(col("FullName").as("firm_name"))
      val nested = Sinks.nestedAssembly(firms, spark.read.parquet(s"$out/portcos"), "firm_name")
      Sinks.writeNestedJson(nested, s"$out/nested")
    }
  }

  def run(spark: SparkSession, a: RunArgs, trace: Trace, res: Main.Result): Loop = {
    import a._
    // warm-up: one untraced execution over the same inputs, so the timed
    // executions run JIT-compiled code at the sizes they measure
    val t0 = System.nanoTime()
    execute(spark, s"$in/main", s"$out/warm", new Trace(false))
    graft.Persisted.clear(spark, "portco_")
    res("warmup_s") = Main.secs(t0)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cached = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    val loop = new Loop
    while (lat.length < MinExecutions || Main.secs(start) < seconds) {
      val t = System.nanoTime()
      trace.span("pipeline") { execute(spark, s"$in/main", s"$out/main", trace) }
      lat += Main.secs(t)
      cached += Main.cachedMb(spark)
      graft.Persisted.clear(spark, "portco_")
    }
    loop.end()
    res("op_latencies_s") = lat.toSeq
    res("op_kind") = "pipeline execution"
    trace.count("Persisted.cached_mb", Trace.median(cached.toSeq))
    loop
  }

  def layers(trace: Trace): Map[String, Double] = medianByName(trace, Layers)
}
