package perfbench

import graft.QueryDef
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** `declared_queries`: the first query of each family of
  * `graft.SparkEntry.defs` (14 queries, so every family keeps its span
  * while a run stays within its budget), each executed into the noop sink,
  * one in flight. The first pass over the fixture tables builds the session
  * stores (`Persisted`, `SessionBroadcastCache`) and each later pass hits
  * them. The seed fixes the order queries run in within a pass. After the
  * timed passes, one untimed pass in the same session writes every result
  * as parquet for the oracle compare, so the results checked are the ones
  * served from the session stores. */
object DeclaredQueries extends Workload {
  /** The query families of `SparkEntry.defs`, in its order. */
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "CoreQueries" -> CoreQueries.all, "Consensus" -> Consensus.all,
    "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
    "TextAnalysis" -> TextAnalysis.all, "Multimodal" -> Multimodal.all,
    "ExtendedQueries" -> ExtendedQueries.all, "TemporalQueries" -> TemporalQueries.all,
    "PipelineQueries" -> PipelineQueries.all, "SpecExtractors" -> SpecExtractors.all,
    "EventAnalytics" -> EventAnalytics.all, "Clustering" -> Clustering.all,
    "GraphQueries" -> GraphQueries.all, "QualityQueries" -> QualityQueries.all)

  /** A run makes at least this many passes (the first and one repeat),
    * whatever `--seconds` says. */
  val MinPasses = 2

  private val familyOf: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** The queries a run times: the first of each family. */
  lazy val selection: Seq[String] =
    families.flatMap(_._2.headOption.map(_.name))
      .filter(graft.SparkEntry.queries.contains).sorted

  def run(spark: SparkSession, a: RunArgs, trace: Trace, res: Main.Result): Loop = {
    import a._
    val queries = graft.SparkEntry.queries
    val order = new scala.util.Random(seed).shuffle(selection)
    val failed = mutable.LinkedHashMap.empty[String, String]
    def exec(name: String, sink: DataFrame => Unit): Boolean =
      try { sink(queries(name)(spark, s"$in/data")); true }
      catch { case e: Throwable => failed(name) = String.valueOf(e.getMessage).take(300); false }
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()

    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var (attempted, failedOps) = (0, 0)
    val start = System.nanoTime()
    val loop = new Loop
    while (passes.length < MinPasses || Main.secs(start) < seconds) {
      val pass = trace.span(if (passes.isEmpty) "pass.first" else "pass.repeat") {
        order.map { name =>
          val t = System.nanoTime()
          trace.span("family:" + familyOf.getOrElse(name, "other")) {
            if (!exec(name, noop)) failedOps += 1
          }
          attempted += 1
          name -> Main.secs(t)
        }
      }
      passes += pass
    }
    loop.end()
    res("op_kind") = "declared-query execution"
    res("pass_latencies_s") = passes.map(_.toMap).toSeq
    res("attempted") = attempted
    res("failed") = failedOps
    res("failed_timed") = failed.clone()
    failed.clear()
    // the checked results, one parquet file per query
    order.foreach(name =>
      exec(name, _.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")))
    res("failed_queries") = failed
    loop
  }

  /** Family spans are summed over the first repeat pass. */
  def layers(trace: Trace): Map[String, Double] = {
    val spans = trace.allSpans
    spans.find(_.name == "pass.repeat").toSeq.flatMap { pass =>
      spans.filter(s => s.parent == pass.id && s.name.startsWith("family:"))
        .groupBy(_.name.stripPrefix("family:")).toSeq.flatMap { case (f, ss) =>
          val qs = ss.map(trace.quantities)
          Seq("wall_s", "jobs", "between_jobs_s", "catalyst_s", "task_cpu_s")
            .map(k => s"$f.$k" -> qs.map(_(k)).sum)
        }
    }.toMap
  }
}

/** Writes the oracle SQL (`graft.SparkEntry.oracleSql`) of the timed
  * queries as one JSON object to the path in `args(0)`: the DuckDB side of
  * the declared-query check. */
object OracleSql {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Main.json(DeclaredQueries.selection.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
}
