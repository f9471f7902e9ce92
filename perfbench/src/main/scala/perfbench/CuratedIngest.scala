package perfbench

import graft.operators.Similarity
import graft.streaming.RollingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import java.io.File
import scala.collection.mutable

/** `curated_ingest`: `RollingIngest.curatedIngest` over a seeded
  * (doc_id, text, embedding) stream fed through a MemoryStream in
  * fixed-size batches, one batch in flight. PQ books are trained on the
  * first batch; the held-out passages are the decontamination benchmark.
  * An operation is one micro-batch, timed from `addData` until
  * `processAllAvailable` returns. Both sinks are collected into the funnel
  * account that `run.py` checks. */
object CuratedIngest extends Workload {
  type Doc = (Long, String, Seq[Float])

  /** Stores compact every this many batches: with 1, every batch after
    * the first folds the previous delta into a new base, so even a run of
    * the minimum two batches compacts each store. */
  val CompactEvery = 1
  /** A run offers at least this many batches, whatever `--seconds` says. */
  val MinBatches = 2

  private def loadBatches(spark: SparkSession, dir: String): Seq[Seq[Doc]] =
    spark.read.schema("batch INT, doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>")
      .json(dir).collect().toSeq
      .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getSeq[Float](3))))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).sortBy(_._1))

  private def fileCount(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else f.listFiles().map(fileCount).sum

  /** Bytes of data files only: Spark's checksum side files are skipped. */
  private def dataBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.endsWith(".crc")) 0L else f.length() }
    else f.listFiles().map(dataBytes).sum

  /** One ingest stream over `batches` into fresh stores under `root`:
    * per-batch latencies, the wall time from training start, the funnel
    * account and the store census go into the result. No separate warm-up
    * stream runs first (one costs as much as the timed batches); the first
    * batch pays the cold start and the median absorbs it. */
  private def ingest(spark: SparkSession, batches: Seq[Seq[Doc]], bench: DataFrame,
                     root: String, seconds: Double, trace: Trace,
                     r: Main.Result): Loop = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (dd, ann) = (s"$root/dedup", s"$root/ann")
    val curation = mutable.ArrayBuffer.empty[(Long, Long, String, String)]
    val decisions = mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
    val lat = mutable.ArrayBuffer.empty[Double]
    var offered = 0L
    val start = System.nanoTime()
    val loop = new Loop
    val (coarse, books) = trace.span("Similarity.train") {
      Similarity.ivfPqTrain(batches.head.map(d => (d._1, d._3)).toDF("vec_id", "embedding"))
    }
    val stream = MemoryStream[Doc]
    val q = trace.span("RollingIngest.start") {
      RollingIngest.curatedIngest(
        stream.toDF().toDF("doc_id", "text", "embedding"), bench, dd, ann,
        coarse, books, compactEvery = CompactEvery,
        configure = _.option("checkpointLocation", s"$root/checkpoint"),
        curationSink = (c, id) => curation ++= c.collect().map(r =>
          (id, r.getLong(0), r.getString(1), r.getString(2))),
        dedupSink = (d, id) => decisions ++= d.collect().map(r =>
          (id, r.getLong(0), r.getLong(1), r.getBoolean(2)))) { (n, _) =>
        n.write.format("noop").mode("overwrite").save()
      }
    }
    val bases = mutable.LinkedHashMap.empty[String, Long]
    var files = 0L
    // the batches run on the stream's own thread: its CPU over the loop
    // counts as the loop's driving CPU
    val StreamThread = "stream execution thread"
    val streamCpu0 = Loop.threadsCpuS(StreamThread)
    var streamCpu = 0.0
    try {
      var i = 0
      while (i < batches.length && (i < MinBatches || Main.secs(start) < seconds)) {
        val t = System.nanoTime()
        trace.span("RollingIngest.batch") {
          stream.addData(batches(i))
          q.processAllAvailable()
        }
        lat += Main.secs(t)
        offered += batches(i).length
        // store census after the batch: files, and every base (compaction
        // output) seen for the first time
        files = Seq(dd, ann).map(d => fileCount(new File(d))).sum
        for (d <- Seq(dd, ann); el <- Option(new File(d).listFiles()).toSeq.flatten
             if el.isDirectory && el.getName.startsWith("base") &&
               !bases.contains(el.getPath))
          bases(el.getPath) = dataBytes(el)
        i += 1
      }
      streamCpu = Loop.threadsCpuS(StreamThread) - streamCpu0
    } finally q.stop()
    loop.end()
    loop.driverCpuS += streamCpu
    val wall = Main.secs(start)
    r("op_latencies_s") = lat.toSeq
    r("op_kind") = "micro-batch"
    r("docs_offered") = offered
    r("ingest_wall_s") = wall
    r("store_bytes") = Seq(dd, ann).map(d => dataBytes(new File(d))).sum
    r("fsck") = Seq(dd, ann).flatMap(d => RollingIngest.fsckStore(spark, d))
    r("curation") = curation.toSeq
    r("decisions") = decisions.toSeq
    val progress = q.recentProgress.toSeq
    for ((key, name) <- Seq("addBatch" -> "add_batch_s",
           "queryPlanning" -> "query_planning_s", "walCommit" -> "wal_commit_s"))
      trace.count(s"RollingIngest.batch.$name", Trace.median(progress.map(p =>
        Option(p.durationMs.get(key)).map(_.doubleValue / 1e3).getOrElse(0.0))))
    trace.count("store.files", files.toDouble)
    trace.count("store.compactions", bases.size.toDouble)
    trace.count("store.bytes_rewritten", bases.values.sum.toDouble)
    loop
  }

  def run(spark: SparkSession, a: RunArgs, trace: Trace, res: Main.Result): Loop = {
    import a._
    val bench = spark.read.schema("doc_id BIGINT, text STRING").json(s"$in/bench.jsonl")
      .select(col("doc_id"), col("text")).cache()
    bench.count()
    ingest(spark, loadBatches(spark, s"$in/batches"), bench, s"$out/main", seconds,
      trace, res)
  }

  def layers(trace: Trace): Map[String, Double] =
    medianByName(trace, Seq("RollingIngest.batch")) ++
      trace.allSpans.filter(s => s.name == "Similarity.train" || s.name == "RollingIngest.start")
        .map(s => s"${s.name}_s" -> (s.endMs - s.startMs) / 1e3)
}
