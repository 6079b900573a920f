package graftbench

import java.io.File

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.SparkEntry
import graft.pipeline.{Dedup, Multimodal, PipelineQueries, Similarity, TextOps}

/** `query_mix`: a fixed sample of the declared queries that land no commit
  * (batch) and of the declared `stream_*` replays, in seeded order. Each
  * operation is timed from `QueryDef.run` through a noop-sink write; for a
  * stream, `QueryDef.run` replays it from start to its final generation.
  * One cold pass (the first execution of each batch query in the process),
  * then whole warm passes ([[Rounds.loop]]).
  * Micro-batch durations come from a `StreamingQueryListener`, read after
  * the listener bus drains.
  */
final class QueryMix(spark: SparkSession, a: Args) extends Workload {
  import QueryMix._

  private val names: Seq[String] = new Random(a.seed).shuffle(Batch ++ Streams)
  private val checkDir = new File(a.root, "checks")
  private val checked = scala.collection.mutable.Set.empty[String]

  /** Micro-batch progress keyed by the stream's runId. */
  private val progress = TrieMap.empty[String, ArrayBuffer[StreamingQueryProgress]]
  @volatile private var runIds: ArrayBuffer[String] = _

  private object Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val r = runIds
      if (r != null) r.synchronized { r += e.runId.toString }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val buf = progress.getOrElseUpdate(e.progress.runId.toString, ArrayBuffer.empty)
      buf.synchronized { buf += e.progress }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(Listener)

  /** Stage every fixture: building a batch query stages its inputs, and
    * building a stream query replays it once, which stages its source.
    */
  def setup(): Unit = names.foreach { n =>
    try { SparkEntry.queries(n)(spark, a.data); () }
    catch { case _: Throwable => () } // the timed pass reports it
  }

  private def execute(n: String, rec: Recorder, cold: Boolean): Unit = {
    val stream = Streams.contains(n)
    val ids = ArrayBuffer.empty[String]
    runIds = ids
    var df: DataFrame = null
    val secs = rec.attempt(n)(Trace.op(if (stream) "replay" else "query", n) {
      df = Trace.span("engine.build")(SparkEntry.queries(n)(spark, a.data))
      Trace.span("engine.exec")(df.write.format("noop").mode("overwrite").save())
    })
    runIds = null
    secs.foreach { s =>
      if (!stream) rec.add(if (cold) "query_cold_s" else "query_warm_s", s)
      else {
        // a stream's result is its pinned final generation, so checking
        // the timed replay's output re-runs no stream
        if (checked.add(n)) writeCheck(n, df, rec)
        recordBatches(s, ids.synchronized(ids.toList), rec)
      }
    }
  }

  private def recordBatches(secs: Double, ids: Seq[String], rec: Recorder): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val batches = ids.flatMap(id => progress.remove(id).map(_.toList).getOrElse(Nil))
    def dur(p: StreamingQueryProgress, k: String) =
      p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)
    val trigger = batches.map(dur(_, "triggerExecution"))
    rec.add("replay_s", secs)
    trigger.foreach(d => rec.add("stream_batch_s", d / 1e3))
    rec.add("streaming.batches", batches.size.toDouble)
    rec.add("streaming.input_rows", batches.map(_.numInputRows.toDouble).sum)
    rec.add("streaming.add_batch_ms", batches.map(dur(_, "addBatch")).sum)
    rec.add("streaming.wal_commit_ms", batches.map(dur(_, "walCommit")).sum)
    rec.add("streaming.query_planning_ms", batches.map(dur(_, "queryPlanning")).sum)
    val state = batches.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    rec.add("streaming.state_rows", state.map(_.numRowsTotal.toDouble).sum)
    rec.add("streaming.state_bytes", state.map(_.memoryUsedBytes.toDouble).sum)
    rec.add("streaming.startup_ms", secs * 1e3 - trigger.sum)
  }

  private var coldDone = false

  def run(seconds: Int, rec: Recorder): Unit = {
    // the set-up already replayed each stream once to stage its source
    if (!coldDone) names.filterNot(Streams.contains).foreach(execute(_, rec, cold = true))
    coldDone = true
    Rounds.loop(seconds)(names.foreach(execute(_, rec, cold = false)))
  }

  private def writeCheck(n: String, df: DataFrame, rec: Recorder): Unit =
    try df.coalesce(1).write.mode("overwrite").parquet(new File(checkDir, n).getPath)
    catch { case e: Throwable => rec.fail(s"check:$n", e) }

  /** Batch results are written by one more, untimed execution. */
  def check(rec: Recorder): Unit = Batch.foreach { n =>
    try writeCheck(n, SparkEntry.queries(n)(spark, a.data), rec)
    catch { case e: Throwable => rec.fail(s"check:$n", e) }
  }

  override def oracleChecks: Seq[Map[String, Any]] = names.map { n =>
    Map("op" -> n, "path" -> new File(checkDir, n).getPath,
      "oracle" -> SparkEntry.oracleSql.get(n))
  }

  /** Every warm batch execution and every stream replay, one sample each;
    * micro-batches stay out, since the program sets how many there are.
    */
  def opSeconds(rec: Recorder): Seq[Double] =
    rec.get("query_warm_s") ++ rec.get("replay_s")

  def details(rec: Recorder): Seq[Metric] = {
    val warm = rec.get("query_warm_s")
    val batches = rec.get("stream_batch_s")
    val cold = rec.get("query_cold_s")
    Seq(Metric.median("query_p50_s", "s", warm),
      Metric.pct("query_p90_s", "s", warm, 90),
      Metric("queries_per_s", "1/s", warm.size / warm.sum, warm.size, "rate"),
      Metric.median("replay_p50_s", "s", rec.get("replay_s")),
      Metric.median("stream_batch_p50_s", "s", batches),
      Metric.pct("stream_batch_p90_s", "s", batches, 90)) ++
      // cold executions happen once per process, in the first round
      (if (cold.isEmpty) Nil else Seq(Metric.median("query_cold_p50_s", "s", cold)))
  }

  def layers(rec: Recorder): Map[String, Double] = {
    val ops = Trace.ops
    def family(defs: Seq[graft.engine.QueryDef]) = {
      val ns = defs.map(_.name).toSet
      Layers.mean(ops.filter(o => ns(o.name)).map(_.wallMs))
    }
    StreamMetrics.map(m => m -> Layers.mean(rec.get(m))).toMap ++ Map(
      "engine.build_ms" -> Layers.spanMs(ops, "engine.build"),
      "engine.exec_ms" -> Layers.spanMs(ops, "engine.exec"),
      "pipeline.op_ms.dedup" -> family(Dedup.all),
      "pipeline.op_ms.similarity" -> family(Similarity.all),
      "pipeline.op_ms.text" -> family(TextOps.all ++ PipelineQueries.all),
      "pipeline.op_ms.multimodal" -> family(Multimodal.all))
  }
}

object QueryMix {
  /** A stratified sample of the 104 declared queries that land no commit:
    * cut into seven strata of equal count by measured warm time, the query
    * nearest each stratum's median time, with a pipeline family not yet
    * covered winning among queries within 5 % of it. `sample_queries.py`
    * derives it from a `graft.Bench` result and prints how it compares with
    * the full set. The seed orders the sample; it does not choose it.
    */
  val Batch: Seq[String] = Seq(
    "iceberg_days_partition", "text_stats", "multimodal_frames", "similarity_topk",
    "bigram_coverage", "dedup_minhash", "unpivot_long")

  /** The same rule with one stratum over the 11 declared `stream_*`
    * queries: the median stream. Seven batch queries and one stream give
    * the streams the share of warm time they have in the full sets.
    */
  val Streams: Seq[String] = Seq("stream_deltalake_cdf")

  val StreamMetrics: Seq[String] = Seq("batches", "input_rows", "add_batch_ms",
    "wal_commit_ms", "query_planning_ms", "state_rows", "state_bytes", "startup_ms")
    .map(m => s"streaming.$m")
}
