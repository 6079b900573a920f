package graftbench

import java.util.Properties

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark-recorded span: a call into a layer's public function.
  * Times are `System.nanoTime`; `parent` is -1 for a span directly under
  * its operation.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Long, t1: Long)

/** Everything the traced run attributes to one timed operation. Listener
  * fields are written on the listener thread and read only after
  * [[Trace.drain]].
  */
final class OpStats(val id: Int, val kind: String, val name: String) {
  var t0 = 0L
  var t1 = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  var jobs = 0L
  /** Jobs that reached this op through a stream's runId. */
  var streamJobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var shuffleWrite = 0.0
  var shuffleRead = 0.0
  var inputBytes = 0.0
  var inputRecords = 0.0
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var executions = 0L
  /** Workload-specific values (rung, pins, bytes) keyed by metric name. */
  val extra = TrieMap.empty[String, Double]

  def wallMs: Double = (t1 - t0) / 1e6
  def jobMs: Double = Stats.unionLength(jobIntervals.toSeq).toDouble
  def group: String = Trace.groupOf(id)
}

/** The traced run's recorder. Disabled (the default), [[op]] and [[span]]
  * only evaluate their bodies, so the end-to-end runs carry no tracing.
  *
  * Spark work is attributed by job group: [[op]] sets a group naming the
  * operation, and every job, stage and SQL execution whose group names it
  * belongs to it. A stream's micro-batches run under the stream's runId as
  * their group; [[op]] maps that runId to itself when the stream starts
  * (`onQueryStarted` is delivered synchronously, before the first batch).
  */
object Trace {
  @volatile private var enabled = false
  private var sc: SparkContext = _
  private val opsBuf = ArrayBuffer.empty[OpStats]
  private val spansBuf = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  @volatile private var current: OpStats = _
  private val byGroup = TrieMap.empty[String, OpStats]
  private val byJob = TrieMap.empty[Int, (OpStats, Long)]
  private val byStage = TrieMap.empty[Int, OpStats]
  private val byExec = TrieMap.empty[Long, OpStats]

  def groupOf(opId: Int): String = s"graftbench-op-$opId"

  def on: Boolean = enabled

  def ops: Seq[OpStats] = opsBuf.toSeq
  def spans: Seq[Span] = spansBuf.toSeq

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Attribution)
    spark.streams.addListener(StreamStarts)
    enabled = true
  }

  /** Stop recording (listeners stay registered but see no new groups). */
  def stop(): Unit = enabled = false

  def reset(): Unit = {
    opsBuf.clear(); spansBuf.clear(); stack = Nil
    byGroup.clear(); byJob.clear(); byStage.clear(); byExec.clear()
  }

  def drain(): Unit = if (sc != null) org.apache.spark.GraftBenchBus.drain(sc)

  /** Run `body` as one timed operation. */
  def op[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val o = new OpStats(opsBuf.size, kind, name)
      opsBuf += o
      byGroup.put(o.group, o)
      sc.setJobGroup(o.group, s"$kind $name", interruptOnCancel = false)
      current = o
      stack = Nil
      o.t0 = System.nanoTime()
      try body
      finally {
        o.t1 = System.nanoTime()
        current = null
        sc.clearJobGroup()
      }
    }

  /** Record a span around one call into a layer. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || current == null) body
    else {
      val o = current
      val id = spansBuf.size
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      stack = id :: stack
      spansBuf += Span(id, parent, o.id, name, t0, t0)
      try body
      finally {
        stack = stack.tail
        spansBuf(id) = spansBuf(id).copy(t1 = System.nanoTime())
      }
    }

  /** Record a workload-specific value on the current operation. */
  def note(key: String, value: Double): Unit =
    if (enabled && current != null)
      current.extra.put(key, current.extra.getOrElse(key, 0.0) + value)

  /** Self time of each span of `op` (its duration minus what its child
    * spans cover), plus `unattributed_ms`: the op's wall time not covered
    * by any top-level span. These sum to the op's wall time.
    */
  def selfTimes(o: OpStats, all: Seq[Span] = spans): Map[String, Double] = {
    val mine = all.filter(_.op == o.id)
    val kids = mine.groupBy(_.parent)
    def iv(s: Span) = (s.t0, s.t1)
    val self = mine.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        Stats.uncovered(iv(s), kids.getOrElse(s.id, Nil).map(iv)) / 1e6
      }.sum
    }
    val top = kids.getOrElse(-1, Nil).map(iv)
    self + ("unattributed_ms" -> Stats.uncovered((o.t0, o.t1), top) / 1e6)
  }

  private[graftbench] def resolve(group: String): Option[OpStats] =
    Option(group).flatMap(byGroup.get)

  private[graftbench] def mapStream(runId: String): Unit = {
    val o = current
    if (enabled && o != null) byGroup.put(runId, o)
  }

  private def groupIn(p: Properties): String =
    if (p == null) null else p.getProperty("spark.jobGroup.id")

  /** Job/stage/SQL-execution attribution by job group. */
  object Attribution extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = groupIn(e.properties)
      resolve(group).foreach { o =>
        byJob.put(e.jobId, (o, e.time))
        e.stageIds.foreach(byStage.put(_, o))
        o.synchronized {
          o.jobs += 1
          if (group != o.group) o.streamJobs += 1
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      byJob.remove(e.jobId).foreach { case (o, t0) =>
        o.synchronized { o.jobIntervals += ((t0, e.time)) }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      byStage.get(e.stageInfo.stageId).foreach { o =>
        val m = e.stageInfo.taskMetrics
        o.synchronized {
          o.stages += 1
          o.tasks += e.stageInfo.numTasks
          if (m != null) {
            o.runMs += m.executorRunTime
            o.cpuMs += m.executorCpuTime / 1e6
            o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            o.inputBytes += m.inputMetrics.bytesRead
            o.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.flatMap(resolve).foreach(byExec.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        byExec.remove(end.executionId).foreach { o =>
          val phases = org.apache.spark.sql.GraftBenchPhases.of(end)
          def ms(p: String) = phases.getOrElse(p, 0L).toDouble
          o.synchronized {
            o.executions += 1
            o.analysisMs += ms("analysis")
            o.optimizationMs += ms("optimization")
            o.planningMs += ms("planning")
          }
        }
      case _ =>
    }
  }

  object StreamStarts extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      mapStream(e.runId.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
