package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.GraftSql

/** The engine's one way to pin a frame: a materialized common
  * subexpression. `pin` cuts the frame's plan to a LogicalRDD leaf
  * (`Dataset.localCheckpoint`), so a subplan a caller references several
  * times executes once, and copies of one delta subtree never share a
  * query plan (the exchange-reuse hazard documented at
  * [[graft.ivm.Ivm.SignedDelta.applyTo]]).
  *
  * Every pin runs as job `graft: <label>` ([[Labeled]]) under the job tag
  * [[Tag]] (so [[plansDuring]] can find its plan), re-homes the leaf's
  * constraints onto its output ([[GraftSql.normalizeRddConstraints]] — a
  * raw checkpoint leaf re-minted into a Union can carry stale constraint
  * ExprIds and break the Union's constraint rewrite), and is dropped
  * through [[release]].
  *
  * `eager = false` cuts the plan now and fills the blocks inside the first
  * job that reads them (computed once, cached). Under AQE building a lazy
  * pin still runs the pinned subplan's shuffle-stage jobs; only its final
  * stage waits for the first consumer. `eager = true` adds that final-stage
  * job now, for callers that must hold the rows before they move on
  * (delete the pin's input, advance a version cut).
  */
object Pins {

  /** The job tag every pin's execution carries. */
  private val Tag = "graft-pin"

  def pin(df: DataFrame, label: String, eager: Boolean = false): DataFrame = {
    val sc = df.sparkSession.sparkContext
    Labeled.job(df.sparkSession, label) {
      sc.addJobTag(Tag)
      try GraftSql.normalizeRddConstraints(df.localCheckpoint(eager))
      finally sc.removeJobTag(Tag)
    }
  }

  /** Drop a pin's blocks now instead of when the ContextCleaner notices
    * the frame was garbage-collected — an iterative loop that supersedes a
    * pin per round otherwise accumulates dead blocks between GCs. ONLY for
    * pins that are never read again: a checkpoint leaf cannot recompute
    * its blocks. A frame that is not a pin is left alone.
    */
  def release(df: DataFrame): Unit = GraftSql.dropCheckpointBlocks(df)

  /** `body`'s result and the physical plan (as the SQL execution-start
    * event prints it) of every pin built while `body` ran — the subtrees
    * a pinned frame's own plan shows only as RDD scans.
    */
  def plansDuring[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(Tag) =>
          plans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    GraftSql.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSql.drainListenerBus(sc)
      (out, plans.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
