package graft.ivm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, lit}

import graft.engine.{Labeled, Pins}
import graft.sources.ChangeWindow

/** The maintenance shared by the lakehouse seams
  * ([[DeltaLakeSnapshots.maintainAgg]], [[IcebergSnapshots.maintainAgg]])
  * — one copy of the subtle parts (null-safe group equality, probes,
  * pinning) instead of one per format. It picks one of three branches
  * from the window's metadata ([[ChangeWindow]]) before any Spark job
  * runs:
  *
  *   1. NEUTRAL window (compaction only, or empty): the stored view is
  *      returned unchanged — zero jobs.
  *   2. rows(inserts) + rows(retracts) > rows(snapshot): the frames would
  *      read more than a recompute (a delete that rewrites a whole file
  *      retracts and re-inserts every survivor), so
  *      view′ = agg(snapshot), ONE eager pin labelled `splice:recompute`.
  *      A tie, or any count the metadata does not state, keeps (3).
  *   3. The GROUP-SCOPED SPLICE:
  *        touched  = distinct `keys` of (inserts ∪ retracts)
  *        view′    = view ∖ touched  ∪  agg(snapshot ⋉ touched)
  *
  * Every branch is exact for ANY deterministic aggregate (min/max/
  * count-distinct included, which subtraction-merging can't retract).
  * Branches 2 and 3 return an EAGER pin and branch 1 the stored view as
  * given, so the new state exists before the caller advances its cut — a
  * failed cycle never moves the cut past changes it hasn't applied.
  *
  * Scale shape of the splice: a single-key touched set of at most
  * [[InlineCap]] values (bounded by the window's churn — the normal case)
  * is INLINED as one null-safe literal predicate. The snapshot arm keeps
  * the rows it matches, which the log-backed index prunes FILES with
  * (partition filter when the key is the partition column, stats skip
  * otherwise) — deterministic, not dependent on runtime DPP firing under
  * a broadcast semi join — and the view keeps the rows it rejects, so
  * the touched set is never pinned or broadcast. Larger or composite
  * touched sets fall back to a pinned touched frame probed by broadcast
  * semi and anti joins.
  */
private[ivm] object LakeSplice {

  /** Above this many touched single-key values, restrict both arms with
    * broadcast joins instead of a literal IN — the driver-side collect is
    * bounded either way.
    */
  private val InlineCap = 10000

  def maintainAgg(view: DataFrame, keys: Seq[String],
      agg: DataFrame => DataFrame, prep: DataFrame => DataFrame,
      window: ChangeWindow): DataFrame =
    if (window.neutral) view
    else if (window.changesOutweighSnapshot)
      // the splice with every group touched: nothing of the view is kept,
      // and the union only fixes the view's column order
      Pins.pin(view.limit(0).unionByName(agg(prep(window.snapshot))),
        "splice:recompute", eager = true)
    else splice(view, keys, agg, prep(window.changes.inserts),
      prep(window.changes.retracts), prep(window.snapshot))

  private def splice(view: DataFrame, keys: Seq[String],
      agg: DataFrame => DataFrame, inserts: DataFrame,
      retracts: DataFrame, snapshot: DataFrame): DataFrame = {
    val spark = view.sparkSession
    val kc = keys.map(col)
    val touched = inserts.select(kc: _*)
      .unionByName(retracts.select(kc: _*)).distinct()
    val inlinableKeyType = keys.size == 1 &&
      (touched.schema.head.dataType match {
        // a struct/array/map grouping value collects as a Row/Seq that
        // `lit()`/`isin` cannot re-literalize — those fall to the joins,
        // which handle any groupable type
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType => false
        case _ => true
      })
    val inlined =
      if (!inlinableKeyType) None
      else {
        val vals = Labeled.job(spark, "splice:touched-collect") {
          touched.limit(InlineCap + 1).collect().map(_.get(0))
        }
        if (vals.length > InlineCap) None
        else {
          // two-valued on every row, NULL keys included (a NULL group
          // value is a real group — SQL GROUP BY semantics, and partition
          // values can be null), so its negation is the exact anti-probe
          val k = col(keys.head)
          val nonNull = vals.filter(_ != null).toIndexedSeq
          val hasNull = nonNull.length < vals.length
          Some(
            if (nonNull.isEmpty) { if (hasNull) k.isNull else lit(false) }
            else if (hasNull) k.isNull || k.isin(nonNull: _*)
            else k.isNotNull && k.isin(nonNull: _*))
        }
      }
    val (kept, repaired) = inlined match {
      case Some(pred) => (view.filter(!pred), agg(snapshot.filter(pred)))
      case None =>
        // pin: δ-sized by construction, probed twice (anti + semi). Lazy,
        // but under AQE building it still runs the distinct's
        // shuffle-stage job; only its final stage waits for the first
        // broadcast build
        val tRen = Pins.pin(touched, "splice:touched-pin").select(
          keys.map(k => col(k).as(s"__touched_$k")): _*)
        val cond = keys.map(k => col(k) <=> col(s"__touched_$k"))
          .reduce(_ && _)
        (view.join(broadcast(tRen), cond, "left_anti"),
          agg(snapshot.join(broadcast(tRen), cond, "left_semi")))
    }
    Pins.pin(kept.unionByName(repaired), "splice:view-pin", eager = true)
  }
}
