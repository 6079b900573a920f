package graft.ivm

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Iceberg

/** Iceberg-backed snapshot registry — the second lakehouse format behind
  * the [[DeltaSources]]/`ResolvePosDeltaScan` seam, proving the seam is
  * format-agnostic: the cut is a SNAPSHOT ID, the registered predicate
  * is the cut snapshot's file set complemented
  * (`_metadata.file_name NOT IN (...)`), and — like the Delta source —
  * the predicate references only the `file_name` file constant, so the
  * log-backed index prunes pre-cut files from the PLAN (a δ arm opens
  * only post-cut files). Same maintenance cycle as
  * [[DeltaLakeSnapshots]]: track → view → Ivm.delta → advance.
  *
  * The append-only guard is file-set based (every cut-live file still
  * live, schema unchanged — [[Iceberg.isAppendOnly]]): a snapshot that
  * rewrote or deleted files fails fast with the rebase instruction
  * rather than replaying rewritten rows as inserts.
  */
object IcebergSnapshots {

  private final case class State(dir: String, cutSnapshot: Option[Long])
  private val states = TrieMap[String, State]()

  def track(spark: SparkSession, table: String, dir: String,
      at: Option[Long] = None): Unit = {
    states.put(table, State(dir, at))
    sync(spark, table)
  }

  def cut(table: String): Option[Long] = stateOf(table).cutSnapshot

  /** Advance the cut to the current snapshot. Returns whether it moved. */
  def advance(spark: SparkSession, table: String): Boolean = {
    val s = stateOf(table)
    val latest = Iceberg.currentSnapshotId(s.dir)
    if (s.cutSnapshot.contains(latest)) false
    else {
      states.put(table, s.copy(cutSnapshot = Some(latest)))
      sync(spark, table)
      true
    }
  }

  /** (Re-)derive the snapshot view for this cycle, guarded append-only
    * (resolved once at one snapshot id — no TOCTOU between the guard
    * and the scan).
    */
  def view(spark: SparkSession, table: String): DataFrame = {
    val s = stateOf(table)
    val latest = Iceberg.currentSnapshotId(s.dir)
    s.cutSnapshot.foreach { cs =>
      require(Iceberg.isAppendOnly(spark, s.dir, cs, latest),
        s"IcebergSnapshots: snapshots ($cs, $latest] of ${s.dir} are not " +
          "pure appends (a rewrite, delete, or schema change landed): " +
          "the file-set cut would replay rewritten rows — advance the " +
          "cut and rebase the maintained view from the current snapshot")
    }
    val df = Iceberg.snapshotWithMeta(spark, s.dir,
      snapshotId = Some(latest))
    df.createOrReplaceTempView(table)
    df
  }

  /** The DELETE-AWARE seam, Iceberg edition (see
    * [[DeltaLakeSnapshots.signedRows]]): the signed row diff of the
    * tracked table across `(cut, current]` — a copy-on-write DELETE's
    * rewrite nets to exactly the deleted rows under the signed algebra.
    */
  def signedRows(spark: SparkSession, table: String,
      to: Option[Long] = None): Ivm.SignedDelta = {
    val s = stateOf(table)
    val ch = Iceberg.changes(spark, s.dir, s.cutSnapshot.getOrElse(
      throw new IllegalStateException(
        s"IcebergSnapshots: '$table' has no cut snapshot; track with " +
          "at = Some(snapshotId) — a from-scratch window has no stored " +
          "view to maintain")), to)
    Ivm.SignedDelta(ch.inserts, ch.retracts)
  }

  /** Advance the cut to EXACTLY `snapshotId` — the partner of a
    * [[signedRows]] cycle (see [[DeltaLakeSnapshots.advanceTo]]: plain
    * `advance` re-resolves the current snapshot independently, so a
    * snapshot landing between the read and the advance would be skipped
    * over without ever being applied).
    */
  def advanceTo(spark: SparkSession, table: String,
      snapshotId: Long): Unit = {
    val s = stateOf(table)
    states.put(table, s.copy(cutSnapshot = Some(snapshotId)))
    sync(spark, table)
  }

  /** Row-wise view through the delete window — apply `q` to both signed
    * frames (deterministic projection/filter commutes with the pair).
    */
  def signedThrough(spark: SparkSession, table: String,
      to: Option[Long] = None)
      (q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Ivm.SignedDelta = {
    val sd = signedRows(spark, table, to)
    Ivm.SignedDelta(q(sd.inserts), q(sd.retracts))
  }

  /** Maintain a grouped-aggregate view through a delete window —
    * identical contract to [[DeltaLakeSnapshots.maintainAgg]] (shared
    * [[LakeSplice]] body), with the branch read from the snapshot
    * metadata ([[Iceberg.window]]) before any Spark job runs:
    *
    *   1. every snapshot in the window is a `replace` (compaction) under
    *      an unchanged schema: the stored view, unchanged — zero jobs;
    *   2. rows(inserts) + rows(retracts) > rows(snapshot), counted from
    *      the manifests' `record_count` (no delete files at either end):
    *      one recompute, agg(prep(snapshot));
    *   3. otherwise the group-scoped splice — recompute ONLY the groups
    *      touched by either signed frame from the snapshot and splice
    *      them into the stored view.
    *
    * One resolved snapshot serves the diff, the recompute arm, AND the
    * cut advance — which happens only after the result is materialized.
    */
  def maintainAgg(spark: SparkSession, table: String, view: DataFrame,
      keys: Seq[String], agg: DataFrame => DataFrame,
      prep: DataFrame => DataFrame = identity): DataFrame = {
    val s = stateOf(table)
    val latest = Iceberg.currentSnapshotId(s.dir)
    val window = Iceberg.window(spark, s.dir, s.cutSnapshot.getOrElse(
      throw new IllegalStateException(
        s"IcebergSnapshots: '$table' has no cut snapshot")), Some(latest))
    val result = LakeSplice.maintainAgg(view, keys, agg, prep, window)
    advanceTo(spark, table, latest)
    result
  }

  /** Stop tracking `table` and release its cut set (see
    * [[DeltaLakeSnapshots.untrack]]).
    */
  def untrack(table: String): Unit = {
    states.remove(table)
    CutRegistry.remove(s"iceberg/$table")
    DeltaSources.deregister(table)
  }

  private def stateOf(table: String): State =
    states.getOrElse(table, throw new IllegalStateException(
      s"IcebergSnapshots: table '$table' is not tracked; call " +
        "IcebergSnapshots.track first"))

  private def sync(spark: SparkSession, table: String): Unit = {
    val s = states(table)
    val token = s"iceberg/$table"
    val pred = s.cutSnapshot.flatMap { sid =>
      val names = Iceberg.liveFileNames(spark, s.dir, sid)
      if (names.isEmpty) None
      else {
        // index-native cut, same as [[DeltaLakeSnapshots.sync]]
        CutRegistry.put(spark, token, names)
        Some(CutRegistry.predicateSql(token))
      }
    }
    // all-delta re-sync must release any prior cut set (see
    // [[DeltaLakeSnapshots.sync]])
    if (pred.isEmpty) CutRegistry.remove(token)
    DeltaSources.register(table, pred.getOrElse("1 = 1"))
  }
}
