package graft.sources

import org.apache.spark.sql.DataFrame

/** One change window `(cut, end]` of a lake table, as [[DeltaLake.window]]
  * and [[Iceberg.window]] resolve it from the log or the manifests.
  *
  * `neutral` and the row counts come from metadata the format already
  * reads — Delta commit actions and `add.stats.numRecords` less each
  * deletion vector's cardinality, Iceberg snapshot summaries and manifest
  * `record_count`s — so answering them opens no data file and runs no
  * Spark job. The frames are built only when first asked for.
  *
  * @param neutral          no commit in the window changes a row: an
  *                         empty window, or only compactions and other
  *                         content-preserving rewrites, with the schema
  *                         unchanged
  * @param changeFileRows   the rows of each file [[changes]] reads, None
  *                         where the metadata does not state them
  * @param snapshotFileRows the live rows of each end-snapshot file, None
  *                         where the metadata does not state them
  */
final class ChangeWindow(val neutral: Boolean,
    changeFileRows: => Iterator[Option[Long]],
    snapshotFileRows: => Iterator[Option[Long]],
    changesOf: => DeltaLake.Changes,
    snapshotOf: => DataFrame) {

  /** The signed row diff of the window (see [[DeltaLake.changes]]). */
  lazy val changes: DeltaLake.Changes = changesOf

  /** The table at the window's end. */
  lazy val snapshot: DataFrame = snapshotOf

  /** Whether the change frames hold MORE rows than the end snapshot —
    * then reading them costs more than recomputing from the snapshot.
    * Strict: a tie is false. False whenever a count it needs is missing.
    * The snapshot count stops at the first file that takes it to the
    * frames' count, so a small window on a large table parses only a
    * few files' stats.
    */
  lazy val changesOutweighSnapshot: Boolean = {
    val change = changeFileRows.toSeq
    change.forall(_.isDefined) && {
      val c = change.flatten.sum
      val files = snapshotFileRows
      var seen = 0L
      var known = true
      while (known && seen < c && files.hasNext) files.next() match {
        case Some(n) => seen += n
        case None => known = false
      }
      known && seen < c
    }
  }
}
