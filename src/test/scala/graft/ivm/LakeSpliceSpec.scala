package graft.ivm

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, sum}
import org.apache.spark.sql.graft.GraftSql
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.sources.{DeltaLake, Iceberg}

/** The branch [[LakeSplice]] picks from the window's log or manifests, on
  * both formats, fenced by the Spark jobs each branch runs: a
  * compaction-only window runs none, a small delete on a single-file
  * table recomputes once, and a delete that rewrites one file of many
  * keeps the splice. Every result equals the recompute and the cut
  * advances.
  */
class LakeSpliceSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  // Job ceilings, measured on these fixtures at local[4]; later changes
  // may only lower them. The recompute branch is the view pin alone: the
  // aggregate's two shuffle stages and its result stage. The inlined
  // splice adds the touched collect (the distinct's shuffle stage and a
  // result stage) to the same pin; the composite-key splice pins the
  // touched set instead, and AQE runs only its shuffle stage.
  private val RecomputeJobs = 3
  private val InlinedSpliceJobs = 5
  private val PinnedSpliceJobs = 4

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_splice_$name")
      .toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** id 0..399; group k = id % 20 with group 0 as the NULL group. */
  private def frame: DataFrame =
    (0 until 400).map(i => (i.toLong,
      if (i % 20 == 0) None else Some((i % 20).toLong),
      (i % 2).toLong)).toDF("id", "k", "g")

  private val aggOf = (df: DataFrame) => df.groupBy("k")
    .agg(count(lit(1)).as("cnt"), sum(col("id")).as("total"),
      countDistinct(col("id") % 7).as("nd"), max(col("id")).as("mx"))

  private def bag(df: DataFrame) =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length)
      .toMap

  /** The job descriptions of every Spark job `body` runs. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    GraftSql.drainListenerBus(sc)
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<unlabelled>"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSql.drainListenerBus(sc)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def assertRecompute(jobs: Seq[String]): Unit = {
    assert(jobs.nonEmpty && jobs.forall(_ == "graft: splice:recompute"),
      s"one recompute pin and nothing else: $jobs")
    assert(jobs.size <= RecomputeJobs, s"recompute jobs: $jobs")
  }

  private def assertSplice(jobs: Seq[String], ceiling: Int): Unit = {
    assert(jobs.forall(_.startsWith("graft: splice:")) &&
      !jobs.contains("graft: splice:recompute"),
      s"only splice jobs, no recompute: $jobs")
    assert(jobs.contains("graft: splice:view-pin"), s"$jobs")
    assert(jobs.size <= ceiling, s"splice jobs: $jobs")
  }

  test("Delta: a compaction-only window runs no job and returns the " +
      "stored view") {
    val dir = freshDir("dl_compact")
    (0 until 4).foreach(i =>
      DeltaLake.write(spark, dir, frame.filter(col("id") % 4 === i)))
    val cut = DeltaLake.latestVersion(spark, dir)
    DeltaLakeSnapshots.track(spark, "ls_dl_compact", dir, at = Some(cut))
    val stored = aggOf(DeltaLake.snapshot(spark, dir)).localCheckpoint()
    assert(DeltaLake.compact(spark, dir) > cut, "fixture: compaction lands")
    val (got, jobs) = jobsOf(DeltaLakeSnapshots.maintainAgg(spark,
      "ls_dl_compact", stored, Seq("k"), aggOf))
    assert(jobs.isEmpty, s"no Spark job: $jobs")
    assert(got eq stored)
    assert(bag(got) == bag(aggOf(DeltaLake.snapshot(spark, dir))))
    assert(DeltaLakeSnapshots.cut("ls_dl_compact")
      .contains(DeltaLake.latestVersion(spark, dir)))
    DeltaLakeSnapshots.untrack("ls_dl_compact")
  }

  test("Delta: a small delete on a single-file table recomputes once, " +
      "with no touched-set job") {
    val dir = freshDir("dl_single")
    DeltaLake.write(spark, dir, frame.coalesce(1))
    assert(DeltaLake.snapshot(spark, dir).inputFiles.length == 1)
    val cut = DeltaLake.latestVersion(spark, dir)
    DeltaLakeSnapshots.track(spark, "ls_dl_single", dir, at = Some(cut))
    val stored = aggOf(DeltaLake.snapshot(spark, dir)).localCheckpoint()
    DeltaLake.delete(spark, dir, col("id") < 5)
    val (got, jobs) = jobsOf(DeltaLakeSnapshots.maintainAgg(spark,
      "ls_dl_single", stored, Seq("k"), aggOf))
    assertRecompute(jobs)
    assert(bag(got) == bag(aggOf(DeltaLake.snapshot(spark, dir))))
    assert(DeltaLakeSnapshots.cut("ls_dl_single")
      .contains(DeltaLake.latestVersion(spark, dir)))
    DeltaLakeSnapshots.untrack("ls_dl_single")
  }

  test("Delta: a delete that rewrites one file of many keeps the splice, " +
      "NULL group included") {
    val dir = freshDir("dl_many")
    DeltaLake.stageCommit(spark, dir, frame.repartition(8), Seq.empty, 0L)
    assert(DeltaLake.snapshot(spark, dir).inputFiles.length == 8)
    DeltaLakeSnapshots.track(spark, "ls_dl_many", dir, at = Some(0L))
    var view = aggOf(DeltaLake.snapshot(spark, dir)).localCheckpoint()
    // the first delete touches group 3 (the NULL group must be kept by
    // the anti-probe), the second the NULL group itself
    Seq(col("id") === 3, col("id") === 20).zipWithIndex.foreach {
      case (pred, i) =>
        DeltaLake.stageDeleteCommit(spark, dir, pred, i + 1L)
        val (got, jobs) = jobsOf(DeltaLakeSnapshots.maintainAgg(spark,
          "ls_dl_many", view, Seq("k"), aggOf))
        assertSplice(jobs, InlinedSpliceJobs)
        assert(!jobs.contains("graft: splice:touched-pin"),
          s"a single key inlines: $jobs")
        assert(bag(got) == bag(aggOf(DeltaLake.snapshot(spark, dir))))
        assert(DeltaLakeSnapshots.cut("ls_dl_many").contains(i + 1L))
        view = got
    }
    DeltaLakeSnapshots.untrack("ls_dl_many")
  }

  test("Iceberg: a compaction-only window runs no job and returns the " +
      "stored view") {
    val dir = freshDir("ice_compact")
    (0 until 4).foreach(i =>
      Iceberg.write(spark, dir, frame.filter(col("id") % 4 === i)))
    val cut = Iceberg.currentSnapshotId(dir)
    IcebergSnapshots.track(spark, "ls_ice_compact", dir, at = Some(cut))
    val stored = aggOf(Iceberg.snapshot(spark, dir)).localCheckpoint()
    Iceberg.rewriteDataFiles(spark, dir)
    assert(Iceberg.currentSnapshotId(dir) != cut, "fixture: rewrite lands")
    val (got, jobs) = jobsOf(IcebergSnapshots.maintainAgg(spark,
      "ls_ice_compact", stored, Seq("k"), aggOf))
    assert(jobs.isEmpty, s"no Spark job: $jobs")
    assert(got eq stored)
    assert(bag(got) == bag(aggOf(Iceberg.snapshot(spark, dir))))
    assert(IcebergSnapshots.cut("ls_ice_compact")
      .contains(Iceberg.currentSnapshotId(dir)))
    IcebergSnapshots.untrack("ls_ice_compact")
  }

  test("Iceberg: a small delete on a single-file table recomputes once, " +
      "with no touched-set job") {
    val dir = freshDir("ice_single")
    val cut = Iceberg.stageAppend(spark, dir, frame.coalesce(1), Seq.empty)
    IcebergSnapshots.track(spark, "ls_ice_single", dir, at = Some(cut))
    val stored = aggOf(Iceberg.snapshot(spark, dir)).localCheckpoint()
    val end = Iceberg.stageDelete(spark, dir, col("id") < 5)
    val (got, jobs) = jobsOf(IcebergSnapshots.maintainAgg(spark,
      "ls_ice_single", stored, Seq("k"), aggOf))
    assertRecompute(jobs)
    assert(bag(got) == bag(aggOf(Iceberg.snapshot(spark, dir))))
    assert(IcebergSnapshots.cut("ls_ice_single").contains(end))
    IcebergSnapshots.untrack("ls_ice_single")
  }

  test("Iceberg: a delete that rewrites one file of many keeps the " +
      "splice; composite keys take the pinned join path") {
    val dir = freshDir("ice_many")
    val cut = Iceberg.stageAppend(spark, dir, frame.repartition(8),
      Seq.empty)
    IcebergSnapshots.track(spark, "ls_ice_many", dir, at = Some(cut))
    val byKG = (df: DataFrame) => df.groupBy("k", "g")
      .agg(count(lit(1)).as("cnt"), max(col("id")).as("mx"))
    val stored = byKG(Iceberg.snapshot(spark, dir)).localCheckpoint()
    val end = Iceberg.stageDelete(spark, dir, col("id") === 3)
    val (got, jobs) = jobsOf(IcebergSnapshots.maintainAgg(spark,
      "ls_ice_many", stored, Seq("k", "g"), byKG))
    assertSplice(jobs, PinnedSpliceJobs)
    assert(jobs.contains("graft: splice:touched-pin"), s"$jobs")
    assert(bag(got) == bag(byKG(Iceberg.snapshot(spark, dir))))
    assert(IcebergSnapshots.cut("ls_ice_many").contains(end))
    IcebergSnapshots.untrack("ls_ice_many")
  }
}
