package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ivm.{DeltaLakeSnapshots, IcebergSnapshots, Ivm, IvmAgg}
import graft.sources.{DeltaLake, GraftCatalog, Iceberg}

/** `ivm_history`: seeded lake histories with views kept fresh by graft's
  * IVM entry points.
  *
  * Setup loads a Delta table `li` (lineitem, API commits) and an Iceberg
  * table `ord` (orders, registered in a GraftCatalog and committed through
  * SQL DML), holding back the rows of the highest order keys for later
  * appends and merge inserts, and builds six stored views. Each cycle lands
  * one commit on one table (the tables alternate); blocks of six cycles fix
  * the mix of commit kinds, the seed orders them and draws each size
  * between 0.1 % and 2 % of the table. After the commit every view
  * over that table is refreshed: first through the insert-only route
  * (`*Snapshots.view` + `Ivm.maintainAuto`), which the engine refuses for a
  * window that is not pure appends; then through the delete-aware splice
  * (`*Snapshots.maintainAgg`) for the aggregate views; otherwise the view
  * is rebuilt by recompute (rung `recompute`). The refreshed view is
  * written out and becomes the stored view; the same view is then
  * recomputed from the new snapshot, and the two are compared as bags.
  */
final class IvmHistory(spark: SparkSession, a: Args) extends Workload {
  import IvmHistory._

  private val rnd = new Random(a.seed)
  private val root = new File(a.root, "ivm")
  private val liDir = new File(root, "li").getPath
  private val ordDir = new File(root, "ord").getPath
  private val ordTable = "db.ord"
  private var liPool, ordPool: Pool = _
  private var rowBytes = Map.empty[String, Double]
  private val stored = scala.collection.mutable.Map.empty[String, DataFrame]
  private var cycle = 0
  private val mismatches = ArrayBuffer.empty[(String, String)]

  private def liSnap(): DataFrame = DeltaLake.snapshot(spark, liDir)
  private def ordSnap(): DataFrame = Iceberg.snapshot(spark, ordDir)

  def setup(): Unit = {
    root.mkdirs()
    val orders = spark.read.parquet(s"${a.data}/orders.parquet")
      .select(OrdCols.map(col): _*)
    // lineitem's (l_orderkey, l_linenumber) is not unique in the testdata;
    // merges key on a row id fixed once per set-up
    val lineitem = spark.read.parquet(s"${a.data}/lineitem.parquet")
      .select(LiCols.map(col): _*).withColumn("l_rowid", monotonically_increasing_id())
    val keys = orders.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (lo, hi) = (keys.getLong(0), keys.getLong(1))
    // a slice of the key range keeps one cycle short; its top fifth is
    // held back for appends and merge inserts
    val sliceHi = lo + (hi - lo) / SliceDiv
    val holdFrom = sliceHi - (sliceHi - lo) / 5
    val ordAll = orders.filter(col("o_orderkey") <= sliceHi)
    val liAll = lineitem.filter(col("l_orderkey") <= sliceHi).localCheckpoint(true)
    DeltaLake.write(spark, liDir, liAll.filter(col("l_orderkey") < holdFrom))
    Iceberg.write(spark, ordDir, ordAll.filter(col("o_orderkey") < holdFrom))
    GraftCatalog.register(spark, s"${a.root}/catalog", ordTable, "graft-iceberg", ordDir)
    liPool = new Pool(liAll.filter(col("l_orderkey") >= holdFrom)
      .orderBy("l_rowid").localCheckpoint(true), "l_rowid")
    ordPool = new Pool(ordAll.filter(col("o_orderkey") >= holdFrom)
      .orderBy("o_orderkey").localCheckpoint(true), "o_orderkey")
    rowBytes = Map(
      "li" -> dataBytes(liDir).toDouble / liSnap().count(),
      "ord" -> dataBytes(ordDir).toDouble / ordSnap().count())
    Views.foreach { v =>
      stored(v.name) = materialize(v.build(liSnap(), ordSnap()), s"views/${v.name}/0")
      track(v)
    }
  }

  private def track(v: View): Unit = v.tables.foreach {
    case "li" => DeltaLakeSnapshots.track(spark, v.source("li"), liDir,
      at = Some(DeltaLake.latestVersion(spark, liDir)))
    case "ord" => IcebergSnapshots.track(spark, v.source("ord"), ordDir,
      at = Some(Iceberg.currentSnapshotId(ordDir)))
  }

  private def materialize(df: DataFrame, rel: String): DataFrame = {
    val path = new File(root, rel).getPath
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  // ---- commits -------------------------------------------------------

  /** One commit of `kind` on `table`, sized to `frac` of its rows. In the
    * traced round it returns the table's data files and version from just
    * before the commit, for [[writeAmplification]].
    */
  private def commit(table: String, kind: String, frac: Double,
      rec: Recorder): Option[(Map[String, Long], Long)] = {
    val live = if (table == "li") liSnap() else ordSnap()
    val key = if (table == "li") "l_orderkey" else "o_orderkey"
    val b = live.agg(min(key), max(key), count(lit(1))).head()
    val (lo, hi, rows) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val n = if (kind == "compact") 0L else math.max(1L, (frac * rows).toLong)
    val pool = if (table == "li") liPool else ordPool
    // delete / update / merge hit a seeded key range sized to ~n rows
    val rangeSql = {
      val width = math.max(1L, ((hi - lo + 1) * n.toDouble / rows).toLong)
      val start = lo + (rnd.nextDouble() * math.max(1L, hi - lo - width)).toLong
      s"$key >= $start AND $key < ${start + width}"
    }
    val range = expr(rangeSql)
    val before = if (!Trace.on) None else Some(
      if (table == "li") dataFiles(liDir) -> DeltaLake.latestVersion(spark, liDir)
      else dataFiles(ordDir) -> Iceberg.currentSnapshotId(ordDir))
    val source = if (kind == "merge") mergeSource(live, range, pool, n,
        if (table == "li") "l_quantity" else "o_totalprice", lit(if (table == "li") 1 else 100))
      else if (kind == "append") pool.take(n) else null
    val opName = s"cycle$cycle:$table:$kind"
    val secs = rec.attempt(opName)(Trace.op("commit", opName) {
      if (table == "li") Trace.span(s"sources.commit.$kind") {
        kind match {
          case "append" => DeltaLake.write(spark, liDir, source)
          case "delete" => DeltaLake.delete(spark, liDir, range)
          case "update" => DeltaLake.update(spark, liDir, range,
            Map("l_quantity" -> (col("l_quantity") + 1)))
          case "merge" => DeltaLake.merge(spark, liDir, source, Seq("l_rowid"))
          case "compact" => DeltaLake.compact(spark, liDir)
        }
      } else Trace.span("dml.statement") {
        if (source != null) source.createOrReplaceTempView("gb_src")
        val t = s"gb.$ordTable"
        kind match {
          case "append" => spark.sql(s"INSERT INTO $t SELECT * FROM gb_src")
          case "delete" => spark.sql(s"DELETE FROM $t WHERE $rangeSql")
          case "update" => spark.sql(
            s"UPDATE $t SET o_totalprice = o_totalprice + 100 WHERE $rangeSql")
          case "merge" => spark.sql(s"MERGE INTO $t t USING gb_src s " +
            "ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          case "compact" => spark.sql(s"CALL gb.system.optimize(table => '$ordTable')").collect()
        }
      }
      ()
    })
    secs.foreach { s =>
      rec.add("commit_s", s)
      rec.add(s"sources.commit_ms.$kind", s * 1e3)
    }
    before
  }

  /** Traced round only, after the cycle's refreshes: the bytes of data
    * files the commit landed over the bytes of the rows its change feed
    * reports changed. Reading the feed is an operation of its own, so it
    * times `changes` and stays out of the refresh it would otherwise warm.
    */
  private def writeAmplification(table: String, before: Map[String, Long], prev: Long,
      rec: Recorder): Unit = {
    val landed = dataFiles(if (table == "li") liDir else ordDir)
      .filterNot { case (p, _) => before.contains(p) }.values.sum
    var changed = 0L
    rec.attempt(s"cycle$cycle:$table:changes")(Trace.op("changes", s"cycle$cycle:$table") {
      val ch = Trace.span("sources.changes") {
        if (table == "li") DeltaLake.changes(spark, liDir, prev)
        else Iceberg.changes(spark, ordDir, prev)
      }
      changed = ch.inserts.count() + ch.retracts.count()
    })
    if (changed > 0)
      rec.add("sources.write_amplification", landed / (changed * rowBytes(table)))
  }

  private def mergeSource(live: DataFrame, range: Column, pool: Pool, n: Long,
      bump: String, by: Column): DataFrame = {
    val matched = live.filter(range).limit(math.max(1, (n / 2).toInt))
      .withColumn(bump, col(bump) + by)
    matched.unionByName(pool.take(n - n / 2)).localCheckpoint(true)
  }

  // ---- refresh -------------------------------------------------------

  private def latest(t: String): Long = Trace.span("sources.latest_version") {
    if (t == "li") DeltaLake.latestVersion(spark, liDir) else Iceberg.currentSnapshotId(ordDir)
  }

  private def advance(v: View, cuts: Map[String, Long]): Unit = Trace.span("ivm.advance") {
    cuts.foreach {
      case ("li", c) => DeltaLakeSnapshots.advanceTo(spark, v.source("li"), c)
      case (_, c) => IcebergSnapshots.advanceTo(spark, v.source("ord"), c)
    }
  }

  /** The insert-only route, or None when the engine refuses the window
    * (its loud refusal of a window that is not pure appends).
    */
  private def insertOnly(v: View): Option[(String, DataFrame)] = {
    val accepted =
      try {
        v.tables.foreach { t =>
          if (t == "li") DeltaLakeSnapshots.view(spark, v.source(t))
          else IcebergSnapshots.view(spark, v.source(t))
        }
        true
      } catch { case _: IllegalArgumentException => false }
    if (!accepted) None
    else {
      // the delta rewrite finds its sources by the registered view names
      val frames = v.tables.map(t => t -> spark.table(v.source(t))).toMap
      val q = v.build(frames.getOrElse("li", null), frames.getOrElse("ord", null))
      val prev = stored(v.name)
      Some(Ivm.maintainAuto(q) match {
        case Ivm.AppendDelta(rows) => "append" -> prev.unionByName(rows)
        case Ivm.MergePartial(d) => "merge" -> IvmAgg.merge(prev, d)
        case Ivm.ApplySigned(sd) => "signed" -> sd.applyTo(prev)
        case Ivm.DiffRows(rows) =>
          "diff" -> prev.unionByName(rows).exceptAll(Ivm.baseOf(q).exceptAll(q))
      })
    }
  }

  /** Refresh one view after a commit on `table`; returns the rung. */
  private def refresh(v: View, table: String): String = {
    val cuts = v.tables.map(t => t -> latest(t)).toMap
    val before = if (Trace.on) storage() else (0, 0L)
    val (rung, next) = Trace.span("ivm.maintain") {
      insertOnly(v).getOrElse(v.splice match {
        case Some(sp) =>
          val other = if (table == "li") ordSnap() else liSnap()
          "splice" -> (
            if (table == "li") DeltaLakeSnapshots.maintainAgg(spark, v.source("li"),
              stored(v.name), sp.keys, sp.agg, sp.prep("li", other))
            else IcebergSnapshots.maintainAgg(spark, v.source("ord"),
              stored(v.name), sp.keys, sp.agg, sp.prep("ord", other)))
        case None =>
          "recompute" -> Trace.span("sources.snapshot")(v.build(liSnap(), ordSnap()))
      })
    }
    stored(v.name) = Trace.span("ivm.apply")(materialize(next, s"views/${v.name}/$cycle"))
    advance(v, cuts)
    if (Trace.on) {
      val after = storage()
      Trace.note("ivm.pins", (after._1 - before._1).toDouble)
      Trace.note("ivm.pin_bytes", (after._2 - before._2).toDouble)
    }
    rung
  }

  private def storage(): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }

  // ---- the loop ------------------------------------------------------

  /** Whole blocks of six cycles ([[Rounds.loop]]). Every block has the same
    * mix ([[IvmHistory.Block]]); the seed orders each table's commits, the
    * tables alternate, and the seed draws every size within the commit's
    * stratum of the size range.
    */
  def run(seconds: Int, rec: Recorder): Unit = Rounds.loop(seconds) {
    val li = rnd.shuffle(Block("li"))
    val ord = rnd.shuffle(Block("ord"))
    li.zip(ord).flatMap { case (l, o) => Seq("li" -> l, "ord" -> o) }.foreach {
      case (table, kind) =>
        cycle += 1
        // log-uniform size in [0.1 %, 2 %], within the commit's stratum
        val u = (Strata((table, kind)) + rnd.nextDouble()) / Strata.size
        runCycle(table, kind, 0.001 * math.pow(20, u), rec)
    }
  }

  private def runCycle(table: String, kind: String, frac: Double, rec: Recorder): Unit = {
    val before = commit(table, kind, frac, rec)
    Views.filter(_.tables.contains(table)).foreach { v =>
      val name = s"cycle$cycle:${v.name}"
      var rung = ""
      rec.attempt(name)(Trace.op("refresh", name) { rung = refresh(v, table) })
        .foreach { s =>
          rec.add("refresh_s", s)
          rec.add(s"refresh_s.${v.name}", s)
          rec.add(s"ivm.rung.$rung", 1)
        }
      var fresh: DataFrame = null
      rec.attempt(s"$name:recompute")(Trace.op("recompute", name) {
        val df = Trace.span("sources.snapshot")(v.build(liSnap(), ordSnap()))
        fresh = Trace.span("engine.exec")(materialize(df, s"recompute/${v.name}/$cycle"))
      }).foreach { s =>
        rec.add("recompute_s", s)
        rec.add(s"recompute_s.${v.name}", s)
      }
      if (fresh != null)
        bagDiff(stored(v.name), fresh).foreach(why => mismatches += (name -> why))
    }
    before.foreach { case (files, prev) =>
      writeAmplification(table, files, prev, rec)
      rec.add("sources.log_files", (logFiles(liDir) + logFiles(ordDir)).toDouble)
      rec.add("sources.data_files", (dataFiles(liDir).size + dataFiles(ordDir).size).toDouble)
    }
  }

  def check(rec: Recorder): Unit = mismatches.foreach { case (op, why) =>
    rec.fail(op, s"maintained view differs from its recompute: $why")
  }

  /** Every commit and every refresh: the program's side of a cycle. The
    * recompute is the reference the refresh is checked against.
    */
  def opSeconds(rec: Recorder): Seq[Double] = rec.get("commit_s") ++ rec.get("refresh_s")

  override def programOps(ops: Seq[OpStats]): Seq[OpStats] =
    ops.filter(o => o.kind == "commit" || o.kind == "refresh")

  def details(rec: Recorder): Seq[Metric] = Seq(
    Metric.median("commit_p50_s", "s", rec.get("commit_s")),
    Metric.median("refresh_p50_s", "s", rec.get("refresh_s")),
    Metric.pct("refresh_p90_s", "s", rec.get("refresh_s"), 90),
    Metric.median("recompute_p50_s", "s", rec.get("recompute_s")))

  def layers(rec: Recorder): Map[String, Double] = {
    val ops = Trace.ops
    val refreshes = ops.filter(_.kind == "refresh")
    val recomputes = ops.filter(_.kind == "recompute").map(o => o.name -> o).toMap
    val sqlCommits = ops.filter(o => o.kind == "commit" && o.name.contains(":ord:"))
    val rungs = Rungs.map(r => s"ivm.rung.$r" -> rec.get(s"ivm.rung.$r").sum).toMap
    val total = rungs.values.sum
    val ratios = refreshes.flatMap(r => recomputes.get(r.name)
      .filter(_.inputBytes > 0).map(c => r.inputBytes / c.inputBytes))
    val perView = Views.map { v =>
      val r = rec.get(s"refresh_s.${v.name}")
      val c = rec.get(s"recompute_s.${v.name}")
      s"ivm.refresh_vs_recompute.${v.name}" ->
        (if (r.isEmpty || c.isEmpty) 0.0 else Stats.median(r) / Stats.median(c))
    }
    Kinds.map(k => s"sources.commit_ms.$k" -> Layers.mean(rec.get(s"sources.commit_ms.$k"))).toMap ++
      rungs ++ perView ++ Map(
        "sources.write_amplification" -> Layers.mean(rec.get("sources.write_amplification")),
        "sources.snapshot_ms" -> Layers.spanMs(ops, "sources.snapshot"),
        "sources.changes_ms" -> Layers.spanMs(ops, "sources.changes"),
        "sources.latest_version_ms" -> Layers.spanMs(ops, "sources.latest_version"),
        "sources.log_files" -> Layers.mean(rec.get("sources.log_files")),
        "sources.data_files" -> Layers.mean(rec.get("sources.data_files")),
        "dml.statement_ms" -> Layers.spanMs(sqlCommits, "dml.statement"),
        "dml.jobs" -> Layers.mean(sqlCommits.map(_.jobs.toDouble)),
        "ivm.maintain_ms" -> Layers.spanMs(refreshes, "ivm.maintain"),
        "ivm.apply_ms" -> Layers.spanMs(refreshes, "ivm.apply"),
        "ivm.advance_ms" -> Layers.spanMs(refreshes, "ivm.advance"),
        "ivm.pins" -> Layers.mean(refreshes.map(_.extra.getOrElse("ivm.pins", 0.0))),
        "ivm.pin_bytes" -> Layers.mean(refreshes.map(_.extra.getOrElse("ivm.pin_bytes", 0.0))),
        "ivm.input_ratio" -> Layers.mean(ratios),
        "ivm.incremental_ratio" ->
          (if (total == 0) 0.0 else (total - rungs("ivm.rung.recompute")) / total))
  }

  // ---- helpers -------------------------------------------------------

  /** The held-back rows, handed out in key order. */
  private final class Pool(rows: DataFrame, key: String) {
    private var offset = 0L
    private val indexed = rows.withColumn("__i", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(key))).localCheckpoint(true)
    def take(n: Long): DataFrame = {
      val df = indexed.filter(col("__i") > offset && col("__i") <= offset + n).drop("__i")
      offset += n
      df
    }
  }

  private def walk(dir: String): Seq[File] = {
    def go(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(go) else Seq(f)
    go(new File(dir))
  }

  private def dataFiles(dir: String): Map[String, Long] = walk(dir)
    .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_delta_log"))
    .map(f => f.getPath -> f.length).toMap

  private def dataBytes(dir: String): Long = dataFiles(dir).values.sum

  private def logFiles(dir: String): Int = walk(dir).count { f =>
    val p = f.getPath
    p.contains("_delta_log") || p.contains(s"${File.separator}metadata${File.separator}")
  }

  /** None when `got` and `want` hold the same rows with the same
    * multiplicities, else the first difference.
    */
  private def bagDiff(got: DataFrame, want: DataFrame): Option[String] = {
    val cols = want.columns.toSeq
    def bag(df: DataFrame) = df.select(cols.map(col): _*).collect().toSeq
      .groupBy(_.toSeq).map { case (k, v) => k -> v.size }
    val (g, w) = (bag(got), bag(want))
    if (g == w) None
    else {
      val extra = g.find { case (k, n) => w.getOrElse(k, 0) < n }.map(_._1)
      val missing = w.find { case (k, n) => g.getOrElse(k, 0) < n }.map(_._1)
      Some(s"${g.values.sum} rows vs ${w.values.sum}; extra ${extra.map(_.mkString("(", ",", ")"))}" +
        s", missing ${missing.map(_.mkString("(", ",", ")"))}")
    }
  }
}

object IvmHistory {
  val Kinds: Seq[String] = Seq("append", "delete", "update", "merge", "compact")

  /** The commit kinds of each table in a block: both tables append, and
    * the block holds every kind.
    */
  val Block: Map[String, Seq[String]] = Map(
    "li" -> Seq("append", "delete", "merge"), "ord" -> Seq("append", "update", "compact"))

  /** Each commit's stratum of six equal strata of the log size range: the
    * same commit lands a similar size in every run (a compaction has no
    * size).
    */
  val Strata: Map[(String, String), Int] = Map(
    ("li", "append") -> 0, ("ord", "append") -> 1, ("li", "delete") -> 2,
    ("ord", "update") -> 3, ("li", "merge") -> 4, ("ord", "compact") -> 5)
  val Rungs: Seq[String] = Seq("append", "merge", "signed", "splice", "diff", "recompute")
  val SliceDiv = 8L
  val LiCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus", "l_shipdate")
  val OrdCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private def dsum(c: String) = sum(col(c).cast(DecimalType(18, 2)))

  /** The delete-aware splice of an aggregate view: group keys, the
    * aggregate over prepared rows, and the row-wise preparation of the
    * committed table's rows given (that table, the other table's snapshot)
    * — agg⋈dim joins the other table.
    */
  final case class Splice(keys: Seq[String], agg: DataFrame => DataFrame,
      prep: (String, DataFrame) => DataFrame => DataFrame)

  final case class View(name: String, tables: Seq[String],
      build: (DataFrame, DataFrame) => DataFrame, splice: Option[Splice]) {
    def source(t: String): String = s"${name}_$t"
  }

  private def join(li: DataFrame, ord: DataFrame) =
    li.join(ord, col("l_orderkey") === col("o_orderkey"))

  private val aggLi = (df: DataFrame) => df.groupBy("l_suppkey")
    .agg(count(lit(1)).as("n"), dsum("l_quantity").as("qty"))
  private val aggDim = (df: DataFrame) => df.groupBy("o_custkey")
    .agg(count(lit(1)).as("n"), dsum("l_extendedprice").as("revenue"))
  private val minMax = (df: DataFrame) => df.groupBy("o_orderdate")
    .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"),
      countDistinct("o_custkey").as("customers"))

  val Views: Seq[View] = Seq(
    View("agg", Seq("li"), (li, _) => aggLi(li),
      Some(Splice(Seq("l_suppkey"), aggLi, (_, _) => identity))),
    View("agg_dim", Seq("li", "ord"), (li, ord) => aggDim(join(li, ord)),
      Some(Splice(Seq("o_custkey"), aggDim, {
        case ("li", ord) => (rows: DataFrame) => join(rows, ord)
        case (_, li) => (rows: DataFrame) => join(li, rows)
      }))),
    View("minmax_distinct", Seq("ord"), (_, ord) => minMax(ord),
      Some(Splice(Seq("o_orderdate"), minMax, (_, _) => identity))),
    View("two_level", Seq("li"), (li, _) => li.groupBy("l_orderkey")
      .agg(dsum("l_quantity").as("q"))
      .groupBy(floor(col("q") / 25).as("bucket")).agg(count(lit(1)).as("orders")),
      None),
    View("left_join", Seq("li", "ord"), (li, ord) =>
      ord.filter(col("o_orderkey") % 8 === 0)
        .join(li.filter(col("l_quantity") >= 45), col("o_orderkey") === col("l_orderkey"), "left")
        .select("o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"),
      None),
    View("top_k", Seq("ord"), (_, ord) => ord
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(50)
      .select("o_orderkey", "o_totalprice"),
      None))
}
