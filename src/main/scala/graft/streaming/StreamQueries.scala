package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.engine.{Pins, QueryDef, Tables}

/** Declared queries executed through the Structured Streaming RUNTIME — the
  * streaming twins (SURVEY §2E/§2G/§2I) pinned against the DuckDB oracle
  * surface, not just MemoryStream specs.
  *
  * The replay harness: stage the batch table as N range-partitioned parquet
  * files, stream the staged directory with `maxFilesPerTrigger=1` under
  * `Trigger.AvailableNow`, and read the final sink generation back. The
  * micro-batch SCHEDULE (file arrival order) is not pinned — the queries
  * declared here are ones whose final state is schedule-independent
  * (complete-mode aggregation: per-key decimal/count state merges
  * associatively across batches), so the result is deterministic and
  * hash-checkable while still exercising the real incremental path: state
  * store writes per batch, cross-batch merge, event-time machinery.
  *
  * Harness hygiene (round 6, VERDICT r5 "wrong" #1): the staged replay
  * source is CONTENT-ADDRESSED per (sfDir, query) and reused across runs —
  * the corpus is re-staged once per box, not once per execution — and each
  * run's sink + checkpoint dirs are deleted after the (aggregate-sized)
  * final generation is pinned, so repeated bench/verify runs leave no
  * growing /tmp residue.
  *
  * Scale shape: the staged replay is the harness, not the deployment — a
  * production caller hands [[EventStreams.hourlyCounts]] a live source and
  * an append/update sink. Nothing here collects data on the driver: the
  * sink pins each generation to block storage (aggregate-sized — hours ×
  * event types — bounded by the time span, not the corpus), keeping only
  * the final one.
  */
object StreamQueries {

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** Stage-once replay source — [[graft.sources.Staging.stageOnce]],
    * fingerprint-keyed on the events table all four stream queries stage
    * from (regenerated testdata invalidates the slot instead of silently
    * replaying stale data against a fresh-table oracle).
    */
  private def stagedSource(s: SparkSession, sfDir: String, name: String)
      (write: String => Unit): String =
    graft.sources.Staging.stageOnce(sfDir, s"stream_$name",
      Seq(s"$sfDir/events.parquet"))(write)

  /** Run one replay and hand back the final sink generation, PINNED
    * (eager pin — the frame is aggregate-sized) so the per-run
    * checkpoint dir can be deleted immediately instead of accumulating
    * under /tmp. `complete` mode keeps the LAST generation (= the
    * maintained view); `append` mode accumulates emissions across batches
    * (the appended multiset is the result — stream-stream joins emit
    * matches exactly once).
    *
    * The sink is the pin itself, not a parquet table (optimization guide
    * §1.4/§6): the previous shape wrote a parquet generation per
    * micro-batch and re-read the directory at the end, so a 4-batch
    * complete-mode replay paid 4 write commits + a listing + a read for
    * generations 1–3 that the overwrite immediately discarded. Pinning
    * each batch keeps the same per-batch incremental execution (state
    * store writes, cross-batch merge) while the dead intermediate
    * materializations go away — a production deployment hands the stream
    * a real sink; this harness only ever needed the final generation.
    */
  private def replayTo(s: SparkSession, mode: String)
      (build: => DataFrame): DataFrame = {
    val work = Files.createTempDirectory("graft_stream_run").toFile
    val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
    val gens = scala.collection.mutable.Buffer.empty[DataFrame]
    // stateful operators keep one state store per shuffle partition (a
    // stream-stream join keeps FOUR), each check-pointed every micro-batch
    // — with the batch default of 32 partitions the replay cost is pure
    // state-file I/O (measured: the correlate query 22s -> ~6s at sf0.1
    // with 8). State here is aggregate-/pair-sized, so 8 partitions is
    // plenty; the partition count is pinned by the (per-run) checkpoint at
    // first start, making this a state-layout choice scoped to the stream:
    // set for planning, restore after.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q = try build.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        // batches arrive sequentially (one micro-batch at a time), but
        // synchronize anyway
        val pinned = Pins.pin(b, "stream:generation-pin", eager = true)
        gens.synchronized {
          if (mode == "complete") {
            // superseded generations are never read again — release them
            // now instead of waiting for the ContextCleaner
            gens.foreach(Pins.release)
            gens.clear()
          }
          gens += pinned
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    deleteRec(work)
    gens.synchronized { gens.toList } match {
      case Nil => throw new IllegalStateException(
        "streaming replay produced no micro-batches (empty staged source?)")
      case one :: Nil => one
      case many => many.reduce(_.unionByName(_))
    }
  }

  /** One-source complete-mode replay (the common shape). */
  private def replay(s: SparkSession, stage: String, schema: String)
      (build: DataFrame => DataFrame): DataFrame =
    replayTo(s, "complete") {
      build(s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage))
    }

  val all: Seq[QueryDef] = Seq(

    // the streaming twin of `events_hourly`, run through the runtime: the
    // state store carries (window, event_type) -> (count, decimal sum)
    // across micro-batches; complete mode emits the merged view each
    // batch and the last generation equals the full-table aggregate
    QueryDef("stream_hourly",
      (s, d) => {
        // stage with the ts normalization applied so the stream schema is
        // a plain TIMESTAMP(MICROS) parquet column whatever the testdata's
        // physical encoding (Tables.tsMicros adapts ns-long / NTZ / µs)
        val stage = stagedSource(s, d, "hourly") { p =>
          val ev = Tables(s, d, "events")
          ev.select(Tables.tsMicros(ev).as("tsm"), col("event_type"), col("value"))
            .repartitionByRange(4, col("tsm"))
            .write.mode("overwrite").parquet(p)
        }
        replay(s, stage, "tsm TIMESTAMP, event_type STRING, value DOUBLE") {
          src => src
            .withWatermark("tsm", "2 hours")
            .groupBy(window(col("tsm"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("value").cast(DecimalType(18, 2))).as("dec_sum"))
        }
          .select(to_date(col("window.start")).as("day"),
            hour(col("window.start")).cast("long").as("hr"),
            col("event_type"), col("cnt"),
            col("dec_sum").cast("double").as("sum_value"))
          .orderBy("day", "hr", "event_type")
      },
      Some("""SELECT CAST(ts AS DATE) AS day,
             |  CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr, event_type,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2, 3
             |ORDER BY day, hr, event_type""".stripMargin)),

    // STATEFUL sessionization through the runtime (round 5): native
    // session_window aggregation — the state store holds per-user OPEN
    // session intervals that micro-batches extend or MERGE (an event
    // bridging two stored sessions collapses them). Interval merging is
    // associative and order-independent, so the complete-mode final
    // generation is schedule-independent and hash-checkable against the
    // batch derivation. Session semantics: a gap >= 30 min starts a new
    // session (Spark's session window is [ts, ts+gap) exclusive — the
    // oracle's break condition says >= to match). Emitted bounds are
    // min/max EVENT times (plain aggregates riding the session state), not
    // the gap-padded window.end, keeping the oracle engine-portable.
    QueryDef("stream_sessions",
      (s, d) => {
        val stage = stagedSource(s, d, "sessions") { p =>
          val ev = Tables(s, d, "events")
          ev.select(Tables.tsMicros(ev).as("tsm"), col("user_id"), col("value"))
            .repartitionByRange(4, col("tsm"))
            .write.mode("overwrite").parquet(p)
        }
        // NO watermark: session_window's pre-merge LATE-ROW FILTER applies
        // even under complete mode (unlike plain windowed aggregation), and
        // the replay harness does not pin file arrival order — a
        // later-time file processed first would silently drop every
        // earlier event (observed: 4944/10000 events survived). Complete
        // mode needs no eviction; a production deployment with an
        // append/update sink is where the watermark belongs (the
        // stream_hourly twin above exercises that machinery).
        replay(s, stage, "tsm TIMESTAMP, user_id BIGINT, value DOUBLE") {
          src => src
            .groupBy(session_window(col("tsm"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(DecimalType(18, 2))).as("dec_sum"),
              min(col("tsm")).as("first_ts"), max(col("tsm")).as("last_ts"))
        }
          .select(col("user_id"),
            unix_micros(col("first_ts")).as("start_us"),
            unix_micros(col("last_ts")).as("end_us"),
            col("n_events"),
            col("dec_sum").cast("double").as("sum_value"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS tus, value FROM events),
             |m AS (
             |  SELECT user_id, tus, value,
             |    CASE WHEN lag(tus) OVER w IS NULL
             |           OR tus - lag(tus) OVER w >= 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
             |s AS (
             |  SELECT user_id, tus, value,
             |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tus) AS sid
             |  FROM m)
             |SELECT user_id, MIN(tus) AS start_us, MAX(tus) AS end_us,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    // STREAM-STREAM inner join through the runtime (round 6, the E6b/G13
    // promotion): click->purchase attribution via EventStreams.correlate —
    // two file streams over the same staged source, joined per user with
    // an event-time range bound. An INNER stream-stream join emits each
    // matched pair exactly once when both rows are resident, so the
    // APPEND-mode multiset across batches is the full pair set and the
    // result is schedule-independent — PROVIDED no input row is dropped as
    // late. The replay harness does not pin file arrival order, so the
    // declared query runs with a watermark far beyond the data span
    // (nothing is ever late, state is never evicted: at replay scale that
    // is exactly the determinism/efficiency trade a backfill makes); the
    // production-shaped tight-watermark behavior — bounded state, eviction
    // — is pinned by the MemoryStream spec with controlled arrival order
    // (StreamingSpec "purchases correlate with clicks"). The oracle is the
    // batch range self-join, so the hash compare proves the runtime path
    // (two stateful join sides, cross-batch residence) reproduces the
    // batch semantics end to end.
    QueryDef("stream_correlate",
      (s, d) => {
        val stage = stagedSource(s, d, "correlate") { p =>
          val ev = Tables(s, d, "events")
          ev.filter(col("event_type").isin("click", "purchase"))
            .select(Tables.tsMicros(ev).as("ts"), col("event_id"),
              col("user_id"), col("event_type"))
            .repartitionByRange(4, col("ts"))
            .write.mode("overwrite").parquet(p)
        }
        def src() = s.readStream
          .schema("ts TIMESTAMP, event_id BIGINT, user_id BIGINT, event_type STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(stage)
        replayTo(s, "append") {
          EventStreams.correlate(
            src().filter(col("event_type") === "click"),
            src().filter(col("event_type") === "purchase"),
            withinSeconds = 3600, watermark = "3650 days",
            carry = Seq("event_id"))
        }
          .select(col("l_user").as("user_id"),
            col("l_event_id").as("click_id"),
            col("r_event_id").as("purchase_id"),
            unix_micros(col("l_ts")).as("click_us"),
            unix_micros(col("r_ts")).as("purchase_us"))
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT l.user_id AS user_id,
             |  l.event_id AS click_id, r.event_id AS purchase_id,
             |  epoch_us(l.ts) AS click_us, epoch_us(r.ts) AS purchase_us
             |FROM events l JOIN events r
             |  ON l.user_id = r.user_id
             | AND l.ts <= r.ts AND l.ts >= r.ts - INTERVAL 3600 SECONDS
             |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
             |ORDER BY 1, 2, 3""".stripMargin)),

    // STREAMING EXACT DEDUP through the runtime (r6): the digest-keyed
    // survivor view — state holds (digest) -> (min doc_id, count), every
    // micro-batch folds its documents in, and the complete-mode final
    // generation is the full dedup ledger (min/count merge associatively,
    // so the result is schedule-independent). The digest is computed
    // IN-STREAM from the text (the corpus-side work a live deployment
    // does), only the 16-byte digest enters the shuffle/state. State is
    // distinct-digest-sized — the production trade is the same one batch
    // dedup_exact makes (a digest-keyed ledger IS the dedup index); with
    // an append/update sink + watermark the state bounds to the dedup
    // horizon instead. Oracle = the batch digest group-by.
    QueryDef("stream_dedup",
      (s, d) => {
        val stage = stagedSource(s, d, "dedup") { p =>
          Tables(s, d, "documents")
            .select(col("doc_id"), col("text"))
            .repartitionByRange(4, col("doc_id"))
            .write.mode("overwrite").parquet(p)
        }
        replay(s, stage, "doc_id BIGINT, text STRING") { src =>
          src
            .select(col("doc_id"), md5(col("text").cast("binary")).as("digest"))
            .groupBy("digest")
            .agg(min(col("doc_id")).as("survivor_id"),
              count(lit(1)).as("n_copies"))
        }
          .select(col("digest"), col("survivor_id"), col("n_copies"))
          .orderBy("digest")
      },
      Some("""SELECT md5(text) AS digest, MIN(doc_id) AS survivor_id,
             |  COUNT(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin)),

    // STREAMING OVER THE DELTA LOG (r11): the lakehouse table consumed
    // as a stream through the native source ([[DeltaLogSource]]) —
    // offsets are TABLE VERSIONS, each micro-batch one commit's append
    // diff (transactional version cuts, no directory listing, no
    // re-reads), exactly how production pipelines tail a Delta table.
    // The staged two-commit orders table replays as two micro-batches
    // whose per-priority (count, decimal-sum) state merges across
    // batches; the complete-mode final generation equals the full-table
    // aggregate, hash-checked. The other stream queries replay staged
    // FILES through the generic source; this one exercises the log
    // tailing path end to end (offset ratchet, per-version batching,
    // streaming-flagged log-backed scan).
    QueryDef("stream_deltalake",
      (s, d) => {
        val dir = graft.engine.Queries.deltaLakeOrders(s, d)
        replayTo(s, "complete") {
          s.readStream.format("graft-deltalake").load(dir)
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .as("dec_sum"))
        }
          .select(col("o_orderpriority"), col("cnt"),
            col("dec_sum").cast("double").as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // CATALOG-NAMED STREAMING SOURCE (r15): the same tail as
    // stream_deltalake, addressed by REGISTERED NAME
    // (option("warehouse", wh) + option("table", "strm.orders"))
    // instead of a path — name→path binding happens once at source
    // creation and the stream follows the table log (offsets), never
    // the pin (GraftCatalog.streamTarget documents why).
    QueryDef("stream_catalog",
      (s, d) => {
        val wh = graft.engine.Queries.catalogDmlWarehouse(s, d)
        val src = graft.engine.Queries.deltaLakeOrders(s, d)
        graft.sources.GraftCatalog.register(s, wh, "strm.orders",
          "graft-deltalake", src)
        replayTo(s, "complete") {
          s.readStream.format("graft-deltalake")
            .option("warehouse", wh).option("table", "strm.orders")
            .load()
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .as("dec_sum"))
        }
          .select(col("o_orderpriority"), col("cnt"),
            col("dec_sum").cast("double").as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // STREAMING DELTA SINK (r11): the WRITE half of the lakehouse
    // round trip — the staged two-commit orders table tails through
    // the native SOURCE, flows through the native SINK into a fresh
    // Delta table (one transactional commit per micro-batch, each
    // carrying a `txn` action for exactly-once restart dedup), and the
    // result is read back through the native snapshot reader. Hash
    // equality vs the full-table oracle pins the whole loop: source
    // version batching, batch re-planning (batchify), file landing,
    // commit atomicity, and the written log's read path. This is the
    // production shape for materializing a derived lakehouse table
    // from a stream.
    QueryDef("stream_deltalake_sink",
      (s, d) => {
        val src = graft.engine.Queries.deltaLakeOrders(s, d)
        val work = Files.createTempDirectory("graft_sink_run").toFile
        val dest = new java.io.File(work, "table").getAbsolutePath
        val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
        val q = s.readStream.format("graft-deltalake").load(src)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .writeStream.format("graft-deltalake")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start(dest)
        q.awaitTermination()
        val out = Pins.pin(graft.sources.DeltaLake.snapshot(s, dest)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"))
          .orderBy("o_orderpriority"), "stream:result-pin", eager = true)
        deleteRec(work)
        out
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_orderpriority <> '4-NOT SPECIFIED'
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // STREAMING ICEBERG SINK (r11): the second format's WRITE half —
    // the staged two-snapshot Iceberg orders table tails through the
    // native source, flows through the native SINK into a fresh
    // Iceberg table (one snapshot per micro-batch, the exactly-once
    // ratchet riding each snapshot's summary the way Flink's
    // committer stores its checkpoint id), and the result reads back
    // through the native snapshot reader. Hash equality vs the
    // full-table oracle pins snapshot batching, the batch re-plan,
    // manifest/stat generation, and the written metadata end to end.
    QueryDef("stream_iceberg_sink",
      (s, d) => {
        val src = graft.engine.Queries.icebergOrders(s, d)
        val work = Files.createTempDirectory("graft_isink_run").toFile
        val dest = new java.io.File(work, "table").getAbsolutePath
        val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
        val q = s.readStream.format("graft-iceberg").load(src)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .writeStream.format("graft-iceberg")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start(dest)
        q.awaitTermination()
        val out = Pins.pin(graft.sources.Iceberg.snapshot(s, dest)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"))
          .orderBy("o_orderpriority"), "stream:result-pin", eager = true)
        deleteRec(work)
        out
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE o_orderpriority <> '4-NOT SPECIFIED'
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // STREAMING CHANGE DATA FEED (r11): `readChangeFeed` — the Delta
    // mechanism for streaming ROW-LEVEL CHANGES, deletes and updates
    // included, where the plain log stream must stop at inserts-only.
    // The staged table's three versions stream as typed change rows
    // (two synthesized insert batches + the CDF update's delta-sized
    // pre/post pair), and the complete-mode aggregate groups them by
    // (change type, priority) with a decimal sum — the postimage total
    // sits exactly +250/row above the preimage, so hash equality vs
    // the UNION-ALL oracle pins the type routing AND the change-file
    // content end to end.
    QueryDef("stream_deltalake_cdf",
      (s, d) => {
        val dir = graft.engine.Queries.deltaLakeOrdersCdf(s, d)
        replayTo(s, "complete") {
          s.readStream.format("graft-deltalake")
            .option("readChangeFeed", "true").load(dir)
            .groupBy(col("_change_type"), col("o_orderpriority"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .as("dec_sum"))
        }
          .select(col("_change_type").as("change_type"),
            col("o_orderpriority"), col("cnt"),
            col("dec_sum").cast("double").as("total"))
          .orderBy("change_type", "o_orderpriority")
      },
      Some("""WITH feed AS (
             |  SELECT 'insert' AS change_type, o_orderpriority,
             |    o_totalprice
             |  FROM orders
             |  UNION ALL
             |  SELECT 'update_preimage', o_orderpriority, o_totalprice
             |  FROM orders
             |  WHERE o_custkey % 9 = 2 AND o_orderpriority = '3-MEDIUM'
             |  UNION ALL
             |  SELECT 'update_postimage', o_orderpriority,
             |    o_totalprice + 250
             |  FROM orders
             |  WHERE o_custkey % 9 = 2 AND o_orderpriority = '3-MEDIUM'
             |)
             |SELECT change_type, o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM feed
             |GROUP BY change_type, o_orderpriority
             |ORDER BY change_type, o_orderpriority""".stripMargin)),

    // STREAMING OVER THE ICEBERG SNAPSHOT LOG (r11): the second
    // lakehouse format behind the same streaming seam
    // ([[IcebergLogSource]]) — offsets are snapshot ORDINALS (ids are
    // arbitrary longs per the spec; offsets must be monotonic), each
    // micro-batch one snapshot's append diff, MoR-delete windows loud.
    // Same two-batch replay + complete-mode merge shape as
    // `stream_deltalake`, hash-checked against the full aggregate.
    QueryDef("stream_iceberg",
      (s, d) => {
        val dir = graft.engine.Queries.icebergOrders(s, d)
        replayTo(s, "complete") {
          s.readStream.format("graft-iceberg").load(dir)
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .as("dec_sum"))
        }
          .select(col("o_orderpriority"), col("cnt"),
            col("dec_sum").cast("double").as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // STREAMING ICEBERG CHANGELOG (r11): `readChangeLog` — row-level
    // deletes STREAM on the second format too. Each batch is the
    // window's SIGNED diff rendered as typed rows (the changelog-scan
    // shape), powered by this round's MoR/equality netting: the staged
    // table's four snapshots stream as two insert batches, the
    // equality delete's value-matched DELETE rows (original prices),
    // and the upsert's surviving inserts (+100). Hash equality vs the
    // UNION-ALL oracle pins the netting, the sequence scoping, and the
    // type routing through the real runtime.
    QueryDef("stream_iceberg_changelog",
      (s, d) => {
        val dir = graft.engine.Queries.icebergOrdersEqDeleted(s, d)
        replayTo(s, "complete") {
          s.readStream.format("graft-iceberg")
            .option("readChangeLog", "true").load(dir)
            .groupBy(col("_change_type"), col("o_orderpriority"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .as("dec_sum"))
        }
          .select(col("_change_type").as("change_type"),
            col("o_orderpriority"), col("cnt"),
            col("dec_sum").cast("double").as("total"))
          .orderBy("change_type", "o_orderpriority")
      },
      Some("""WITH feed AS (
             |  SELECT 'insert' AS change_type, o_orderpriority,
             |    o_totalprice
             |  FROM orders
             |  UNION ALL
             |  SELECT 'insert', o_orderpriority, o_totalprice + 100
             |  FROM orders
             |  WHERE o_custkey % 13 = 0 AND o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT 'delete', o_orderpriority, o_totalprice
             |  FROM orders WHERE o_custkey % 13 = 0
             |)
             |SELECT change_type, o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM feed
             |GROUP BY change_type, o_orderpriority
             |ORDER BY change_type, o_orderpriority""".stripMargin))
  )
}
