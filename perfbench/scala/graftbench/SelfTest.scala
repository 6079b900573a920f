package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Self-test of the benchmark's own code: the percentile rule, the round
  * loop, self-time subtraction, job-group attribution (batch and stream
  * jobs), and failure counting. Usage: `SelfTest <data dir> <work dir>`
  * (small data, e.g. the sf0.001 tables). Prints one line per check; exits
  * 1 on a failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  error: $e"); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val Array(data, work) = args
    percentiles()
    rounds()
    selfTimes()
    failureCounting()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.init(spark)
    try attribution(spark, data, work) finally spark.stop()
    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED ($failures)")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def rounds(): Unit = {
    def count(seconds: Int, roundMs: Long): Int = {
      var n = 0
      Rounds.loop(seconds) { Thread.sleep(roundMs); n += 1 }
      n
    }
    check("whole rounds until the seconds have passed, at least one") {
      count(1, 400) == 3 && count(1, 600) == 2 && count(1, 1200) == 1
    }
  }

  private def percentiles(): Unit = {
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1, 2)) == 2 && Stats.median(Seq(4.0, 1, 3, 2)) == 2.5
    }
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 90) == 90 && Stats.percentile(xs, 50) == 50 &&
        Stats.percentile(Seq(5.0), 90) == 5
    }
    check("highest percentile with >= 10 samples beyond it") {
      Stats.tailPercentile(100).contains(90) && Stats.tailPercentile(30).contains(66) &&
        Stats.tailPercentile(1000).contains(99) && Stats.tailPercentile(20).contains(50) &&
        Stats.tailPercentile(19).isEmpty && Stats.tailPercentile(10).isEmpty
    }
    check("tail percentile leaves at least 10 samples beyond its rank") {
      (11 to 500).forall { n =>
        Stats.tailPercentile(n).forall { p =>
          n - math.ceil(p / 100.0 * n).toInt >= 10 &&
            (p == 99 || n - math.ceil((p + 1) / 100.0 * n).toInt < 10)
        }
      }
    }
  }

  private def selfTimes(): Unit = {
    val o = new OpStats(0, "query", "synthetic")
    o.t0 = 0; o.t1 = 100000000L // 100 ms
    val ms = 1000000L
    val spans = Seq(
      Span(0, -1, 0, "engine.build", 10 * ms, 40 * ms),
      Span(1, 0, 0, "sources.snapshot", 15 * ms, 25 * ms),
      Span(2, 0, 0, "sources.snapshot", 27 * ms, 30 * ms),
      Span(3, -1, 0, "engine.exec", 50 * ms, 90 * ms),
      Span(4, -1, 1, "engine.exec", 0, 100 * ms)) // another op's span
    val self = Trace.selfTimes(o, spans)
    check("self time subtracts the union of child spans") {
      self("engine.build") == 17.0 && self("sources.snapshot") == 13.0 &&
        self("engine.exec") == 40.0
    }
    check("unattributed time is the op not covered by top-level spans") {
      self("unattributed_ms") == 30.0
    }
    check("self times plus unattributed sum to the op's wall") {
      math.abs(self.values.sum - o.wallMs) < 1e-9
    }
    check("interval union merges overlaps and ignores empty intervals") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 20L), (30L, 40L))) == 25
    }
  }

  private def failureCounting(): Unit = {
    val rec = new Recorder
    val ok = rec.attempt("good")(())
    val bad = rec.attempt("bad")(throw new IllegalStateException("first line\nsecond line"))
    check("failed operations are counted against attempted ones") {
      rec.attempted == 2 && rec.failures.size == 1 && ok.isDefined && bad.isEmpty
    }
    check("a failure is reported by name with the first line of its reason") {
      rec.failures.head == ("bad" -> "IllegalStateException: first line")
    }
  }

  private def attribution(spark: SparkSession, data: String, work: String): Unit = {
    val allJobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        allJobs.incrementAndGet(); ()
      }
    })
    val src = new File(work, "stream_src").getPath
    Trace.reset()
    Trace.start(spark)
    // outside any op
    spark.range(0, 300, 1, 3).selectExpr("id", "id % 5 as k").write.mode("overwrite").parquet(src)
    Trace.drain()
    val outside = allJobs.get()
    Trace.op("query", "batch") {
      Trace.span("engine.exec")(spark.range(1000).selectExpr("id % 3 as k")
        .groupBy("k").count().collect())
    }
    val sink = new java.util.concurrent.atomic.AtomicLong
    Trace.op("replay", "stream") {
      val q = spark.readStream.schema("id long, k long").option("maxFilesPerTrigger", "1")
        .parquet(src).groupBy("k").count().writeStream.outputMode("complete")
        .option("checkpointLocation", new File(work, "ckpt").getPath)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          sink.addAndGet(b.count()); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Trace.op("query", "graft stream query") {
      graft.SparkEntry.queries("stream_hourly")(spark, data)
        .write.format("noop").mode("overwrite").save()
    }
    Trace.stop()
    Trace.drain()
    val Seq(batch, stream, graftStream) = Trace.ops
    check("jobs of an op are attributed to it by job group") {
      batch.jobs >= 1 && batch.stages >= 1 && batch.tasks >= 1 && batch.executions >= 1
    }
    check("work outside every op is attributed to none") {
      outside >= 1 && Trace.ops.map(_.jobs).sum == allJobs.get() - outside
    }
    check("stream micro-batch jobs map to the op through the stream's runId") {
      stream.streamJobs >= 3 && stream.jobs >= stream.streamJobs && sink.get > 0
    }
    check("a declared stream query's micro-batches land on its op") {
      graftStream.streamJobs >= 1 && graftStream.jobMs > 0
    }
    check("SQL executions and their phases are attributed by job group") {
      batch.executions >= 1 && stream.executions >= 1 && graftStream.executions >= 1
    }
  }
}
