package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Samples, attempts and failures of one run. A failed operation is
  * reported by name with the first line of its reason; it is never
  * retried or dropped.
  */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  def get(metric: String): Seq[Double] =
    samples.get(metric).map(_.toSeq).getOrElse(Nil)

  def fail(op: String, e: Throwable): Unit = fail(op, Recorder.reason(e))

  def fail(op: String, reason: String): Unit = failures += (op -> reason)

  /** Time one attempted operation in seconds; None when it failed. */
  def attempt(op: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => fail(op, e); None }
  }
}

object Recorder {
  def reason(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    s"${e.getClass.getSimpleName}: " +
      msg.linesIterator.nextOption().getOrElse("").take(300)
  }
}

/** A benchmark workload: built from the seed, set up, run in a closed loop
  * by one client thread, then checked outside the timed region.
  */
trait Workload {
  /** Build the state the timed loop starts from. */
  def setup(): Unit
  /** Run timed operations in whole rounds ([[Rounds.loop]]). A second
    * call continues where the first stopped.
    */
  def run(seconds: Int, rec: Recorder): Unit
  /** Output checks; each mismatch becomes a failed operation. */
  def check(rec: Recorder): Unit
  /** The workload's timed operations, in seconds: what `op_p50_s` and
    * `ops_per_s` summarize. Their mix is fixed by the workload, never by
    * how the program splits its work.
    */
  def opSeconds(rec: Recorder): Seq[Double]
  /** The traced operations the shared Catalyst and scheduler figures
    * average over: the program's own, not the benchmark's reference work.
    */
  def programOps(ops: Seq[OpStats]): Seq[OpStats] = ops
  /** The workload's own figures, printed by name beside the gated metrics. */
  def details(rec: Recorder): Seq[Metric]
  /** Per-layer values from the traced run. */
  def layers(rec: Recorder): Map[String, Double]
  /** Result files the python side compares against DuckDB. */
  def oracleChecks: Seq[Map[String, Any]] = Nil
}

/** A workload's timed loop. */
object Rounds {
  /** Run whole rounds until `seconds` have passed; at least one. Whole
    * rounds keep the mix of operations the same in every run.
    */
  def loop(seconds: Int)(round: => Unit): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    do round while (System.nanoTime() < deadline)
  }
}

/** One end-to-end metric. `stat` says how `value` summarizes `n` samples. */
final case class Metric(name: String, unit: String, value: Double, n: Int,
    stat: String)

object Metric {
  // with no samples (every such operation failed) the metric is left out
  def median(name: String, unit: String, xs: Seq[Double]): Metric =
    Metric(name, unit, if (xs.isEmpty) Double.NaN else Stats.median(xs), xs.size, "median")

  def pct(name: String, unit: String, xs: Seq[Double], p: Int): Metric =
    Metric(name, unit, if (xs.isEmpty) Double.NaN else Stats.percentile(xs, p), xs.size, s"p$p")
}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cpus: Int, data: String, root: String, out: String)

object Main {
  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, need("data"), need("root"),
      need("out"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .config("spark.local.dir", s"${a.root}/local")
      .config("spark.sql.catalog.gb", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.gb.warehouse", s"${a.root}/catalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.init(s)
  }

  def workload(a: Args, spark: SparkSession): Workload = a.workload match {
    case "query_mix" => new QueryMix(spark, a)
    case "ivm_history" => new IvmHistory(spark, a)
    case other => sys.error(s"unknown workload '$other'")
  }

  def log(msg: String): Unit = {
    val up = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(f"[graftbench] $up%8.2f s  $msg")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val boxStart = Box.probe()
    val spark = session(a)
    log("session up")
    val w = workload(a, spark)
    w.setup()
    // set-up runs from process start to the first timed operation: JVM,
    // session, fixture staging, lake loads and initial view builds
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    log(f"setup: $setup%.2f s")
    val rec = new Recorder
    w.run(a.seconds, rec)
    log(s"run done: ${rec.attempted} ops")
    // the traced run continues with a traced round in the same process;
    // its end-to-end figures minus the untraced round's are the overhead
    val traced = if (!a.trace) None else {
      Trace.start(spark)
      val t = new Recorder
      val jvm0 = Jvm.start()
      w.run(a.seconds, t)
      val jvmLayers = Jvm.layers(jvm0)
      Trace.stop()
      Trace.drain()
      log(s"traced run done: ${t.attempted} ops")
      Some((t, w.layers(t) ++ jvmLayers ++ Layers.common(w.programOps(Trace.ops))))
    }
    val all = new Recorder
    Seq(Some(rec), traced.map(_._1)).flatten.foreach { r =>
      all.attempted += r.attempted; all.failures ++= r.failures
    }
    w.check(all)
    log("checks done")
    val boxEnd = Box.probe()
    def render(ms: Seq[Metric]) = ms.filter(_.n > 0).map(m => m.name -> Map("value" -> m.value,
      "unit" -> m.unit, "n" -> m.n, "stat" -> m.stat,
      "tail" -> Stats.tailPercentile(m.n).map(p => s"p$p"))).toMap
    def metrics(r: Recorder) = {
      val ops = w.opSeconds(r)
      render(Seq(Metric("setup_s", "s", setup, 1, "once"),
        Metric.median("op_p50_s", "s", ops),
        Metric("ops_per_s", "1/s", ops.size / ops.sum, ops.size, "rate")))
    }
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "attempted" -> all.attempted,
      "failures" -> all.failures.map { case (o, r) => Map("op" -> o, "reason" -> r) },
      "metrics" -> metrics(rec),
      "details" -> render(w.details(rec)),
      "traced_metrics" -> traced.map(t => metrics(t._1)),
      "traced_details" -> traced.map(t => render(w.details(t._1))),
      "layers" -> traced.map(_._2).getOrElse(Map.empty),
      "oracle_checks" -> w.oracleChecks,
      "box" -> Map("start" -> boxStart, "end" -> boxEnd))
    Files.writeString(Paths.get(a.out), Json(result))
    if (a.trace) TraceDump.write(s"${a.out}.trace.json")
    spark.stop()
    log("stopped")
  }
}

/** Box diagnostics, recorded and never acted on: load average and the
  * time of a fixed single-threaded CPU probe.
  */
object Box {
  def probe(): Map[String, Double] = {
    val load = scala.util.Try(new String(Files.readAllBytes(
      Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).map(_.toDouble))
      .getOrElse(Array.fill(3)(-1.0))
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val probeMs = (System.nanoTime() - t0) / 1e6 + (if (x == 0) 1 else 0)
    Map("load1" -> load(0), "load5" -> load(1), "load15" -> load(2),
      "cpu_probe_ms" -> probeMs)
  }
}

/** JVM counters for the per-layer `jvm.*` metrics. */
object Jvm {
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Reset the heap pools' peaks; returns the GC time so far. */
  def start(): Long = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gcMs()
  }

  def layers(gcAtStart: Long): Map[String, Double] = {
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("jvm.gc_ms" -> (gcMs() - gcAtStart).toDouble,
      "jvm.heap_peak_mb" -> peak / 1048576.0)
  }
}

/** Writes the traced run's spans and per-op breakdown. */
object TraceDump {
  def write(path: String): Unit = {
    val ops = Trace.ops.map { o =>
      val self = Trace.selfTimes(o)
      Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name,
        "wall_ms" -> o.wallMs, "self_ms" -> self,
        "job_ms" -> o.jobMs, "jobs" -> o.jobs, "stages" -> o.stages,
        "tasks" -> o.tasks, "executions" -> o.executions,
        "analysis_ms" -> o.analysisMs, "optimization_ms" -> o.optimizationMs,
        "planning_ms" -> o.planningMs, "extra" -> o.extra.toMap)
    }
    val spans = Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.t0, "end_ns" -> s.t1))
    Files.writeString(Paths.get(path), Json(Map("ops" -> ops, "spans" -> spans)))
  }
}

/** Per-layer metrics every workload shares: Catalyst and scheduler figures
  * averaged per operation.
  */
object Layers {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def common(ops: Seq[OpStats]): Map[String, Double] = {
    def per(f: OpStats => Double) = mean(ops.map(f))
    val cpus = SparkSession.active.sparkContext.defaultParallelism
    val busy = ops.filter(_.jobMs > 0).map(o => o.runMs / (o.jobMs * cpus))
    Map(
      "catalyst.analysis_ms" -> per(_.analysisMs),
      "catalyst.optimization_ms" -> per(_.optimizationMs),
      "catalyst.planning_ms" -> per(_.planningMs),
      "catalyst.executions" -> per(_.executions.toDouble),
      "scheduler.jobs" -> per(_.jobs.toDouble),
      "scheduler.stages" -> per(_.stages.toDouble),
      "scheduler.tasks" -> per(_.tasks.toDouble),
      "scheduler.job_ms" -> per(_.jobMs),
      "scheduler.driver_ms" -> per(o => math.max(0.0, o.wallMs - o.jobMs)),
      "scheduler.executor_run_ms" -> per(_.runMs),
      "scheduler.executor_cpu_ms" -> per(_.cpuMs),
      "scheduler.busy_ratio" -> mean(busy),
      "scheduler.shuffle_write_bytes" -> per(_.shuffleWrite),
      "scheduler.shuffle_read_bytes" -> per(_.shuffleRead),
      "scheduler.input_bytes" -> per(_.inputBytes),
      "scheduler.input_records" -> per(_.inputRecords),
      "trace.unattributed_ms" -> per(o => Trace.selfTimes(o)("unattributed_ms")))
  }

  /** Mean over the ops that recorded span `name` of its self time there. */
  def spanMs(ops: Seq[OpStats], name: String): Double = {
    val all = Trace.spans
    mean(ops.flatMap(o => Trace.selfTimes(o, all).get(name)))
  }
}
