package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.GraftSql
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job ceilings per run for the IVM and dedup queries whose cost is
  * a chain of small sequential jobs (pins, AQE stage jobs, CC rounds) —
  * at small scale job count, not data volume, sets their wall time, and
  * it is the same on any box. A run builds the declared frame and collects
  * it, after one warm-up run that stages fixtures. The ceilings are the
  * counts measured at this suite's sf0.001 / local[4] when the pins moved
  * behind [[graft.engine.Pins]]; they may only ratchet down.
  */
class JobBudgetSpec extends AnyFunSuite with SparkFixture {

  private val Ceilings = Seq(
    "delta_minmax" -> 23,
    "delta_two_level" -> 22,
    "delta_count_distinct" -> 11,
    "delta_centroids" -> 6,
    "delta_survivors" -> 40,
    "dedup_survivors" -> 22)

  private def jobsPerRun(name: String): Int = {
    val query = SparkEntry.queries(name)
    query(spark, sfDir).collect()
    val sc = spark.sparkContext
    GraftSql.drainListenerBus(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      query(spark, sfDir).collect()
      GraftSql.drainListenerBus(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  for ((name, ceiling) <- Ceilings)
    test(s"$name: at most $ceiling Spark jobs per run") {
      val jobs = jobsPerRun(name)
      assert(jobs <= ceiling, s"$name ran $jobs jobs (ceiling $ceiling)")
    }
}
