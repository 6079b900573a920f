package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Pins

/** Plan-inspection tool: `runMain graft.tools.Explain <sfDir> <query...>`
  * prints the formatted physical plan of each named query (all queries if
  * none named), then the plan of every pin built while the query's frame
  * was constructed — the executed form, whose pinned subtrees show in the
  * query's own plan only as RDD scans. Used to audit pushdown / pruning /
  * join strategy per the design-for-scale loop.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.init(spark)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val (df, pins) =
          Pins.plansDuring(spark)(SparkEntry.queries(n)(spark, sfDir))
        df.explain("formatted")
        pins.zipWithIndex.foreach { case (p, i) =>
          println(s"---------- pin ${i + 1} of ${pins.size} ----------\n$p")
        }
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}
