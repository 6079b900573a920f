package graft.engine

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class PinsSpec extends AnyFunSuite with SparkFixture {

  private def cachedIds: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  private def rddIdOf(df: org.apache.spark.sql.DataFrame): Int =
    org.apache.spark.sql.graft.GraftSql.analyzed(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"not a pin: $other")
    }

  test("a released pin's blocks leave the storage report") {
    val pinned = Pins.pin(spark.range(0L, 1000L).toDF("id"), "test:pin",
      eager = true)
    val id = rddIdOf(pinned)
    assert(cachedIds.contains(id), "an eager pin holds its blocks")
    Pins.release(pinned)
    assert(!cachedIds.contains(id), "released blocks are still reported")
  }

  test("plansDuring captures the plan of every pin, and only pins") {
    val (df, plans) = Pins.plansDuring(spark) {
      spark.range(0L, 100L).toDF("id").filter(col("id") > 5L).count()
      Pins.pin(spark.range(0L, 100L).toDF("id")
        .groupBy(col("id") % 7).count(), "test:lazy-pin")
    }
    assert(plans.size == 1, s"expected one pin plan: $plans")
    assert(plans.head.contains("HashAggregate"), plans.head)
    assert(df.count() == 7L)
  }
}
