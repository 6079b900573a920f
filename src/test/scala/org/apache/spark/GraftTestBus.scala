package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object GraftTestBus {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
