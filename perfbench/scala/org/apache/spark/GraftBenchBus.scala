package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object GraftBenchBus {

  /** Block until every event posted so far has been delivered to every
    * listener — the benchmark reads listener-fed counters only after this.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
