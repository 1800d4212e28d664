package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object SparkBus {
  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
