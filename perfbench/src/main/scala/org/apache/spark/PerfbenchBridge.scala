package org.apache.spark

/** Access to the listener bus, which is private to Spark's own packages. */
object PerfbenchBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
