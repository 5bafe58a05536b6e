package org.apache.spark

/** The listener bus is private to Spark; this waits until every event
  * posted so far has reached the listeners. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
