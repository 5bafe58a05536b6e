package org.apache.spark

/** The listener bus is private to Spark; specs that count task metrics
  * wait here until every event posted so far has reached the listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
