package org.apache.spark

/** The listener bus is private to Spark; the harness needs to wait until
  * every event posted so far has been delivered before it reads counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
