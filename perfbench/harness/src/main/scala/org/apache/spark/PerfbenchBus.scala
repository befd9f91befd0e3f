package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs to
  * wait for it to deliver every event before it reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
