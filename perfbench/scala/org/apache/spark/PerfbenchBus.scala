package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark reads task
  * counters only after every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
