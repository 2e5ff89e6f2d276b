package org.apache.spark

/** Waits until every queued listener event was delivered, so per-span
  * counters are complete before they are read (the bus is spark-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
