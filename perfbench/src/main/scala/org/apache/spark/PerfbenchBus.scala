package org.apache.spark

/** The listener bus is package-private; the benchmark reads its listeners'
  * totals only after every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
