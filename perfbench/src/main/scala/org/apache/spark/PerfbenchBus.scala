package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters are complete when read. The bus is internal to
  * Spark; this accessor is the benchmark's only use of it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
