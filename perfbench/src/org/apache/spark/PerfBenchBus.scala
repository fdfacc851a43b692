package org.apache.spark

/** Drains Spark's listener bus, so task totals are complete before the
  * benchmark reads them (the bus is private to Spark's own package).
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
