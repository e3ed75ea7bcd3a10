package org.apache.spark

/** The listener bus is package-private; the traced run drains it so an
  * op's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
