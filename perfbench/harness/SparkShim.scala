package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before
  * it reads the listener's counters, so late task events are not lost. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
