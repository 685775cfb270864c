package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its own listener's totals, so every task of a finished action is
  * counted.
  */
object PerfBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
