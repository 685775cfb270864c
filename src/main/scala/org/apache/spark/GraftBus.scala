package org.apache.spark

/** The one accessor for the `private[spark]` listener bus. Code that reads
  * listener-observed deltas (task metrics, job and stage counts, SQL
  * actions) drains the async bus before each read instead of sleeping:
  * fixed sleeps and quiet-period polls flake on a steal-bursty host and
  * return short deltas when they give up.
  */
object GraftBus {
  /** Block until every event posted so far has reached every listener.
    * Throws `java.util.concurrent.TimeoutException` if the bus has not
    * drained within `timeoutMs`, so a stuck listener fails loudly.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
