package org.apache.spark

/** Minimal bridge to the `private[spark]` listener bus of a SparkContext.
  * Placed in the `org.apache.spark` package solely to satisfy the access
  * modifier. Nothing else lives here. */
object GraftListenerBus {
  /** Block until every event posted so far has reached every listener;
    * throws `java.util.concurrent.TimeoutException` after `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
