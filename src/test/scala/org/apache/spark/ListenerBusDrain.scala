package org.apache.spark

/** The listener bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  /** Blocks until every event posted so far has reached the listeners;
    * throws a TimeoutException after `timeoutMs`.
    */
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
