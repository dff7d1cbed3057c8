package org.apache.spark

/** The two Spark internals the benchmark needs, hence this package. */
object SparkInternals {
  /** Waits until the listener bus has delivered every event posted so far,
    * so counters read after a pass include all of that pass's events.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def activeContext: Option[SparkContext] = SparkContext.getActive
}
