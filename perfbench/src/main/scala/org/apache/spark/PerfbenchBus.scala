package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read afterwards are complete. `waitUntilEmpty` is
  * `private[spark]`, hence this one-method shim in Spark's package. A
  * timeout propagates: a run whose counters may be incomplete fails. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
