package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic listener drain: `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`, so this shim lives under `org.apache.spark`. After it
  * returns, every event posted before the call has reached every listener,
  * so span counters read afterwards are complete. */
object ListenerDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
