package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted to the listener bus so far has been
  * delivered to every listener. `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`; this package-level shim is the benchmark's only
  * reach into Spark internals. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
