package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered to every listener, so a test can count jobs without
  * sleeping. `LiveListenerBus.waitUntilEmpty` is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
