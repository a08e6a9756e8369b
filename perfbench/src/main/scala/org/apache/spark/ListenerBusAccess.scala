package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * for it to drain before it reads what its listeners collected. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
