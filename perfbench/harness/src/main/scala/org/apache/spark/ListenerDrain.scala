package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event; the
  * bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
