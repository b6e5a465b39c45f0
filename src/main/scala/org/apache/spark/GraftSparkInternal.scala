package org.apache.spark

/** `private[spark]` access shim: the listener bus is the only way to know
  * every event posted so far has reached its listeners. */
object GraftSparkInternal {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
