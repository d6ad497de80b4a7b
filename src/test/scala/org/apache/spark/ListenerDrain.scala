package org.apache.spark

/** Same-package shim for specs: listener events arrive asynchronously,
  * and the bus's `private[spark]` drain is the only way to know a
  * listener has seen every event of a finished action. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
