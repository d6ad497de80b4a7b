package org.apache.spark

/** Same-package shim: listener events are delivered asynchronously, and
  * the only way to know a listener has seen every event of a finished
  * action is the bus's `private[spark]` drain. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
