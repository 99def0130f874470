package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached its listeners, so a counting listener reads a final value. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
