package org.apache.spark

/** The listener bus is asynchronous; counters read straight after an action
  * can miss its last events. `waitUntilEmpty` is package-private, hence this
  * one-line bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
