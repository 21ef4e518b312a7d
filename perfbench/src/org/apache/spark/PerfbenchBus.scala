package org.apache.spark

/** The listener bus is asynchronous; counters read straight after an action
  * can miss its last task and stage events. `waitUntilEmpty` is
  * package-private, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
