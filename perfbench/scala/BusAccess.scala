package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after an action are complete.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
