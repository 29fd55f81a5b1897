package org.apache.spark

/** Test access to the private listener bus: listener events arrive
  * asynchronously, so a count taken right after an action must first
  * wait for the bus to drain.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
