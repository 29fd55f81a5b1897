package org.apache.spark

/** Access to the private listener bus: listener events arrive
  * asynchronously, so a count or metric snapshot taken right after an
  * action must first wait for the bus to drain.
  */
object ListenerBusAccess {

  /** Blocks until every posted event has been delivered; throws
    * `java.util.concurrent.TimeoutException` if that takes longer than
    * the bus's own wait limit.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
