package org.apache.spark

/** The one private Spark handle the benchmark needs: waiting until the
  * listener bus has delivered every queued event, so a traced op's jobs,
  * tasks and query executions are all recorded before its window is
  * attributed.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
