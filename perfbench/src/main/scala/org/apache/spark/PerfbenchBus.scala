package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's view of finished jobs is complete. The bus is only
  * reachable from inside the `org.apache.spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
