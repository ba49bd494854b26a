package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener totals read right after an action are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
