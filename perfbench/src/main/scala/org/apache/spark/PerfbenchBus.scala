package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener counts are complete when a statement's span closes.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
