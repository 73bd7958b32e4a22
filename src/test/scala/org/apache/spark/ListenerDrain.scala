package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener counts are complete before it asserts on them.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
