package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener counts are complete before it asserts on them.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started on this thread while `body` runs (a thread-local
    * tag keeps other suites' concurrent jobs out of the count).
    */
  def jobsDuring(sc: SparkContext)(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.test.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }
}
