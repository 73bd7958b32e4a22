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

  /** Stages submitted on this thread while `body` runs, and the tasks
    * they ran (a stage skipped for a reused shuffle is not submitted).
    */
  def stagesDuring(sc: SparkContext)(body: => Unit): (Int, Int) = {
    val tag = java.util.UUID.randomUUID.toString
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val l = new scheduler.SparkListener {
      override def onStageSubmitted(e: scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag)) {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
    }
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.test.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.tag", null)
      drain(sc)
      sc.removeSparkListener(l)
    }
    (stages.get, tasks.get)
  }

  /** Shuffles registered while `body` runs (every shuffle dependency
    * takes the next id of its SparkContext). */
  def shufflesDuring(sc: SparkContext)(body: => Unit): Int = {
    val before = sc.newShuffleId()
    body
    sc.newShuffleId() - before - 1
  }

  /** Spark jobs started while `body` runs whose description contains
    * `marker` — a `GraftSession` statement's jobs carry its text as their
    * description, on whichever thread serves it (a wire connection's).
    */
  def jobsDescribed(sc: SparkContext, marker: String)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
            .exists(_.contains(marker)))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try body
    finally {
      drain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }
}
