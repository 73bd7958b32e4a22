package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Listener counts of a set of jobs. */
final class GroupAgg {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, bytesRead, recordsRead, shuffleBytes, spillBytes,
      bytesWritten, schedDelayMs = 0L
  val taskSpans = ArrayBuffer.empty[(Long, Long)] // (launch ms, finish ms)

  def add(o: GroupAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    bytesWritten += o.bytesWritten; schedDelayMs += o.schedDelayMs
    taskSpans ++= o.taskSpans
  }

  /** Wall time during which at least one task ran (union of intervals). */
  def taskWallMs: Long = {
    var total, end = 0L
    taskSpans.sortBy(_._1).foreach { case (s, f) =>
      if (s >= end) { total += f - s; end = f }
      else if (f > end) { total += f - end; end = f }
    }
    total
  }
}

/** Scheduler listener registered by the benchmark: it keeps counts per
  * job, and sums them by the job group that submitted the job or by the
  * time the job started.
  */
final class Probe extends SparkListener {
  private final class Job(val group: String, val startMs: Long) {
    val agg = new GroupAgg
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val job = new Job(g, e.time)
    job.agg.jobs = 1
    jobs.put(e.jobId, job)
    e.stageIds.foreach(stageJob.put(_, job))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitMs.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis))
    Option(stageJob.get(id)).foreach(j => j.agg.synchronized { j.agg.stages += 1 })
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val a = j.agg
      val info = e.taskInfo
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (!info.successful) a.failedTasks += 1
        a.taskSpans += ((info.launchTime, math.max(info.finishTime, info.launchTime)))
        Option(stageSubmitMs.get(e.stageId)).foreach(s =>
          a.schedDelayMs += math.max(0L, info.launchTime - s))
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.bytesRead += m.inputMetrics.bytesRead
          a.recordsRead += m.inputMetrics.recordsRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }

  private def sum(keep: Job => Boolean): GroupAgg = {
    val out = new GroupAgg
    jobs.forEach((_, j) => if (keep(j)) j.agg.synchronized(out.add(j.agg)))
    out
  }

  /** The jobs of one statement run through `GraftSession.sql` in this process. */
  def group(g: String): GroupAgg = sum(_.group == g)

  /** Every job that started inside [fromMs, toMs]: in the serial traced
    * replay, the jobs the server ran for one wire round trip.
    */
  def startedWithin(fromMs: Long, toMs: Long): GroupAgg =
    sum(j => j.startMs >= fromMs && j.startMs <= toMs)
}
