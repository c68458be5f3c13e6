package kgbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task totals of the jobs run under one Spark job group. */
final case class GroupTotals(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
                             gcMs: Long = 0, shuffleWriteBytes: Long = 0,
                             spillBytes: Long = 0, bytesWritten: Long = 0) {
  def +(o: GroupTotals): GroupTotals = GroupTotals(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, bytesWritten + o.bytesWritten)
}

/** A SparkListener that sums task metrics per job group: each job is
  * attributed to the `spark.jobGroup.id` it was submitted under (the
  * benchmark sets one group around every call it traces), and each
  * finished task to the job group of its stage. Read totals only after
  * [[drain]]. */
final class GroupMeter extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, GroupTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      e.stageIds.foreach(s => stageGroup(s) = g)
      totals(g) = totals.getOrElse(g, GroupTotals()) + GroupTotals(jobs = 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      totals(g) = totals.getOrElse(g, GroupTotals()) + GroupTotals(
        tasks = 1, taskMs = m.executorRunTime, gcMs = m.jvmGCTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled,
        bytesWritten = m.outputMetrics.bytesWritten)
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.KgbenchBridge.drainListeners(sc)

  def of(group: String): GroupTotals = synchronized(totals.getOrElse(group, GroupTotals()))
}
