package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** Task-level counters summed over a set of jobs. Times in nanoseconds,
  * sizes in bytes. */
final case class TaskSums(
    tasks: Long = 0, runNs: Long = 0, cpuNs: Long = 0, gcNs: Long = 0,
    schedulerDelayNs: Long = 0, shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0,
    outputBytes: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, runNs + o.runNs,
    cpuNs + o.cpuNs, gcNs + o.gcNs, schedulerDelayNs + o.schedulerDelayNs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

/** Attributes Spark work to the job group that was set when it started. The
  * benchmark sets the group to the id of the innermost open span, so each
  * span's jobs, tasks and job intervals are exact. Block-store bytes carry no
  * group, so they are one running total. */
final class SparkCounters extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val sums = mutable.Map.empty[String, TaskSums].withDefaultValue(TaskSums())
  private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  @volatile private var blockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
    jobs(g) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    val t0 = jobStartMs.getOrElse(e.jobId, e.time)
    intervals.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val durMs = math.max(0L, info.finishTime - info.launchTime)
      val delayMs = math.max(0L, durMs - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime.max(0L).min(durMs))
      sums(g) = sums(g) + TaskSums(1, m.executorRunTime * 1000000L, m.executorCpuTime,
        m.jvmGCTime * 1000000L, delayMs * 1000000L, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isInstanceOf[RDDBlockId] && i.storageLevel.isValid)
      blockBytes += i.memSize + i.diskSize
  }

  def blockStoreBytes: Long = blockBytes
  def jobCount(group: String): Int = synchronized(jobs(group))
  def taskSums(group: String): TaskSums = synchronized(sums(group))
  /** Job `[start, end)` intervals of a group, in epoch milliseconds. */
  def jobIntervalsMs(group: String): Seq[(Long, Long)] =
    synchronized(intervals.get(group).map(_.toSeq).getOrElse(Nil))
}
