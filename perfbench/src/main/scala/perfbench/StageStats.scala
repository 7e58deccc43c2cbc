package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One completed stage attempt's task totals. */
final case class StageRow(
    tag: String,
    stageId: Int,
    name: String,
    tasks: Int,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    inputRecords: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    outputRecords: Long,
    spillBytes: Long
)

/** Per-op job, stage and task statistics. Every job is attributed to the op
  * tag that the calling thread set as a local property before starting it.
  * Events arrive on the listener bus thread; readers drain the bus first
  * ([[org.apache.spark.PerfbenchBus]]) and then read under the same lock.
  */
final class StageStats extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val rows = mutable.ArrayBuffer.empty[StageRow]
  private val jobCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val failures = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def tagOfStage(id: Int): String = stageTag.getOrElse(id, StageStats.Untagged)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(StageStats.TagKey)))
      .getOrElse(StageStats.Untagged)
    jobCount(tag) += 1
    e.stageIds.foreach(id => stageTag(id) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    Option(i.taskMetrics).foreach { m =>
      rows += StageRow(
        tag = tagOfStage(i.stageId),
        stageId = i.stageId,
        name = i.name,
        tasks = i.numTasks,
        runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        inputRecords = m.inputMetrics.recordsRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
        outputRecords = m.outputMetrics.recordsWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      )
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failures(tagOfStage(e.stageId)) += 1
  }

  /** `tag` itself and the sub-tags `tag/...` under it. */
  private def under(tag: String)(t: String): Boolean = t == tag || t.startsWith(tag + "/")

  def stagesUnder(tag: String): Seq[StageRow] = synchronized(rows.filter(r => under(tag)(r.tag)).toSeq)
  def jobsUnder(tag: String): Int = synchronized(jobCount.collect { case (t, n) if under(tag)(t) => n }.sum)
  def taskFailuresUnder(tag: String): Int =
    synchronized(failures.collect { case (t, n) if under(tag)(t) => n }.sum)
  def allStages: Seq[StageRow] = synchronized(rows.toSeq)
}

object StageStats {
  final val TagKey = "perfbench.op"
  final val Untagged = "untagged"
}

/** Totals over a set of stage rows. */
final case class StageTotals(rows: Seq[StageRow]) {
  def runS: Double = rows.map(_.runMs).sum / 1e3
  def cpuS: Double = rows.map(_.cpuNs).sum / 1e9
  def gcS: Double = rows.map(_.gcMs).sum / 1e3
  def inputRecords: Long = rows.map(_.inputRecords).sum
  def shuffleWriteBytes: Long = rows.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = rows.map(_.spillBytes).sum
}
