package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job as the listener saw it; times on the [[Recorder]] clock. */
final case class JobRec(id: Int, startMs: Double, endMs: Double, span: Long)

/** Per-stage task totals; `skew` is the slowest task over the median one. */
final case class StageRec(id: Int, job: Int, tasks: Int, busyMs: Double,
    inputBytes: Long, outputBytes: Long, shuffleBytes: Long, skew: Double,
    inputRecords: Long)

/** Counts the engine's Spark work: jobs with their wall intervals and the
  * span (if any) that launched them, and per-stage task time and bytes. */
final class JobListener(rec: Recorder) extends SparkListener {
  private val epochToRec = System.currentTimeMillis() - rec.nowMs
  private def recMs(epochMs: Long): Double = epochMs - epochToRec

  private val open = mutable.HashMap.empty[Int, (Double, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val bytes = mutable.HashMap.empty[Int, Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    open(e.jobId) = (recMs(e.time), span)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (s, span) =>
      jobs += JobRec(e.jobId, s, recMs(e.time), span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration.toDouble
    if (m != null) {
      val b = bytes.getOrElseUpdate(e.stageId, Array(0L, 0L, 0L, 0L))
      b(0) += m.inputMetrics.bytesRead
      b(1) += m.outputMetrics.bytesWritten
      b(2) += m.shuffleWriteMetrics.bytesWritten
      b(3) += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val ts = taskMs.remove(id).getOrElse(mutable.ArrayBuffer.empty).sorted
    val b = bytes.remove(id).getOrElse(Array(0L, 0L, 0L, 0L))
    if (ts.nonEmpty) {
      val med = ts(ts.size / 2)
      stages += StageRec(id, stageJob.getOrElse(id, -1), ts.size, ts.sum,
        b(0), b(1), b(2), if (med > 0) ts.last / med else 1.0, b(3))
    }
  }

  def jobList: Seq[JobRec] = synchronized(jobs.toList)
  def stageList: Seq[StageRec] = synchronized(stages.toList)
}
