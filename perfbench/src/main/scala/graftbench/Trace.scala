package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** The benchmark's clock: epoch milliseconds with sub-millisecond digits
  * (wall-clock anchored, nanoTime driven), so the benchmark's own
  * boundaries line up with the times on Spark's listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Per-job record assembled from listener events. */
final class JobRec(val id: Int, val start: Double) {
  var end: Double = start
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
}

/** Spark listener attached by the benchmark in the traced run. */
final class JobListener extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  private def jobOf(stage: Int): Option[JobRec] =
    stageJob.get(stage).flatMap(jobs.get)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOf(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  def all: Seq[JobRec] = synchronized(jobs.values.toList)
}

/** One micro-batch progress report. */
final case class BatchRec(start: Double, triggerMs: Double, addBatchMs: Double)

/** Streaming listener attached by the benchmark in the traced run. */
final class BatchListener extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[BatchRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def get(k: String): Double = if (d.containsKey(k)) d.get(k).doubleValue else 0.0
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized { buf += BatchRec(start, get("triggerExecution"), get("addBatch")) }
  }
  def all: Seq[BatchRec] = synchronized(buf.toList)
}
