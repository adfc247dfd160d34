package graft.tools

import graft._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What Spark did while a block of driver code ran, read from Spark's own
  * listener bus and streaming progress reports (`Profile.record`), and the
  * query profiler built on it:
  *
  * `runMain graft.tools.Profile <q1[,q2,...]> [sfDir]`
  *
  * runs each named query twice in one session, cold then warm (Bench scores
  * the better of the two, so the warm run is the one to optimize), and
  * prints per run a `PROFILE` summary line, the costliest jobs (`JOB`), job
  * time per call site (`SITE`), driver time before each job charged to that
  * job's call site (`GAPB4`; the driver work before a job is usually
  * building that job's plan) and the streaming micro-batches with their
  * `durationMs` phases (`BATCH`). After the warm run it prints the formatted
  * physical plan of the frame that run returned (`PLAN`). The queries are
  * run in the order given, so the ones before the last act as a prefix that
  * leaves its session state (conf, cache, codegen, GC pressure) to the
  * last.
  */
object Profile {
  /** One Spark job. `startMs`/`endMs` are the listener's epoch times; the
    * call site is the SQL execution's description, else the job's
    * `callSite.short`, else the name of its first completed stage. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int,
      tasks: Int, inputBytes: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, callSite: String, description: String) {
    def ms: Long = endMs - startMs
  }

  /** One streaming micro-batch and its `durationMs` phases (`addBatch`,
    * `triggerExecution`, `queryPlanning`, ...). */
  final case class Batch(query: String, id: Long, rows: Long,
      durationMs: Map[String, Long])

  /** One recorded block: its result, when it started (`startMs`, epoch),
    * its wall time, and the jobs and batches that started inside it.
    * `drainTimedOut` marks a record read while events were still queued on
    * the listener bus: its counts may be short. */
  final case class Record[T](result: T, startMs: Long, wallMs: Double,
      jobs: Seq[Job], batches: Seq[Batch], drainTimedOut: Boolean) {
    /** Driver time before each job, charged to the job's call site: from
      * the latest end among the jobs started before it (the block start for
      * the first job) to its start. The time after the last job is charged
      * to `(end)`. Jobs are clipped to the block. */
    lazy val gaps: Seq[(String, Double)] = {
      val end = startMs + wallMs
      var reach = startMs.toDouble
      val before = jobs.sortBy(_.startMs).map { j =>
        val gap = math.max(0.0, math.min(end, j.startMs.toDouble) - reach)
        reach = math.max(reach, math.min(end, j.endMs.toDouble))
        j.callSite -> gap
      }
      before :+ ("(end)" -> math.max(0.0, end - reach))
    }
    /** Driver time outside every job, always >= 0. */
    def gapMs: Double = gaps.map(_._2).sum
    /** Measure of the union of the jobs' intervals within the block:
      * overlapping jobs (AQE map stages, broadcast builds, concurrent
      * threads) count once, so `jobMs <= wallMs`. */
    def jobMs: Double = wallMs - gapMs
    def stages: Int = jobs.map(_.stages).sum
    def tasks: Int = jobs.map(_.tasks).sum
    def inputBytes: Long = jobs.map(_.inputBytes).sum
    def shuffleReadBytes: Long = jobs.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
  }

  /** Cold and warm run of one query, and the warm frame's formatted plan. */
  final case class QueryProfile(name: String, cold: Record[Long],
      warm: Record[Long], plan: String)

  /** How long reading a record waits for the listener bus to empty. */
  private val DrainTimeoutMs = 30000L

  /** The SparkListener, with its StreamingQueryListener in `streams`, that
    * collects the jobs and batches starting at or after `t0Ms`. */
  private final class Recorder(t0Ms: Long) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val execDesc = mutable.HashMap.empty[Long, String]
    private val batches = mutable.ArrayBuffer.empty[Batch]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { execDesc(x.executionId) = x.description }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.time >= t0Ms) {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.sql.execution.id")
          .flatMap(id => execDesc.get(id.toLong))
          .orElse(prop("callSite.short")).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, e.time, -1L, 0, 0, 0L, 0L, 0L, site,
          prop("spark.job.description").getOrElse(""))
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
          val m = Option(info.taskMetrics)
          jobs(j.id) = j.copy(stages = j.stages + 1,
            tasks = j.tasks + info.numTasks,
            inputBytes = j.inputBytes + m.fold(0L)(_.inputMetrics.bytesRead),
            shuffleReadBytes = j.shuffleReadBytes +
              m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
            shuffleWriteBytes = j.shuffleWriteBytes +
              m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
            callSite = if (j.callSite.isEmpty) info.name else j.callSite)
        }
      }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (java.time.Instant.parse(p.timestamp).toEpochMilli >= t0Ms) {
          val b = Batch(Option(p.name).getOrElse(p.id.toString), p.batchId,
            p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
          Recorder.this.synchronized { batches += b }
        }
      }
    }

    /** The record of a block that ran `wallMs` from `t0Ms`. A job still
      * running (or whose end event was not delivered) ends with the block. */
    def result[T](value: T, wallMs: Double,
        drainTimedOut: Boolean): Record[T] = synchronized {
      val blockEnd = math.ceil(t0Ms + wallMs).toLong
      val js = jobs.values.toList.map(j =>
        if (j.endMs >= 0) j else j.copy(endMs = blockEnd))
      Record(value, t0Ms, wallMs, js, batches.toList, drainTimedOut)
    }
  }

  /** Runs `f` with a recorder registered on `spark` and returns what it
    * recorded. The counters are read only after the listener bus has
    * delivered every queued event (or `DrainTimeoutMs` passed, which the
    * record flags); both listeners are removed before returning. */
  def record[T](spark: SparkSession)(f: => T): Record[T] = {
    val sc = spark.sparkContext
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = new Recorder(t0Ms)
    sc.addSparkListener(r)
    spark.streams.addListener(r.streams)
    try {
      val value = f
      val wallMs = (System.nanoTime() - t0) / 1e6
      val timedOut =
        try {
          org.apache.spark.sql.graft.ColumnBridgeImpl
            .drainListenerBus(sc, DrainTimeoutMs)
          false
        } catch { case _: java.util.concurrent.TimeoutException => true }
      r.result(value, wallMs, timedOut)
    } finally {
      spark.streams.removeListener(r.streams)
      sc.removeSparkListener(r)
    }
  }

  /** Prints one run: the PROFILE line, then the JOB, SITE, GAPB4 (`gaps`,
    * summing to `gap_ms`) and BATCH tables. */
  private def report(label: String, r: Record[Long]): Unit = {
    val drain = if (r.drainTimedOut) " drain_timed_out=true" else ""
    println(f"PROFILE $label wall_ms=${r.wallMs}%.0f rows=${r.result} " +
      f"jobs=${r.jobs.size} stages=${r.stages} tasks=${r.tasks} " +
      f"in=${r.inputBytes / 1024}K sr=${r.shuffleReadBytes / 1024}K " +
      f"sw=${r.shuffleWriteBytes / 1024}K job_ms=${r.jobMs}%.0f " +
      f"gap_ms=${r.gapMs}%.0f batches=${r.batches.size}$drain")
    r.jobs.sortBy(-_.ms).take(30).foreach { j =>
      println(f"JOB ${j.id}%4d ${j.ms}%6dms stages=${j.stages}%2d " +
        f"tasks=${j.tasks}%4d in=${j.inputBytes / 1024}%7dK " +
        f"sr=${j.shuffleReadBytes / 1024}%6dK " +
        f"sw=${j.shuffleWriteBytes / 1024}%6dK  ${j.callSite.take(70)}%-70s " +
        j.description.take(60))
    }
    def table(tag: String, rows: Seq[(String, Double)], top: Int): Unit =
      rows.groupBy(_._1).toSeq
        .map { case (site, g) => (site, g.size, g.map(_._2).sum) }
        .sortBy(-_._3).take(top).foreach { case (site, n, ms) =>
          println(f"$tag $ms%7.0fms n=$n%3d  ${site.take(90)}")
        }
    table("SITE", r.jobs.map(j => j.callSite -> j.ms.toDouble), 25)
    table("GAPB4", r.gaps, 15)
    r.batches.foreach { b =>
      println(s"BATCH ${b.query} b${b.id} rows=${b.rows} " +
        b.durationMs.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }
          .mkString(" "))
    }
  }

  /** Profiles `names` in order on `spark` over `sfDir` (see the object
    * doc), printing as it goes, and returns each query's runs and plan. */
  def run(spark: SparkSession, names: Seq[String],
      sfDir: String): Seq[QueryProfile] = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val queries = names.map(n =>
      byName.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    queries.map { q =>
      def once(label: String): (Record[Long], DataFrame) = {
        var df: DataFrame = null
        val r = record(spark) { df = q.run(spark, sfDir); df.count() }
        report(s"${q.name} $label", r)
        (r, df)
      }
      val (cold, _) = once("cold")
      val (warm, frame) = once("warm")
      val plan = frame.queryExecution.explainString(FormattedMode)
      println(s"PLAN ${q.name}")
      println(plan)
      QueryProfile(q.name, cold, warm, plan)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2,
      "usage: Profile <q1[,q2,...]> [sfDir]")
    val spark = GraftSession.create()
    try run(spark, args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      args.lift(1).getOrElse("/root/testdata/sf0.1"))
    finally spark.stop()
  }
}
