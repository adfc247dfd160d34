package graft

import graft.streaming.StreamingOps
import graft.tools.Profile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** `graft.tools.Profile`: the recorder's job, gap and batch accounting on
  * the shared session, and the profiler main's `run` on a corpus query. */
class ProfileSpec extends AnyFunSuite {
  import TestSession._

  /** Exactly one Spark job. */
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 4, 2).count()

  test("driver time between two jobs is gap, not job time") {
    val r = Profile.record(spark) { oneJob(); Thread.sleep(300); oneJob() }
    assert(!r.drainTimedOut)
    assert(r.jobs.size == 2)
    assert(r.gapMs >= 300, s"gap_ms=${r.gapMs}")
    assert(r.jobMs >= 0 && r.jobMs <= r.wallMs)
  }

  test("concurrent jobs count once: job_ms <= wall and gap_ms >= 0") {
    // two 2-task jobs whose tasks sleep 500 ms, submitted from two threads
    // at once: the session's 4 task slots run them side by side
    def slowJob(): Long = spark.sparkContext.parallelize(1 to 2, 2)
      .map { i => Thread.sleep(500); i }.count()
    val r = Profile.record(spark) {
      Await.result(Future.sequence(Seq.fill(2)(Future(slowJob()))), 2.minutes)
    }
    assert(r.jobs.size == 2)
    val summed = r.jobs.map(_.ms).sum.toDouble
    assert(summed > r.jobMs, s"jobs did not overlap: ${r.jobs}")
    assert(r.jobMs <= r.wallMs, s"job_ms=${r.jobMs} wall_ms=${r.wallMs}")
    assert(r.gapMs >= 0)
    // wall minus the summed job times under-reports the driver gap
    assert(r.wallMs - summed < r.gapMs)
  }

  test("a drained stream's micro-batches are recorded with addBatch time") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val r = Profile.record(spark) {
      StreamingOps.runToMemory(spark, input.toDF(), "profile_spec_stream",
        "append").count()
    }
    assert(r.result == 3L)
    val batches = r.batches.filter(_.query == "profile_spec_stream")
    assert(batches.nonEmpty)
    assert(batches.map(_.rows).sum == 3L)
    assert(batches.forall(_.durationMs.contains("addBatch")), batches)
  }

  test("both listeners leave with the block, also when it throws") {
    val sc = spark.sparkContext
    def listeners =
      (org.apache.spark.graft.Listeners.count(sc), spark.streams.listListeners().length)
    val before = listeners
    intercept[IllegalStateException] {
      Profile.record(spark) { oneJob(); throw new IllegalStateException("boom") }
    }
    assert(listeners == before)
    val r = Profile.record(spark)(oneJob())
    oneJob()
    assert(listeners == before)
    assert(r.jobs.size == 1)
  }

  test("Profile.run profiles a corpus query cold and warm, with its plan") {
    val Seq(p) = Profile.run(spark, Seq("q01_pricing_summary"), sfDir)
    Seq(p.cold, p.warm).foreach { r =>
      assert(r.result > 0)
      assert(r.jobs.nonEmpty)
      assert(r.jobs.forall(_.callSite.nonEmpty))
      assert(r.gapMs >= 0 && r.jobMs <= r.wallMs)
    }
    assert(p.plan.contains("Physical Plan"))
  }
}
