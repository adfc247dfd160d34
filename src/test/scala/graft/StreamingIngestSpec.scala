package graft

import graft.config.{DatabasesConfig, IngestConfig, PluginSpec}
import graft.sink.{IdempotentParquetSink, ParquetSink}
import graft.sources.OpenSky
import graft.streaming.StreamingIngest
import graft.tools.Profile
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import scala.jdk.CollectionConverters._

/** Full-native streaming ingest end-to-end: DSv2 source → foreachBatch
  * fan-out, several micro-batches, checkpointed. */
class StreamingIngestSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  private val cfg = IngestConfig(
    plugin = PluginSpec(intervalSec = 60),
    databases = DatabasesConfig(prefix = "sdb", copies = 2, extra = Map("y" -> 1)),
    runForSec = 0)
  private val statesPerTick = 20

  /** Start the ingest query into `sink`, checkpointed in `ckpt`. */
  private def start(sink: graft.sink.AppendSink, ckpt: String, triggerMs: Long): StreamingQuery =
    StreamingIngest.start(spark, cfg, sink, statesPerTick = statesPerTick,
      checkpointDir = Some(ckpt), triggerMs = triggerMs)

  /** Wait until micro-batch `id` has completed, then stop `q`, between
    * two triggers where one comes within 5 s (a batch the stop interrupts
    * is replayed on restart). */
  private def stopAfter(q: StreamingQuery, id: Long): Unit = {
    def reached = Option(q.lastProgress).exists(_.batchId >= id)
    def await(ms: Long)(p: => Boolean): Unit = {
      val end = System.nanoTime() + ms * 1000000L
      while (!p && q.isActive && System.nanoTime() < end) Thread.sleep(10)
    }
    try { await(60000)(reached); await(5000)(!q.status.isTriggerActive) }
    finally q.stop()
    assert(reached, s"micro-batch $id never completed: ${q.exception}")
  }

  /** The batch ids the checkpoint's commit log holds, ascending. */
  private def committed(ckpt: String): Seq[Long] =
    Option(new File(ckpt, "commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted

  test("streaming query fans ticks out to every target") {
    val root = tempDir("graft_sing")
    val ckpt = tempDir("graft_sing_ckpt")
    val q = start(new ParquetSink(root), ckpt, triggerMs = 100)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def rows = try spark.read.parquet(s"$root/sdb1/flights").count() catch { case _: Exception => 0L }
      while (rows < 60 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(rows >= 60, s"expected >=3 ticks of 20 rows, got $rows")
    } finally q.stop()
    val targets = cfg.targets("flights")
    assert(targets.size === 3)
    val counts = targets.map { case (db, t) => spark.read.parquet(s"$root/$db/$t").count() }
    // Delivery is at-least-once per target per micro-batch (same guarantee
    // class as the reference): stop() mid-fan-out may leave the last batch
    // written to a prefix of the targets, so counts may differ by at most
    // one batch.
    assert(counts.forall(_ >= 60), s"got $counts")
    assert(counts.max - counts.min <= 20, s"fan-out skew beyond one batch: $counts")
    assert(counts.forall(_ % 20 === 0))
    val cols = spark.read.parquet(s"$root/sdb1/flights").columns.toSeq
    assert(cols === ("time" +: OpenSky.stateColumns.map(_._1)))
  }

  test("a micro-batch takes the poll tick's path: no persist, no count, 2 jobs") {
    val root = tempDir("graft_sing_jobs")
    val ckpt = tempDir("graft_sing_jobs_ckpt")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    // inside foreachBatch every job's call site is the query's `start`,
    // so what a micro-batch ran is read from its SQL executions' plans
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val rec =
      try Profile.record(spark)(stopAfter(start(new IdempotentParquetSink(root), ckpt,
        triggerMs = 100), 2))
      finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached)
    assert(!plans.asScala.exists(p => p.contains("InMemoryRelation") || p.contains("Aggregate")),
      plans.asScala.mkString("\n\n"))
    val done = rec.batches.map(_.id).distinct
    assert(done.size >= 3, s"batches: ${rec.batches}")
    // per micro-batch (its id is in each job's description): the body
    // collect and the one parquet write, the other targets being copies
    done.foreach { id =>
      val jobs = rec.jobs.filter(_.description.endsWith(s"\nbatch = $id"))
      assert(jobs.size === 2, s"micro-batch $id: $jobs")
    }
  }

  test("a restart from the checkpoint loses and duplicates no (batch, target)") {
    val root = tempDir("graft_sing_restart")
    val ckpt = tempDir("graft_sing_restart_ckpt")
    stopAfter(start(new IdempotentParquetSink(root), ckpt, triggerMs = 500), 1)
    val first = committed(ckpt)
    assert(first.size >= 2, s"committed: $first")
    val q = start(new IdempotentParquetSink(root), ckpt, triggerMs = 500)
    stopAfter(q, first.last + 2)
    // the restarted query resumes after the last committed batch
    assert(q.recentProgress.head.batchId === first.last + 1)
    val ids = committed(ckpt)
    assert(ids === (0L to ids.last), s"committed: $ids")
    assert(ids.last >= first.last + 2)
    // per target: batch id -> rows; micro-batch n is tick n + 1
    val held = cfg.targets("flights").map { case (db, t) =>
      (db, t) -> spark.read.parquet(s"$root/$db/$t").collect().toSeq
        .groupBy(_.getAs[Int]("batch").toLong).map { case (id, rows) => id -> rows.map(_.toString).sorted }
    }.toMap
    held.foreach { case (target, batches) =>
      // a batch past the commit log is one the last stop interrupted: it
      // may have reached some targets already and is replayed on restart
      assert(ids.toSet.subsetOf(batches.keySet) &&
        (batches.keySet -- ids).subsetOf(Set(ids.last + 1)),
        s"$target holds batches ${batches.keySet.toSeq.sorted}, committed $ids")
      batches.foreach { case (id, rows) =>
        assert(rows.size === statesPerTick, s"$target batch $id")
        assert(rows.forall(_.startsWith(s"[${1700000000L + (id + 1) * 60},")), s"$target batch $id")
      }
    }
    ids.foreach(id => assert(held.values.map(_(id)).toSet.size === 1, s"batch $id differs"))
  }
}
