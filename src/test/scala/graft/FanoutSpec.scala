package graft

import graft.sink.{AppendSink, Fanout}
import graft.sources.OpenSky
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.jdk.CollectionConverters._

/** Fanout.writeBatch's concurrency contract: every target's append runs at
  * once on a writer started by the call, sees the caller's Spark local
  * properties, and has returned before writeBatch does — on failure and on
  * interrupt too. It takes only a batch decoded on the driver. */
class FanoutSpec extends AnyFunSuite {
  import TestSession._

  private val targets = (1 to 4).map(i => (s"db$i", "t"))
  /** A decoded tick of 10 states, as a poll tick and a micro-batch give. */
  private def batch: DataFrame =
    OpenSky.parseJson(spark, Seq(OpenSky.sampleResponse(10))).toDF()
  /** Any other driver-local batch (a LocalRelation). */
  private def localBatch: DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val df = spark.createDataFrame((0 until 10).map(Row(_)).asJava,
      StructType(Seq(StructField("v", IntegerType))))
    assert(df.isLocal)
    df
  }

  /** Sink whose every append runs `body(db)`. */
  private def sinkOf(body: String => Unit): AppendSink = new AppendSink {
    override def append(df: DataFrame, db: String, table: String): Unit = body(db)
  }

  test("appends to all targets overlap: each waits for every other to start") {
    // one shared 30 s deadline: appends run in turn fail after 30 s, not hang
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    val started = new CountDownLatch(targets.size)
    val sink = sinkOf { db =>
      started.countDown()
      if (!started.await(deadline - System.nanoTime(), TimeUnit.NANOSECONDS))
        throw new IllegalStateException(s"append to $db never overlapped the others")
    }
    val (ok, rows) = Fanout.writeBatch(batch, targets, sink)
    assert(ok === targets.size)
    assert(rows === 10L)
  }

  test("every append sees the calling thread's local properties, per call") {
    val key = "graft.fanout.spec"
    def seenFrom(value: String): Seq[String] = {
      val seen = new ConcurrentLinkedQueue[String]
      val sink = sinkOf { _ =>
        seen.add(String.valueOf(spark.sparkContext.getLocalProperty(key))); ()
      }
      spark.sparkContext.setLocalProperty(key, value)
      try Fanout.writeBatch(batch, targets, sink)
      finally spark.sparkContext.setLocalProperty(key, null)
      seen.asScala.toSeq
    }
    assert(seenFrom("a") === Seq.fill(targets.size)("a"))
    var other: Seq[String] = Nil
    val t = new Thread(() => other = seenFrom("b"))
    t.start(); t.join()
    assert(other === Seq.fill(targets.size)("b"))
  }

  /** One target fails at once, the others set a flag after 300 ms; with
    * `interrupt` the caller is interrupted once all of them have started. */
  private def barrierCase(interrupt: Boolean, batch: DataFrame = batch): Unit = {
    val flags = targets.map(_ => new AtomicBoolean(false))
    val started = new CountDownLatch(targets.size)
    val sink = sinkOf { db =>
      started.countDown()
      if (db == targets.head._1) throw new RuntimeException("boom")
      Thread.sleep(300)
      flags(targets.indexWhere(_._1 == db)).set(true)
    }
    var ok = -1
    var flagsAtReturn: Seq[Boolean] = Nil
    var interruptedAtReturn = false
    val caller = new Thread(() => {
      ok = Fanout.writeBatch(batch, targets, sink)._1
      flagsAtReturn = flags.tail.map(_.get)
      interruptedAtReturn = Thread.currentThread().isInterrupted
    })
    caller.start()
    if (interrupt) {
      assert(started.await(30, TimeUnit.SECONDS))
      caller.interrupt()
    }
    caller.join(60000)
    assert(!caller.isAlive)
    assert(flagsAtReturn === Seq.fill(targets.size - 1)(true))
    assert(ok === targets.size - 1)
    assert(interruptedAtReturn === interrupt) // interrupt status kept, not swallowed
  }

  test("writeBatch returns only after every append has returned") {
    barrierCase(interrupt = false)
  }

  test("an interrupted caller still waits for every append") {
    barrierCase(interrupt = true)
  }

  test("on a local batch: an interrupted caller still waits for every append") {
    barrierCase(interrupt = true, localBatch)
  }

  test("a local batch is written as one partition, counted without a job") {
    val parts = new ConcurrentLinkedQueue[Int]
    val sink = new AppendSink {
      override def append(df: DataFrame, db: String, table: String): Unit = {
        parts.add(df.rdd.getNumPartitions); ()
      }
    }
    val rec = graft.tools.Profile.record(spark)(
      Fanout.writeBatch(localBatch, targets, sink))
    assert(rec.result === ((targets.size, 10L)))
    assert(rec.jobs.isEmpty, s"jobs: ${rec.jobs.map(_.callSite)}")
    assert(parts.asScala.toSeq === Seq.fill(targets.size)(1))
  }

  test("a frame that is not a decoded batch is rejected before any append") {
    val appends = new AtomicInteger(0)
    val sink = sinkOf(_ => { appends.incrementAndGet(); () })
    val distributed = spark.range(0, 10, 1, numPartitions = 1).toDF("v")
    val e = intercept[IllegalArgumentException](Fanout.writeBatch(distributed, targets, sink))
    assert(e.getMessage.contains("OpenSky.parseJson"), e.getMessage)
    assert(appends.get === 0)
  }

  private def errorCase(batch: DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.size
    val finished = new AtomicInteger(0)
    val sink = sinkOf { db =>
      if (db == targets.head._1) throw new AssertionError("fatal append")
      Thread.sleep(300)
      finished.incrementAndGet(); ()
    }
    val e = intercept[AssertionError](Fanout.writeBatch(batch, targets, sink))
    assert(e.getMessage === "fatal append")
    assert(finished.get === targets.size - 1)
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("an Error from one append is rethrown after the others, batch released") {
    errorCase(batch)
  }

  test("on a local batch: an Error from one append is rethrown after the others") {
    errorCase(localBatch)
  }
}
