package graft

import graft.sink.{AppendSink, Fanout, IdempotentParquetSink}
import graft.sources.{OpenSky, OpenSkyHttpSource, SourceRegistry}
import graft.streaming.SyntheticOpenSkySource
import graft.tools.Profile
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import java.util.concurrent.CountDownLatch

/** A14 registry contract + effectively-once batch replay. */
class RegistryAndIdempotenceSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("registry resolves by name; unknown names fail fast") {
    val s = SourceRegistry.resolve("opensky", Map("statesPerTick" -> "7"))
    assert(s.isInstanceOf[SyntheticOpenSkySource])
    assert(s.tablePrefix === "flights")
    val http = SourceRegistry.resolve("opensky",
      Map("url" -> "http://127.0.0.1:1/x", "user" -> "u", "password" -> "p"))
    assert(http.isInstanceOf[OpenSkyHttpSource])
    val e = intercept[IllegalArgumentException](SourceRegistry.resolve("nope"))
    assert(e.getMessage.contains("unknown ingest source") &&
      e.getMessage.contains("opensky"))
  }

  test("custom sources register and resolve (plugin Register parity)") {
    SourceRegistry.register("fixture-test", opts =>
      new SyntheticOpenSkySource(opts.getOrElse("n", "1").toInt))
    try {
      assert(SourceRegistry.names.contains("fixture-test"))
      assert(SourceRegistry.resolve("fixture-test", Map("n" -> "3")).name === "opensky")
    } finally SourceRegistry.deregister("fixture-test") // keep global state pristine
  }

  test("idempotent sink: replayed batch replaces instead of duplicating") {
    val root = tempDir("graft_idem")
    val sink = new IdempotentParquetSink(root)
    val df = OpenSky.parseJson(spark, Seq(OpenSky.sampleResponse(10))).toDF()
    val targets = Seq(("db1", "flights"))
    Fanout.writeBatch(df, targets, sink, batchId = 0)
    // replay the SAME batch id (post-crash foreachBatch re-delivery)
    Fanout.writeBatch(df, targets, sink, batchId = 0)
    assert(spark.read.parquet(s"$root/db1/flights").count() === 10) // not 20
    // a new batch id appends
    Fanout.writeBatch(df, targets, sink, batchId = 1)
    assert(spark.read.parquet(s"$root/db1/flights").count() === 20)
  }

  /** The reference's 8-target fan-out (3 database copies plus `foo`). */
  private val eight = (1 to 3).map(i => (s"db$i", "flights")) ++
    (1 to 5).map(j => ("foo", s"flights_$j"))
  private def tick(states: Int, time: Long): DataFrame =
    OpenSky.parseJson(spark, Seq(OpenSky.sampleResponse(states, time))).toDF()
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def batchOf(root: String, target: (String, String), id: Long): Seq[String] =
    rowsOf(spark.read.parquet(s"$root/${target._1}/${target._2}/batch=$id"))
  /** `_`-prefixed entries left in the targets' table dirs. */
  private def leftovers(root: String, targets: Seq[(String, String)]): Seq[String] =
    targets.distinct.flatMap { case (db, t) =>
      Option(new File(s"$root/$db/$t").list()).toSeq.flatten.filter(_.startsWith("_"))
    }

  test("encode once: 8 targets hold equal rows from 1 parquet write job") {
    val root = tempDir("graft_once")
    val sink = new IdempotentParquetSink(root)
    val df = tick(50, 1700000000L)
    val expected = rowsOf(df)
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val rec = Profile.record(spark)(Fanout.writeBatch(df, eight, sink, batchId = 7))
    assert(rec.result === ((8, 50L)))
    // a decoded tick is local: no persist or count, the write is the only job
    assert(rec.jobs.size === 1, s"jobs: ${rec.jobs.map(_.callSite)}")
    assert(rec.jobs.head.callSite.startsWith("parquet at"), rec.jobs.head.callSite)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cached)
    eight.foreach { t =>
      assert(batchOf(root, t, 7) === expected, s"$t")
      assert(new File(s"$root/${t._1}/${t._2}/batch=7/_SUCCESS").isFile, s"$t")
    }
    assert(leftovers(root, eight).isEmpty)
    // a replay of the id with a new frame re-encodes: every target,
    // the ones that were copied to included, holds the new batch
    val replay = tick(5, 1700000999L)
    assert(Fanout.writeBatch(replay, eight, sink, batchId = 7) === ((8, 5L)))
    eight.foreach(t => assert(batchOf(root, t, 7) === rowsOf(replay), s"$t"))
    assert(leftovers(root, eight).isEmpty)
  }

  test("encode once: a target listed twice, or re-sent its removed batch, holds it") {
    val root = tempDir("graft_twice")
    val sink = new IdempotentParquetSink(root)
    val targets = Seq(("a", "t"), ("b", "t"), ("a", "t"), ("b", "t"))
    val frames = (1L to 3L).map { id =>
      val df = tick(10, 1700000000L + id)
      assert(Fanout.writeBatch(df, targets, sink, batchId = id) === ((4, 10L)))
      targets.foreach(t => assert(batchOf(root, t, id) === rowsOf(df), s"$t batch $id"))
      df
    }
    // the same frame and id again, after its batch dirs were removed:
    // neither a copy nor a skip may leave a target without its batch
    targets.distinct.foreach { case (db, t) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$root/$db/$t/batch=3"))
    }
    assert(Fanout.writeBatch(frames.last, targets, sink, batchId = 3) === ((4, 10L)))
    targets.foreach(t => assert(batchOf(root, t, 3) === rowsOf(frames.last), s"$t"))
    assert(leftovers(root, targets).isEmpty)
  }

  /** `inner`, except that every target but `lead` appends only once the
    * append to `lead` has returned: `lead` is the one that encodes. */
  private def leading(inner: AppendSink, lead: (String, String)): AppendSink = new AppendSink {
    private val led = new CountDownLatch(1)
    override def append(df: DataFrame, db: String, table: String): Unit =
      append(df, db, table, 0L)
    override def append(df: DataFrame, db: String, table: String, batchId: Long): Unit =
      if ((db, table) == lead)
        try inner.append(df, db, table, batchId) finally led.countDown()
      else { led.await(); inner.append(df, db, table, batchId) }
  }

  test("encode once: a target that cannot be written fails alone, whichever encodes") {
    val bad = eight(1)
    Seq(None, Some(bad), Some(eight.head)).foreach { lead =>
      val root = tempDir("graft_bad")
      Files.createDirectories(new File(s"$root/${bad._1}").toPath)
      Files.write(new File(s"$root/${bad._1}/${bad._2}").toPath, Array[Byte](1))
      val sink = new IdempotentParquetSink(root)
      val df = tick(20, 1700000000L)
      val (ok, rows) = Fanout.writeBatch(df, eight, lead.fold[AppendSink](sink)(leading(sink, _)),
        batchId = 3)
      assert((ok, rows) === ((7, 20L)), s"lead $lead")
      val good = eight.filter(_ != bad)
      good.foreach(t => assert(batchOf(root, t, 3) === rowsOf(df), s"lead $lead, $t"))
      assert(leftovers(root, good).isEmpty, s"lead $lead")
    }
  }
}
