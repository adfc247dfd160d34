package graftbench

import graft.config.{DatabasesConfig, IngestConfig, PluginSpec}
import graft.sink.{AppendSink, IdempotentParquetSink}
import graft.sources.OpenSkyHttpSource
import graft.streaming.{IngestSource, PollingIngest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Boundaries of one poll tick, as seen from outside graft: the fetch()
  * call and return, then each append call (start, end, succeeded), in
  * [[Clock]] milliseconds. */
final class TickRec(val phase: String, val fetchStart: Double) {
  var fetchEnd: Double = Double.NaN
  var body: Int = -1
  var bytes: Long = 0L
  var fetchOk = false
  val appends = ArrayBuffer.empty[(Double, Double, Boolean)]
}

/** Collects tick boundaries from the source and sink decorators. Ingest
  * runs one poller on one thread, so the calls arrive strictly in order:
  * fetch, then the tick's appends. */
final class TickLog(gen: OpenSkyGen) {
  var phase = "warm"
  val ticks = ArrayBuffer.empty[TickRec]
  def current: TickRec = ticks.last

  /** IngestSource decorator: times fetch() and notes which body came back. */
  def source(delegate: IngestSource): IngestSource = new IngestSource {
    override def name: String = delegate.name
    override def tablePrefix: String = delegate.tablePrefix
    override def validate(): Unit = delegate.validate()
    override def fetch(): String = {
      val t = new TickRec(phase, Clock.now())
      ticks += t
      val body = delegate.fetch()
      t.fetchEnd = Clock.now()
      t.fetchOk = true
      t.bytes = body.length.toLong // bodies are ASCII: chars == bytes
      t.body = gen.bodyIndexOf(body)
      body
    }
  }

  /** AppendSink decorator: times each append of the current tick. */
  def sink(delegate: AppendSink): AppendSink = new AppendSink {
    override def ensure(db: String, table: String, ddl: String): Unit =
      delegate.ensure(db, table, ddl)
    override def append(df: DataFrame, db: String, table: String): Unit =
      append(df, db, table, 0L)
    override def append(df: DataFrame, db: String, table: String, batchId: Long): Unit = {
      val s = Clock.now()
      var ok = false
      try { delegate.append(df, db, table, batchId); ok = true }
      finally current.appends += ((s, Clock.now(), ok))
    }
  }
}

object IngestBench {
  /** Reference topology (FIXTURES.md §4): 3 database copies plus `foo`
    * with 5 tables, ~10^4 states (~1.4 MB) per tick. */
  val StatesPerTick = 10000
  val Databases = DatabasesConfig(copies = 3, extra = Map("foo" -> 5))
  /** Distinct bodies the stub serves, round robin. */
  val Bodies = 16
  /** Set-up rounds, each with WarmTicks ticks, then SettleTicks untimed
    * ticks before timing starts. */
  val Rounds = 3
  val WarmTicks = 1
  val SettleTicks = 2
}

final class IngestBench extends Bench {
  import IngestBench._
  import Main._

  override def run(a: Args, rec: mutable.Map[String, Any]): SparkSession = {
    val gen = new OpenSkyGen(a.seed, StatesPerTick)
    val t0 = Clock.now()
    val bodies = Array.tabulate(Bodies)(b => gen.render(b).getBytes(UTF_8))
    rec("generate_ms") = Clock.now() - t0
    rec("states_per_tick") = StatesPerTick
    rec("body_bytes") = bodies.map(_.length.toLong).toSeq
    val cfg = IngestConfig(plugin = PluginSpec(intervalSec = 1),
      databases = Databases,
      runForSec = 0, backoffSec = 1)
    val targets = cfg.targets("flights")
    rec("targets") = targets.map { case (d, t) => s"$d.$t" }

    // Set-up rounds: session, stub, DDL bootstrap, warm-up ticks. All but
    // the last are torn down again; set-up time is their median.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var stub: StubServer = null
    var log: TickLog = null
    var root: Path = null
    // One PollingIngest.run through the decorators; closed loop (no sleep).
    def poll(c: IngestConfig, maxTicks: Int): Unit = PollingIngest.run(spark,
      log.source(new OpenSkyHttpSource(stub.url, "bench", "bench")), c,
      log.sink(new IdempotentParquetSink(root.toString)), maxTicks = maxTicks,
      sleepFn = _ => ())
    try {
      for (r <- 1 to Rounds) {
        val s = Clock.now()
        spark = session(a.cores, a.work)
        stub = new StubServer(bodies)
        log = new TickLog(gen)
        root = a.work.resolve(s"sink-$r")
        deleteTree(root)
        poll(cfg, WarmTicks)
        setups += Clock.now() - s
        if (r < Rounds) {
          stub.stop(); stub = null
          spark.stop(); spark = null
          deleteTree(root)
        }
      }
      rec("setup_rounds_ms") = setups.toSeq
      rec("sink_root") = root.toString
      val settle = Clock.now()
      poll(cfg, SettleTicks)
      rec("settle_ms") = Clock.now() - settle
      describe(spark, rec)
      val listeners = if (a.trace) Some(new Listeners(spark)) else None

      // Timed phase: closed loop until the deadline passes.
      log.phase = "timed"
      rec("first_timed_ms") = Clock.now()
      poll(cfg.copy(runForSec = a.seconds), -1)
      rec("timed_end_ms") = Clock.now()
      listeners.foreach(l => rec ++= listenerRecords(l))
      rec("ticks") = log.ticks.toSeq.map(t => Map(
        "phase" -> t.phase, "fetch_start" -> t.fetchStart, "fetch_end" -> t.fetchEnd,
        "fetch_ok" -> t.fetchOk, "body" -> t.body, "bytes" -> t.bytes,
        "appends" -> t.appends.toSeq.map { case (s, e, ok) => Seq(s, e, ok) }))
      stub.stop(); stub = null
      rec("checks") = check(spark, gen, root, targets, log)
      rec("sink_files") = sinkFiles(root)
      spark
    } catch {
      case e: Throwable =>
        if (stub != null) stub.stop()
        if (spark != null) spark.stop()
        throw e
    }
  }

  /** Row count, batch partitions and an order-insensitive checksum of
    * every target, against the bodies fetch() returned. */
  private def check(spark: SparkSession, gen: OpenSkyGen, root: Path,
      targets: Seq[(String, String)], log: TickLog): Seq[Map[String, Any]] = {
    type Sums = (Long, Long, Long) // rows, sum of low and of high hash halves
    def sums(df: DataFrame, keys: String*): Map[Seq[Any], Sums] = {
      val h = xxhash64(OpenSkyGen.rowSchema.fieldNames.toSeq.map(col): _*)
      df.groupBy(keys.map(col): _*).agg(count(lit(1)),
        sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32)))
        .collect().map { r =>
          r.toSeq.take(keys.size) -> ((r.getLong(keys.size), r.getLong(keys.size + 1),
            r.getLong(keys.size + 2)))
        }.toMap
    }
    val fetched = log.ticks.filter(_.fetchOk).map(_.body).toSeq
    // Expected rows are rebuilt on the executors from (seed, body index):
    // the Spark driver never holds the rows of a whole run.
    val expected: Map[Int, Sums] = {
      val g = gen
      val rows = spark.sparkContext.parallelize(fetched.distinct, fetched.distinct.size)
        .flatMap(b => g.expectedRows(b).map(r => Row.fromSeq(b +: r.toSeq)))
      val schema = StructType(StructField("body", IntegerType) +: OpenSkyGen.rowSchema.fields)
      sums(spark.createDataFrame(rows, schema), "body").map { case (k, v) =>
        k.head.asInstanceOf[Int] -> v }
    }
    // All targets in one job: a union of per-target scans.
    val df = targets.map { case (db, t) =>
      spark.read.parquet(root.resolve(db).resolve(t).toString)
        .withColumn("target", lit(s"$db/$t"))
    }.reduce(_ unionByName _)
    val schemaOk = df.schema.fields.filter(f => f.name != "batch" && f.name != "target")
      .map(f => (f.name, f.dataType.simpleString)).toSeq ==
      OpenSkyGen.rowSchema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq
    val got = if (schemaOk) sums(df, "target", "batch") else Map.empty[Seq[Any], Sums]
    targets.map { case (db, table) =>
      val mine = got.collect { case (Seq(t, b), v) if t == s"$db/$table" =>
        b.asInstanceOf[Long] -> v }
      val batches = mine.keys.toSeq.sorted
      val checksumOk = batches.size == fetched.size &&
        batches.zip(fetched).forall { case (bid, body) => mine(bid) == expected(body) }
      Map("target" -> s"$db.$table", "schema_ok" -> schemaOk,
        "batches" -> batches.size, "distinct_batches" -> batches.distinct.size,
        "ticks" -> fetched.size, "rows" -> mine.values.map(_._1).sum,
        "expected_rows" -> fetched.size.toLong * gen.statesPerBody,
        "checksum_ok" -> checksumOk)
    }
  }

  /** Files and bytes under the sink root, data files only. */
  private def sinkFiles(root: Path): Map[String, Long] = {
    val w = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      val files = w.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      Map("files" -> files.size.toLong, "bytes" -> files.map(Files.size).sum)
    } finally w.close()
  }
}
