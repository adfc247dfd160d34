package graft

import graft.config.{DatabasesConfig, IngestConfig, PluginSpec}
import graft.sink.{AppendSink, Fanout, ParquetSink}
import graft.sources.OpenSky
import graft.streaming.{PollingIngest, SyntheticOpenSkySource}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Ingest parity (SURVEY §2A / §7 M2): schema order, parse semantics,
  * topology expansion, fan-out delivery, error policy, config loading. */
class IngestSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("flights schema is in canonical acc_init.sql order") {
    val flights = OpenSky.parseJson(spark, Seq(OpenSky.sampleResponse(3)))
    assert(flights.columns.toSeq === ("time" +: OpenSky.stateColumns.map(_._1)))
    assert(flights.columns.length === 18)
  }

  test("parse: envelope time propagates, nulls and sensors decode") {
    val json = """{"time": 1700000123, "states": [
      ["abc123","CS1","Testland",1700000100,1700000120,10.5,20.25,1000.0,
       false,250.5,90.0,null,[3,7],1050.0,"7700",true,1],
      ["def456",null,"Otherland",null,1700000121,null,null,null,
       true,null,null,null,null,null,null,false,0]]}"""
    val rows = OpenSky.parseJson(spark, Seq(json)).collect().sortBy(_.icao24)
    val a = rows(0)
    assert(a.time === Some(1700000123L))
    assert(a.icao24 === Some("abc123"))
    assert(a.longitude === Some(10.5f))
    assert(a.sensors === Some(Seq(3, 7)))
    assert(a.spi === Some(true))
    assert(a.position_source === Some(1))
    val b = rows(1)
    assert(b.callsign === None)
    assert(b.time_position === None)
    assert(b.sensors === None)
    assert(b.on_ground === Some(true))
  }

  test("parse: empty, null and absent states give no rows") {
    import spark.implicits._
    val docs = Seq(OpenSky.sampleResponse(7, 1700000001L),
      """{"time": 1700000002, "states": []}""",
      """{"time": 1700000003, "states": null}""",
      """{"time": 1700000004}""",
      OpenSky.sampleResponse(3, 1700000005L))
    val parsed = OpenSky.parseJson(spark, docs).toDF()
    assert(parsed.count() === 10L)
    assert(parsed.select("time").distinct().as[Long].collect().sorted.toSeq ===
      Seq(1700000001L, 1700000005L))
  }

  test("topology expansion matches reference semantics (3 copies + extra)") {
    val cfg = IngestConfig(databases =
      DatabasesConfig(prefix = "auto_", copies = 3, extra = Map("foo" -> 5)))
    val t = cfg.targets("flights")
    assert(t.size === 8) // BASELINE.md: default config = 8-table fan-out
    assert(t.take(3) === Seq(("auto_1", "flights"), ("auto_2", "flights"), ("auto_3", "flights")))
    assert(t.drop(3) === (1 to 5).map(j => ("auto__foo", s"flights_$j")))
    assert(t.map(x => s"${x._1}.${x._2}").distinct.size === 8)
  }

  test("create-table DDL renders all 18 columns with reference types") {
    val ddl = OpenSky.createTableDdl("flights")
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS flights"))
    assert(ddl.contains("icao24 VARCHAR(10)"))
    assert(ddl.contains("sensors JSON"))
    assert(ddl.contains("on_ground BOOLEAN"))
    assert(ddl.linesIterator.count(_.trim.nonEmpty) === 20) // 18 cols + open/close
  }

  test("end-to-end: 2 ticks fan out to every target with identical rows") {
    val root = tempDir("graft_ingest_e2e")
    val cfg = IngestConfig(
      plugin = PluginSpec(intervalSec = 1),
      databases = DatabasesConfig(prefix = "db", copies = 2, extra = Map("x" -> 2)),
      runForSec = 0)
    val h = PollingIngest.run(spark, new SyntheticOpenSkySource(50), cfg,
      new ParquetSink(root), maxTicks = 2, sleepFn = _ => ())
    assert(h.ticks === 2)
    val targets = cfg.targets("flights")
    assert(targets.size === 4)
    val counts = targets.map { case (db, t) =>
      spark.read.parquet(s"$root/$db/$t").count()
    }
    assert(counts.forall(_ === 100L), s"got $counts") // 2 ticks x 50 states
    // canonical column order preserved through the sink
    val cols = spark.read.parquet(s"$root/db1/flights").columns.toSeq
    assert(cols === ("time" +: OpenSky.stateColumns.map(_._1)))
  }

  test("fan-out: failing target is skipped with warn-and-continue") {
    val root = tempDir("graft_ingest_err")
    val inner = new ParquetSink(root)
    def failingOn(bad: String) = new AppendSink {
      override def append(df: DataFrame, db: String, table: String): Unit = {
        if (db == bad) throw new RuntimeException("boom")
        inner.append(df, db, table)
      }
    }
    val df = OpenSky.parseJson(spark, Seq(OpenSky.sampleResponse(10))).toDF()
    val (ok, rows) = Fanout.writeBatch(df, Seq(("good", "t1"), ("bad", "t1"), ("good", "t2")),
      failingOn("bad"))
    assert(ok === 2)
    assert(rows === 10)
    assert(spark.read.parquet(s"$root/good/t1").count() === 10)
    // driven through the loop, every tick's failed append is counted
    val cfg = IngestConfig(
      databases = DatabasesConfig(prefix = "db", copies = 2, extra = Map("x" -> 2)),
      runForSec = 0)
    val h = PollingIngest.run(spark, new SyntheticOpenSkySource(5), cfg, failingOn("db2"),
      maxTicks = 3, sleepFn = _ => ())
    assert(h.ticks === 3)
    assert(h.failedAppends === 3L) // 1 of 4 targets, 3 ticks
    assert(spark.read.parquet(s"$root/db1/flights").count() === 15)
  }

  test("ingest loop: fetch errors back off and the loop survives") {
    var calls = 0
    val source = new graft.streaming.IngestSource {
      override def name = "flaky"
      override def tablePrefix = "flights"
      override def fetch(): String = {
        calls += 1
        if (calls % 2 == 1) throw new RuntimeException("http 503")
        OpenSky.sampleResponse(5)
      }
    }
    var backoffs = 0
    val root = tempDir("graft_ingest_flaky")
    val cfg = IngestConfig(runForSec = 0, backoffSec = 1)
    val h = PollingIngest.run(spark, source, cfg, new ParquetSink(root),
      maxTicks = 2, sleepFn = _ => backoffs += 1)
    assert(h.ticks === 2)       // reached despite alternating failures
    assert(h.failedTicks === 2) // each failed fetch is counted
    assert(calls === 4)         // 2 failures + 2 successes
  }

  test("config: YAML subset parses with reference defaults") {
    val yaml =
      """# ingest config
        |plugin_spec:
        |  name: opensky
        |  config:
        |    interval: 30
        |    fetch_workers: 2
        |databases:
        |  prefix: "auto_"
        |  copies: 3
        |  extra:
        |    foo:
        |      tables: 5
        |  write_workers: 5
        |connection_pool:
        |  max_open_conns: 30
        |  max_idle_conns: 0
        |  conn_max_lifetime: 0
        |""".stripMargin
    val cfg = IngestConfig.parse(yaml)
    assert(cfg.plugin.intervalSec === 30)
    assert(cfg.databases.copies === 3)
    assert(cfg.databases.extra === Map("foo" -> 5))
    assert(cfg.targets("flights").size === 8)
  }

  test("config: loads the repo's reference-shaped example file") {
    // the reference keys no field reads are ignored, not rejected
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("conf/ingest.yaml")), "UTF-8")
    Seq("write_workers:", "fetch_workers:", "connection_pool:").foreach(k =>
      assert(text.contains(k), k))
    val cfg = IngestConfig.load("conf/ingest.yaml")
    assert(cfg.plugin.name === "opensky")
    assert(cfg.plugin.intervalSec === 60)
    assert(!cfg.tls.enabled)
    assert(cfg.targets("flights").size === 8)           // 3 copies + 5 extra
    assert(cfg.runForSec === 60 && cfg.backoffSec === 5)
  }

  test("config: defaults when sections are absent") {
    val cfg = IngestConfig.parse("plugin_spec:\n  name: opensky\n")
    assert(cfg.plugin.intervalSec === 60)
    assert(cfg.databases.prefix === "auto_")
    assert(cfg.runForSec === 60)
    assert(cfg.backoffSec === 5)
  }

  test("run bases stay monotone across a simulated restart (persisted floor)") {
    val f = java.nio.file.Files.createTempFile("graft_base", ".txt")
    val prev = sys.props.get("graft.ingest.baseFile")
    sys.props("graft.ingest.baseFile") = f.toString
    try {
      // a predecessor process on this host issued a base far ABOVE anything
      // wall-clock + entropy can produce (entropy span is ~1e12 µs); without
      // the persisted floor a restart drawing smaller entropy would regress
      // into its range
      val predecessor = System.currentTimeMillis() * 1000L + 5_000_000_000_000L
      java.nio.file.Files.write(f, predecessor.toString.getBytes("UTF-8"))
      val issued = PollingIngest.nextRunBase()
      assert(issued > predecessor, s"restart base $issued regressed below $predecessor")
      // and the issued base is persisted back for the NEXT restart
      val onDisk = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong
      assert(onDisk === issued)
      // corrupt sidecar degrades gracefully (entropy argument, no throw)
      java.nio.file.Files.write(f, "not-a-number".getBytes("UTF-8"))
      assert(PollingIngest.nextRunBase() > issued) // still process-monotone
    } finally {
      prev match {
        case Some(v) => sys.props("graft.ingest.baseFile") = v
        case None => sys.props.remove("graft.ingest.baseFile")
      }
      java.nio.file.Files.deleteIfExists(f)
    }
  }
}
