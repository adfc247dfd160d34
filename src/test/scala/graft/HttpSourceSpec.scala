package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.config.{IngestConfig, TlsConfig}
import graft.sink.{IdempotentParquetSink, ParquetSink}
import graft.sources.{OpenSky, OpenSkyHttpSource}
import graft.streaming.PollingIngest
import java.net.InetSocketAddress
import org.scalatest.funsuite.AnyFunSuite

/** The real HTTP polling source against a local JDK HttpServer stub —
  * the fixture-server strategy of the reference's own tests, but wired
  * through the full Spark ingest pipeline. */
class HttpSourceSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  private def withServer(handler: HttpExchange => Unit)(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/states/all", (ex: HttpExchange) => handler(ex))
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/api/states/all")
    finally server.stop(0)
  }

  private def ok(ex: HttpExchange, payload: String): Unit = {
    val bytes = payload.getBytes("UTF-8")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("authorized fetch flows through parse + fan-out end-to-end") {
    var authSeen: String = null
    withServer { ex =>
      authSeen = ex.getRequestHeaders.getFirst("Authorization")
      ok(ex, OpenSky.sampleResponse(25))
    } { url =>
      val src = new OpenSkyHttpSource(url, "user1", "sekrit")
      val root = tempDir("graft_http")
      val cfg = IngestConfig(runForSec = 0)
      val h = PollingIngest.run(spark, src, cfg, new ParquetSink(root),
        maxTicks = 2, sleepFn = _ => ())
      assert(h.ticks === 2)
      assert(authSeen != null && authSeen.startsWith("Basic "))
      val rows = spark.read.parquet(s"$root/auto_1/flights")
      assert(rows.count() === 50)
      assert(rows.columns.toSeq === ("time" +: OpenSky.stateColumns.map(_._1)))
    }
  }

  test("validate() fails fast on 401") {
    withServer { ex => ex.sendResponseHeaders(401, -1); ex.close() } { url =>
      val src = new OpenSkyHttpSource(url, "u", "bad")
      val e = intercept[IllegalArgumentException](src.validate())
      assert(e.getMessage.contains("401"))
    }
  }

  test("5xx fetches back off and the loop recovers") {
    var calls = 0
    withServer { ex =>
      calls += 1
      // call 1 = validate (must pass); calls 2-3 = failing fetches;
      // call 4+ = healthy again
      if (calls == 2 || calls == 3) { ex.sendResponseHeaders(503, -1); ex.close() }
      else ok(ex, OpenSky.sampleResponse(5))
    } { url =>
      val src = new OpenSkyHttpSource(url, "u", "p")
      val root = tempDir("graft_http2")
      var backoffs = 0
      val h = PollingIngest.run(spark, src, IngestConfig(runForSec = 0),
        new ParquetSink(root), maxTicks = 1, sleepFn = _ => backoffs += 1)
      assert(h.ticks === 1)
      assert(calls === 4) // validate + 2 failed fetches + 1 success
      assert(backoffs === 2)
      assert(h.failedTicks === 2)
    }
  }

  test("a malformed 200 body fails its tick, backs off and writes nothing") {
    var calls = 0
    val body = OpenSky.sampleResponse(5)
    withServer { ex =>
      calls += 1
      // call 1 = validate; call 2 = a body cut off mid-document, status
      // 200; call 3 = healthy
      ok(ex, if (calls == 2) body.take(body.length / 2) else body)
    } { url =>
      val root = tempDir("graft_http3")
      val cfg = IngestConfig(runForSec = 0)
      var backoffs = 0
      val h = PollingIngest.run(spark, new OpenSkyHttpSource(url, "u", "p"), cfg,
        new IdempotentParquetSink(root), maxTicks = 1, sleepFn = _ => backoffs += 1)
      assert(calls === 3)
      assert(h.ticks === 1 && h.rowsIngested === 5L)
      assert(h.failedTicks === 1 && backoffs === 1)
      cfg.targets("flights").foreach { case (db, t) =>
        val batches = new java.io.File(s"$root/$db/$t").list().filter(_.startsWith("batch="))
        assert(batches.length === 1, s"$db.$t: ${batches.toSeq}") // the healthy tick's only
      }
    }
  }

  test("TLS config renders JDBC pass-through properties") {
    val off = TlsConfig()
    assert(off.toJdbcProps === Map("useSSL" -> "false"))
    val on = TlsConfig(enabled = true, caCertPath = "/ca.pem", minVersion = "TLSv1.3")
    val p = on.toJdbcProps
    assert(p("useSSL") === "true" && p("serverSslCert") === "/ca.pem" &&
      p("tlsVersions") === "TLSv1.3")
    val parsed = IngestConfig.parse(
      "tls:\n  enabled: true\n  ca_cert: /etc/ca.pem\n  min_version: TLSv1.3\n")
    assert(parsed.tls === TlsConfig(enabled = true, caCertPath = "/etc/ca.pem",
      minVersion = "TLSv1.3"))
  }
}
