package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** `Bench.run` applies one measurement rule to every query: two timed
  * runs each, a throwing query named rather than dropped, and a compact
  * final line that parses and fits a 2000-char log tail. */
class BenchSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  private val throwing = Q("qx_throws", "a query whose frame throws",
    (_, _) => throw new IllegalStateException("planted failure"))

  private lazy val result = Bench.run(spark,
    Seq("q01_pricing_summary", "q05_rollup").map(n =>
      SparkEntry.allQueries.find(_.name == n).get) :+ throwing, sfDir)

  test("every query gets exactly two timed runs, each with wall, CPU " +
    "and steal seconds") {
    assert(result.queries.map(_.name) ===
      Seq("q01_pricing_summary", "q05_rollup", "qx_throws"))
    result.queries.foreach { t =>
      assert(t.runs.size === 2, t.name)
      t.runs.foreach { r =>
        assert(r.wallSec > 0 && r.cpuSec >= 0 && r.stealSec >= 0, s"${t.name}: $r")
      }
    }
    val full = new ObjectMapper().readTree(result.fullJson)
    Seq("q01_pricing_summary", "q05_rollup", "qx_throws").foreach { n =>
      Seq("wall", "cpu", "steal").foreach(k =>
        assert(full.get("runs").get(n).get(k).size === 2, s"$n $k"))
    }
  }

  test("a throwing query is named in failed and left out of the total") {
    assert(result.failed === Seq("qx_throws"))
    assert(result.queries.last.runs.forall(_.error.exists(_.contains("planted"))))
    assert(!result.scored.map(_._1).contains("qx_throws"))
    assert(math.abs(result.total - result.scored.map(_._2).sum) < 1e-9)
    assert(result.scored.map(_._1) === Seq("q01_pricing_summary", "q05_rollup"))
    val full = new ObjectMapper().readTree(result.fullJson)
    assert(full.get("failed").get(0).asText === "qx_throws")
    assert(full.get("queries").get("qx_throws") === null)
  }

  test("a fatal error ends the run") {
    val fatal = Q("qx_fatal", "a query that overflows the stack",
      (_, _) => throw new StackOverflowError("planted"))
    intercept[StackOverflowError](Bench.run(spark, Seq(fatal), sfDir))
  }

  test("the compact line parses as JSON, carries the read fields and " +
    "stays under 2000 chars") {
    val line = result.compactJson("/tmp/bench.json")
    assert(line.length < 2000, s"${line.length} chars")
    val j = new ObjectMapper().readTree(line)
    Seq("metric", "value", "unit", "queries", "noisy", "sf", "master",
      "default_parallelism", "n_queries", "full", "failed").foreach(k =>
      assert(j.has(k), s"missing $k in $line"))
    assert(j.get("metric").asText === "total")
    assert(j.get("unit").asText === "sec")
    assert(j.get("sf").asText === sfDir)
    assert(j.get("n_queries").asInt === 3)
    assert(j.get("failed").get(0).asText === "qx_throws")
    assert(j.get("noisy").isBoolean)
    assert(math.abs(j.get("value").asDouble - result.total) < 1e-3)
  }

  test("the steal parser reads /proc/stat's steal column, 0 where the " +
    "file is missing") {
    val dir = tempDir("graft_bench_stat")
    assert(Bench.stealSec(Paths.get(dir, "absent")) === 0.0)
    val stat = Paths.get(dir, "stat")
    Files.write(stat, java.util.Arrays.asList(
      "cpu  75031 0 9217 5765049 32784 0 682 167 0 0",
      "cpu0 18665 0 2561 1441950 7186 0 244 46 0 0"))
    assert(Bench.stealSec(stat) === 1.67)
  }
}
