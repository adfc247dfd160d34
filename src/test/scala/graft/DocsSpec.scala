package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's headline numbers are generate-checked, not hand-trusted:
  * round 6 shipped "303 ScalaTests" against an actual 307 and a
  * heavy-hitter narrative missing the third-heaviest query. This pins
  * every 3-digit "NNN queries" mention and the §2B range endpoint to
  * the registered corpus, and bans raw ScalaTest totals outright (a
  * test cannot verify the suite count from inside the suite, so the
  * README must not state one). */
class DocsSpec extends AnyFunSuite {
  private lazy val readme = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
    java.nio.charset.StandardCharsets.UTF_8)

  test("README corpus-size mentions equal the registered query count") {
    val n = SparkEntry.allQueries.size
    val mentions =
      raw"(\d{3}) queries".r.findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    assert(mentions.nonEmpty, "README must state the corpus size somewhere")
    assert(mentions.forall(_ == n),
      s"stale corpus count(s) in README: $mentions vs registered $n — " +
        "update them, or write historical figures hyphenated " +
        "('144-query corpus') so they don't read as current")
  }

  test("README §2B range endpoint is the highest registered query number") {
    val hi = SparkEntry.allQueries.map(_.name)
      .collect { case q if q.startsWith("q") =>
        q.drop(1).takeWhile(_.isDigit).toInt }.max
    val m = raw"`q01`[–-]`q(\d+)`".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README must carry the `q01`–`qNN` coverage range")
    assert(m.get.group(1).toInt === hi,
      s"README range ends at q${m.get.group(1)} but the corpus ends at q$hi")
  }

  test("README states no raw ScalaTest total") {
    assert(raw"\d+ ScalaTests?\b".r.findFirstIn(readme).isEmpty,
      "hand-written test totals go stale (round 6: 303 vs 307) — " +
        "describe the suite without a number")
  }

  test("README oracle/rows-only split matches the registry") {
    // round 7 shipped '163 oracle-checked' against an actual 177 — the
    // split drifts exactly like the corpus total did, so pin both parts
    val nOracle = SparkEntry.oracleSql.size
    val nRowsOnly = SparkEntry.allQueries.size - nOracle
    val m = raw"(\d+) oracle-checked".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README must state the oracle-checked count")
    assert(m.get.group(1).toInt === nOracle,
      s"README says ${m.get.group(1)} oracle-checked, registry has $nOracle")
    val r = raw"\+ (\d+) rows-only".r.findFirstMatchIn(readme)
    assert(r.isDefined, "README must state the rows-only count")
    assert(r.get.group(1).toInt === nRowsOnly,
      s"README says ${r.get.group(1)} rows-only, registry has $nRowsOnly")
  }

  test("README rows-only rationale table lists EXACTLY the registry's " +
    "rows-only queries") {
    // round 9 shipped this table one row short (q264 missing) under a
    // stale '20' header: a rows-only query must not join the corpus
    // without stating WHY no oracle exists and WHAT spec checks it
    val section = readme.split(
      "### Why the rows-only queries have no SQL oracle")(1).split("\n## ")(0)
    val listed = raw"(?m)^\| (q\w+) \|".r.findAllMatchIn(section)
      .map(_.group(1)).toSet
    val rowsOnly = SparkEntry.allQueries
      .filter(_.oracle.isEmpty).map(_.name).toSet
    val missing = rowsOnly -- listed
    val phantom = listed -- rowsOnly
    assert(missing.isEmpty,
      s"rows-only queries missing a rationale row: " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    assert(phantom.isEmpty,
      s"rationale rows for queries that are not rows-only (promoted or " +
        s"renamed?): ${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("README scale ledger covers the registry EXHAUSTIVELY — every " +
    "query number appears, no phantom numbers") {
    // the consolidated 100 TB story: an operator cannot join the corpus
    // without declaring its partitioning/skew/state row here
    val section = readme.split("## Scale ledger")(1).split("\n## ")(0)
    val mentioned = raw"q(\d{2,3})".r.findAllMatchIn(section)
      .map(_.group(1).toInt).toSet
    val registered = SparkEntry.allQueries.map(_.name)
      .map(_.drop(1).takeWhile(_.isDigit).toInt).toSet
    val missing = registered -- mentioned
    val phantom = mentioned -- registered
    assert(missing.isEmpty,
      s"registered queries missing a scale-ledger row: " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    assert(phantom.isEmpty,
      s"scale ledger names unregistered queries: " +
        s"${phantom.toSeq.sorted.mkString(", ")}")
  }

  test("README names only live tools and env knobs") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mainSrc =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)).mkString("\n")
      finally files.close()
    val envReads = raw"""sys\.env(?:\.\w+)?\(\s*"(SPARK_GRAFT_[A-Z_]+)"""".r
      .findAllMatchIn(mainSrc).map(_.group(1)).toSet
    val knobs = raw"SPARK_GRAFT_[A-Z_]+".r.findAllIn(readme).toSet
    assert((knobs -- envReads).isEmpty,
      s"README names env knobs no sys.env read in src/main/scala takes: " +
        s"${(knobs -- envReads).toSeq.sorted.mkString(", ")}")
    val marker = raw"\bGRAFT_BENCH_[A-Z_]+".r
    val deadMarkers =
      marker.findAllIn(readme).toSet -- marker.findAllIn(mainSrc).toSet
    assert(deadMarkers.isEmpty,
      s"README names bench output markers no code in src/main/scala prints: " +
        s"${deadMarkers.toSeq.sorted.mkString(", ")}")
    val tools = raw"graft\.tools\.([A-Z]\w*)".r.findAllMatchIn(readme)
      .map(_.group(1)).toSet
    val dead = tools.filter(t =>
      scala.util.Try(Class.forName(s"graft.tools.$t$$", false,
        getClass.getClassLoader)).isFailure)
    assert(dead.isEmpty,
      s"README names tools that do not load: ${dead.toSeq.sorted.mkString(", ")}")
    // the ingest API README cites: `Object.member` of the ingest objects
    // and every `*Config` type must still exist
    def load(name: String) =
      scala.util.Try(Class.forName(name, false, getClass.getClassLoader)).toOption
    val ingest = Map("OpenSky" -> "graft.sources", "StatesDecoder" -> "graft.sources",
      "Fanout" -> "graft.sink", "PollingIngest" -> "graft.streaming",
      "StreamingIngest" -> "graft.streaming", "IngestConfig" -> "graft.config")
    val members = raw"`(${ingest.keys.mkString("|")})\.(\w+)".r.findAllMatchIn(readme)
      .map(m => s"${m.group(1)}.${m.group(2)}").toSet
    val deadMembers = members.filter { m =>
      val (obj, member) = m.span(_ != '.')
      val cls = s"${ingest(obj)}.$obj"
      !Seq(cls + "$", cls).flatMap(load).exists(_.getMethods.exists(_.getName == member.tail))
    }
    val configs = raw"`([A-Z]\w*Config)\b".r.findAllMatchIn(readme).map(_.group(1)).toSet
    val deadConfigs = configs.filter(c => load(s"graft.config.$c").isEmpty)
    assert(deadMembers.isEmpty && deadConfigs.isEmpty,
      s"README names ingest API that does not exist: " +
        (deadMembers ++ deadConfigs).toSeq.sorted.mkString(", "))
  }

  test("SURVEY §8 status line matches the registry") {
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = raw"\((\d+) queries as of round \d+: (\d+) DuckDB-oracle-checked"
      .r.findFirstMatchIn(survey)
    assert(m.isDefined, "SURVEY §8 must carry the status line")
    assert(m.get.group(1).toInt === SparkEntry.allQueries.size,
      s"SURVEY says ${m.get.group(1)} queries, registry has " +
        s"${SparkEntry.allQueries.size}")
    assert(m.get.group(2).toInt === SparkEntry.oracleSql.size,
      s"SURVEY says ${m.get.group(2)} oracle-checked, registry has " +
        s"${SparkEntry.oracleSql.size}")
  }
}
