package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Paths

/** Corpus queries that write scratch data keep it under this JVM's
  * pid-scoped `TempRoots` roots, which the JVM deletes at exit, so no run
  * leaves a root behind in /tmp. */
class TempRootsSpec extends AnyFunSuite {
  import TestSession._

  test("q81 and the format round-trips read only from this JVM's " +
    "TempRoots roots") {
    val pid = ProcessHandle.current().pid()
    Seq("q81_ingest_fanout", "q85_csv_roundtrip", "q86_json_roundtrip",
      "q98_orc_roundtrip", "q111_xml_roundtrip").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      assert(df.count() > 0, n)
      val files = df.inputFiles.map(f => Paths.get(new java.net.URI(f)))
      assert(files.nonEmpty, n)
      files.foreach { p =>
        assert(p.startsWith("/tmp") && p.getNameCount > 2 &&
          p.getName(1).toString.endsWith(s"_$pid"),
          s"$n reads $p, outside this JVM's TempRoots roots")
      }
    }
  }
}
