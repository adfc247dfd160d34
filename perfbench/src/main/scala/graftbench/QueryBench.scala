package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

object QueryBench {
  /** Read side (rollup, window percentiles, text rules) next to the write
    * side of storage (bloom manifests over TinyParquet and Fs) and one
    * streaming drain, at a size whose cold pass, set-up and timed passes
    * fit one run. */
  val Queries = Seq(
    "q05_rollup", "q196_gap_percentiles", "q354_gopher_quality_rules",
    "q434_bloom_skipping_read", "q402_stream_kmv_distinct")

  /** Set-up rounds; set-up time is their median. */
  val Rounds = 3
  /** Whole timed passes a run makes even past its deadline. Every pass
    * runs each query exactly once, so a pass is the same work in every
    * run and on every host, and a run ends only between passes. */
  val MinPasses = 4

  /** Query every set-up round runs once, so set-up includes a first
    * query (planning, codegen, fixture footers) and not only a session. */
  val WarmUp = "q05_rollup"
}

/** Runs a fixed query list one query at a time, passes back to back, the
  * order within each pass shuffled by the seed. Extra arguments: the
  * fixture directory, the directory the verification pass writes results
  * to, and `name=rows` expectations for every timed execution. */
final class QueryBench extends Bench {
  import Main._
  import QueryBench._

  override def run(a: Args, rec: mutable.Map[String, Any]): SparkSession = {
    val Seq(sfDir, resultDir, expect @ _*) = a.extra
    val expectedRows = expect.map { kv =>
      val i = kv.lastIndexOf('='); kv.take(i) -> kv.drop(i + 1).toLong
    }.toMap
    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    val queries = Queries.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"query $n is not registered")))
    val warm = byName(WarmUp)
    rec("sf_dir") = sfDir
    rec("queries") = Queries
    rec("oracle_sql") = graft.SparkEntry.oracleSql.filter { case (n, _) => Queries.contains(n) }

    // Set-up rounds: session, fixture table discovery, one warm-up query.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    try {
      for (r <- 1 to Rounds) {
        val s = Clock.now()
        spark = session(a.cores, a.work)
        graft.Tables.all.foreach(t => graft.Tables.t(spark, sfDir, t))
        warm.run(spark, sfDir).count()
        setups += Clock.now() - s
        if (r < Rounds) { spark.stop(); spark = null }
      }
      rec("setup_rounds_ms") = setups.toSeq
      describe(spark, rec)

      // Untimed verification pass: every result goes to parquet, where
      // run.py hashes it against the golden hashes.
      val v0 = Clock.now()
      queries.foreach { q =>
        q.run(spark, sfDir).write.mode("overwrite").parquet(s"$resultDir/${q.name}")
      }
      rec("verify_pass_ms") = Clock.now() - v0

      val listeners = if (a.trace) Some(new Listeners(spark)) else None
      rec("first_timed_ms") = Clock.now()
      val deadline = Clock.now() + a.seconds * 1000.0
      val runs = ArrayBuffer.empty[Map[String, Any]]
      var pass = 0
      var last = queries.last        // the verification pass ends with it
      while (pass < MinPasses || Clock.now() < deadline) {
        pass += 1
        val shuffled = new Random(a.seed * 7919L + pass).shuffle(queries)
        // A query run straight after itself is ~30% faster (warm caches);
        // never start a pass with the query the one before ended with.
        val order =
          if (shuffled.head == last) shuffled(1) +: shuffled.head +: shuffled.drop(2)
          else shuffled
        last = order.last
        order.foreach { q =>
          val t0 = Clock.now()
          var t1 = Double.NaN
          var rows = -1L
          var error: String = null
          try {
            val df = q.run(spark, sfDir)
            t1 = Clock.now()
            rows = df.count()
          } catch { case e: Exception => error = e.toString }
          val t2 = Clock.now()
          runs += Map("query" -> q.name, "pass" -> pass, "start" -> t0,
            "built" -> t1, "end" -> t2, "rows" -> rows,
            "ok" -> (error == null && expectedRows.get(q.name).contains(rows)),
            "error" -> error)
        }
      }
      rec("timed_end_ms") = Clock.now()
      rec("runs") = runs.toSeq
      listeners.foreach(l => rec ++= listenerRecords(l))
      spark
    } catch {
      case e: Throwable =>
        if (spark != null) spark.stop()
        throw e
    }
  }
}
