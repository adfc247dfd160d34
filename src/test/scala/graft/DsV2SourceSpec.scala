package graft

import graft.sources.OpenSky
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The full-native DSv2 micro-batch source end-to-end: format() load →
  * memory sink, several ticks, the envelopes' bodies → parse pipeline. */
class DsV2SourceSpec extends AnyFunSuite {
  import TestSession._

  test("DSv2 source delivers one snapshot per tick through the parse pipeline") {
    import spark.implicits._
    val raw = spark.readStream
      .format("graft.sources.OpenSkyStreamSource")
      .option("statesPerTick", "40")
      .load()
    val q = raw.writeStream.outputMode("append")
      .format("memory").queryName("dsv2_envelopes")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      // wait until at least 3 ticks have landed
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (spark.table("dsv2_envelopes").count() < 3 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally q.stop()
    // the same parse a poll tick and StreamingIngest's micro-batch make
    val bodies = spark.table("dsv2_envelopes").select($"raw_json").as[String].collect().toSeq
    val flights = OpenSky.parseJson(spark, bodies).toDF()
    val n = flights.count()
    assert(n >= 120, s"expected >=3 ticks of 40 states, got $n rows")
    assert(n % 40 === 0, "every tick contributes exactly statesPerTick rows")
    val cols = flights.columns.toSeq
    assert(cols === ("time" +: OpenSky.stateColumns.map(_._1)))
    // distinct snapshot times == number of ticks delivered
    val ticks = flights.select($"time").distinct().count()
    assert(ticks === n / 40)
    assert(ticks === bodies.size.toLong)
  }

  test("Trigger.AvailableNow admits exactly one tick then terminates") {
    import spark.implicits._
    val raw = spark.readStream
      .format("graft.sources.OpenSkyStreamSource")
      .option("statesPerTick", "25")
      .load()
    val q = raw.writeStream.outputMode("append")
      .format("memory").queryName("dsv2_available_now")
      .trigger(Trigger.AvailableNow())
      .start()
    // AvailableNow polls latestOffset(start, limit) up front and runs to
    // that bound: the admission-control source offers start+1, so the run
    // is one tick — and the query STOPS, which a call-counting
    // latestOffset (fabricating a tick per poll) would never do.
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(spark.table("dsv2_available_now").count() === 1L) // one raw envelope row
    assert(spark.table("dsv2_available_now").select($"tick").head().getLong(0) === 1L)
  }
}
