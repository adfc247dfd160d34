package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-encoding contract: makes fixture drift LOUD, permanently.
  *
  * Round 7 post-mortem: the driver regenerated `events.parquet` with
  * `TIMESTAMP(isAdjustedToUTC=0, unit=MICROS)` where the old fixtures
  * carried `TIMESTAMP(NANOS)`, and the loaders' hard-coded nanos
  * normalization broke 36 batch queries loudly and corrupted 3 streaming
  * queries SILENTLY (µs int64s divided by 1000 → 30 days of events
  * compressed into 43 minutes; window counts 10 vs 3385). This spec is the
  * tripwire: if either loader's output ever shifts type or time-scale
  * again, these assertions fail with one readable line instead of a
  * corpus-wide cascade of DATATYPE_MISMATCH / wrong-window counts.
  *
  * Two halves:
  *   1. Contract against the CURRENT fixtures — every sf dir present:
  *      batch `ts` is TIMESTAMP_NTZ and min/max land in the fixture's
  *      2024 generation year (a 1000× shrink or inflate moves the year by
  *      orders of magnitude, so the year bound catches any scale slip);
  *      the streaming loader agrees with batch on type and on the exact
  *      min/max instants (one-row drain through a real stream).
  *   2. Round-trip BOTH encodings through parquet and through
  *      `Tables.normalizeEventsTs` — the current TIMESTAMP_NTZ(µs) form
  *      and the legacy nanos-as-long form — proving the adaptive branch
  *      yields bit-identical frames on either, forever. An encoding the
  *      loader does not recognize must throw, not reinterpret.
  */
class FixtureContractSpec extends AnyFunSuite with TempDirs {
  import TestSession._
  import spark.implicits._

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"/root/testdata/$s")
    .filter(d => new java.io.File(s"$d/events.parquet").exists)

  test("batch events.ts is TIMESTAMP_NTZ with 2024-epoch bounds in every sf dir") {
    assert(sfDirs.nonEmpty, "no fixture dirs found under /root/testdata")
    sfDirs.foreach { dir =>
      val ev = Tables.t(spark, dir, "events")
      val dt = ev.schema("ts").dataType
      assert(dt == org.apache.spark.sql.types.TimestampNTZType,
        s"$dir: batch events.ts loaded as $dt, expected TIMESTAMP_NTZ — " +
          "encoding drift reached the loader output")
      val r = ev.agg(
        year(min($"ts")).as("y_min"), year(max($"ts")).as("y_max"),
        min($"user_id").as("uid_min")).head()
      assert(r.getInt(0) == 2024 && r.getInt(1) == 2024,
        s"$dir: events.ts spans years ${r.getInt(0)}..${r.getInt(1)}, " +
          "expected 2024/2024 — a time-scale slip (the silent µs-as-ns " +
          "class) or regenerated fixture epoch")
      // q208/q212/q215 split arms with user_id % 2, which only matches
      // DuckDB's % when user_id is non-negative (both truncate toward
      // zero, but a negative id lands arm -1 and silently vanishes from
      // BOTH arms' `when` buckets); pin the sign here so an id-scheme
      // regen fails in one line, not as a subtly mis-powered A/B read
      assert(r.getLong(2) >= 0,
        s"$dir: min(user_id) = ${r.getLong(2)} < 0 — the %-2 arm " +
          "assignment in q208/q212/q215 assumes non-negative ids")
    }
  }

  test("streaming loader agrees with batch on type and exact min/max instants") {
    // one sf dir suffices: eventsStream shares normalizeEventsTs with the
    // batch loader, so this pins the shared convention plus the
    // footer-derived stream schema end-to-end through a real stream run
    val dir = sfDir
    val streamed = graft.streaming.StreamingOps.eventsStream(spark, dir)
    assert(streamed.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      "eventsStream must expose LTZ TimestampType (watermark contract)")
    val agg = streamed.agg(min($"ts").as("lo"), max($"ts").as("hi"))
    val out = graft.streaming.StreamingOps.runToMemory(
      spark, agg, "fixture_contract_stream", "complete")
    val s = out.head()
    val b = Tables.t(spark, dir, "events")
      .agg(min($"ts").cast("timestamp").as("lo"),
        max($"ts").cast("timestamp").as("hi")).head()
    assert(s.getTimestamp(0) == b.getTimestamp(0) &&
      s.getTimestamp(1) == b.getTimestamp(1),
      s"stream min/max (${s.getTimestamp(0)}, ${s.getTimestamp(1)}) != " +
        s"batch (${b.getTimestamp(0)}, ${b.getTimestamp(1)}) — the two " +
        "loaders diverged on the ts convention")
  }

  test("normalizeEventsTs round-trips BOTH encodings to identical frames") {
    val tmp = tempDir("graft_enc")
    // 10 events across 2024, values chosen so a 1000× scale slip in either
    // direction exits the year and fails the assertions below
    val baseMicros = 1704067200000000L // 2024-01-01T00:00:00 UTC in µs
    val rows = (0 until 10).map { i =>
      (i.toLong, baseMicros + i * 86400000000L, i.toLong % 3,
        Seq("click", "view", "purchase")(i % 3), i * 1.5, "{}")
    }
    // encoding A — current fixtures: TIMESTAMP_NTZ(µs) column
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"ts_us").cast("timestamp_ntz"))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$tmp/ntz/events.parquet")
    // encoding B — legacy layout: raw nanos int64 (exactly what the old
    // TIMESTAMP(NANOS) fixtures look like under nanosAsLong)
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", $"ts_us" * 1000L)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$tmp/ns/events.parquet")
    val ntz = Tables.t(spark, s"$tmp/ntz", "events")
    val ns = Tables.t(spark, s"$tmp/ns", "events")
    assert(ntz.schema == ns.schema,
      s"adaptive branches disagree on schema: ${ntz.schema} vs ${ns.schema}")
    val a = ntz.orderBy("event_id").collect().toSeq
    val b = ns.orderBy("event_id").collect().toSeq
    assert(a == b, "adaptive branches disagree on values")
    assert(a.size == 10)
    // an encoding the loader does not know must fail loudly, never guess
    val bogus = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", $"ts".cast("string"))
    val ex = intercept[IllegalStateException] {
      Tables.normalizeEventsTs(bogus)
    }
    assert(ex.getMessage.contains("unsupported type"))
  }

  test("documents/embeddings contract: the shapes hard-coded across the " +
    "corpus hold in every sf dir") {
    // The events drift burned round 7; these are the OTHER regen-able
    // assumptions the corpus bakes in. Each line that fails here would
    // otherwise fail as dozens of opaque query errors (or, worse, as
    // silently-wrong PQ/centroid math on a dim change):
    sfDirs.foreach { dir =>
      val docs = Tables.t(spark, dir, "documents")
      assert(docs.schema("doc_id").dataType ==
        org.apache.spark.sql.types.LongType, s"$dir: doc_id type")
      val d = docs.agg(
        count(lit(1)).as("n"),
        countDistinct($"doc_id").as("nd"),
        sum($"text".isNull.cast("long")).as("null_text"),
        max(length($"text") =!= octet_length($"text") ||
          $"n_chars" =!= length($"text")).as("badlen")).head()
      assert(d.getLong(0) == d.getLong(1), s"$dir: doc_id must be unique")
      assert(d.getLong(2) == 0, s"$dir: null text")
      // n_chars == length(text) and pure-ASCII are load-bearing: q84's
      // byte-framing, q178's chunking, and every token-count oracle
      // assume char==byte; a multibyte regen must fail HERE, not there
      assert(!d.getBoolean(3),
        s"$dir: text must stay pure-ASCII with n_chars == length(text)")
      val emb = Tables.t(spark, dir, "embeddings")
      val e = emb.agg(
        min(size($"embedding")).as("dmin"),
        max(size($"embedding")).as("dmax"),
        countDistinct($"vec_id").as("nv"),
        count(lit(1)).as("n")).head()
      // q184/q195/q222/q227 hard-code 64 dims (PQ subspaces, centroid
      // tables, the drift oracle's range(64)); a dim regen must be loud
      assert(e.getInt(0) == 64 && e.getInt(1) == 64,
        s"$dir: embedding dim must be exactly 64, got " +
          s"[${e.getInt(0)}, ${e.getInt(1)}]")
      assert(e.getLong(2) == e.getLong(3), s"$dir: vec_id must be unique")
    }
  }
}
