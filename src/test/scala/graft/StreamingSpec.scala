package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-batch streaming semantics that single-batch fixture streams can't
  * show: watermark-based late-data dropping and incremental window updates.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermark drops late rows beyond the threshold across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      // batch 1: events up to 10:30 → watermark advances to 10:20
      input.addData((ts("2024-01-01 10:00:10"), 1L), (ts("2024-01-01 10:30:00"), 2L))
      q.processAllAvailable()
      // batch 2: a row at 10:02 is >10min behind the 10:20 watermark → dropped;
      // a row at 10:29 is within it → counted
      input.addData((ts("2024-01-01 10:02:00"), 3L), (ts("2024-01-01 10:29:00"), 4L))
      q.processAllAvailable()
      // batch 3: push watermark far ahead so all windows close and emit
      input.addData((ts("2024-01-01 12:00:00"), 5L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    // 10:00 window: only the on-time 10:00:10 row (late 10:02 dropped)
    assert(out("2024-01-01 10:00:00.0") === 1L)
    // 10:25 window: 10:29 row arrived within watermark
    assert(out("2024-01-01 10:25:00.0") === 1L)
    assert(out("2024-01-01 10:30:00.0") === 1L)
  }

  test("dropDuplicatesWithinWatermark bounds state: evicts keys once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val deduped = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("ddww_test").start()
    try {
      // batch 1: first occurrence emitted, in-batch duplicate suppressed
      input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 1L))
      q.processAllAvailable()
      // batch 2: duplicate while state is alive (expires 10:10 > watermark
      // 09:50) → suppressed
      input.addData((ts("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable()
      // batch 3: watermark jumps to 11:50 → k=1 state (expiry 10:10) evicted
      input.addData((ts("2024-01-01 12:00:00"), 99L))
      q.processAllAvailable()
      // batch 4: k=1 reappears AFTER eviction → re-emitted. This is the
      // state bound: unlike dropDuplicates (q73), which keys state forever
      // and would suppress this row, memory is O(keys per watermark window).
      input.addData((ts("2024-01-01 12:00:00"), 1L))
      q.processAllAvailable()
    } finally q.stop()
    val k1Emissions = spark.table("ddww_test").filter($"k" === 1L).count()
    assert(k1Emissions === 2L,
      "k=1 must emit exactly twice: once deduped while stateful, once after eviction")
    assert(spark.table("ddww_test").count() === 3L) // + the k=99 row
  }

  test("transformWithState accumulates ValueState across micro-batches") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double, Long)]
    val tws = input.toDS()
      .groupByKey(_._1)
      .transformWithState(
        new graft.streaming.StreamingOps.RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n", "total", "mx", "last_us")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = tws.writeStream.outputMode("update")
        .format("memory").queryName("tws_test").start()
      try {
        input.addData((1L, 2.0, 100L), (1L, 3.0, 200L), (2L, 10.0, 50L))
        q.processAllAvailable()
        input.addData((1L, 5.0, 150L)) // state must carry: n 2→3, total 5→10
        q.processAllAvailable()
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val rows = spark.table("tws_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(rows.contains((1L, 2L, 5.0, 3.0, 200L)), rows)  // after batch 1
    // state carried into batch 2; max ts stays 200 (the 150 arrival is older)
    assert(rows.contains((1L, 3L, 10.0, 5.0, 200L)), rows)
    assert(rows.contains((2L, 1L, 10.0, 10.0, 50L)), rows)
  }

  test("streaming session window merges within gap across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "u")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "10 minutes"), $"u")
      .agg(count(lit(1)).as("n"))
      .select($"u", $"session_window.start".as("s"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    try {
      input.addData((ts("2024-01-01 09:00:00"), "a"), (ts("2024-01-01 09:05:00"), "a"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 09:08:00"), "a")) // merges into same session
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:00:00"), "a")) // far future: closes session
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), "a")) // close the 11:00 session too
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_test").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
    assert(rows.contains(("a", "2024-01-01 09:00:00.0", 3L)))
  }

  test("runToMemory sizes state stores: shufflePartitions override reaches the query") {
    // The nine streaming corpus lifecycles cost ~1 s instead of ~1.5 s
    // BECAUSE runToMemory pins the stateful ops to 8 stores instead of
    // the session's 32 (one store per shuffle partition; measured r1).
    // Nothing else asserts the override actually lands in the started
    // query — a refactor dropping it would silently cost ~0.5 s/query
    // locally and mis-size state stores on a cluster. The committed
    // partition count is read back from StateOperatorProgress.
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops.nonEmpty && e.progress.name == "sizing_gate")
          seen.set(ops.head.numShufflePartitions)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.streams.addListener(listener)
    try {
      val input = MemoryStream[(Timestamp, Long)]
      input.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:01:00"), 2L))
      val agg = input.toDF().toDF("ts", "v")
        .groupBy(window($"ts", "5 minutes")).agg(count(lit(1)).as("n"))
      val out = StreamingOps.runToMemory(spark, agg, "sizing_gate", "complete",
        shufflePartitions = Some(8))
      assert(out.collect().map(_.getLong(1)).sum === 2L)
      // progress events are posted async; poll briefly for the report
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.get() < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.get() === 8L,
        s"stateful op must run with the 8-partition override (got ${seen.get()})")
      // and the temporary override must not leak into the shared session
      assert(spark.conf.get("spark.sql.shuffle.partitions") === prevShuffle)
    } finally spark.streams.removeListener(listener)
  }

  test("q128 loop: a later batch dedups against an earlier batch via the appended index") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def text(from: Int) = (from until from + 50).map(i => s"w$i").mkString(" ")
    val dir = tempDir("graft_sdedup")
    val idxRoot = s"$dir/idx"
    val outRoot = s"$dir/pairs"
    // history: doc 1; batch A: doc 10 (~ doc 1); batch B: doc 20 (~ doc 10
    // but NOT ~ doc 1 — catching (10, 20) REQUIRES the index subdir added
    // after batch A), doc 30 unrelated
    Seq((1L, text(100), "s")).toDF("doc_id", "text", "source")
      .createOrReplaceTempView("hist")
    Dedup.initSignatureIndex(spark.table("hist"), idxRoot)
    def runBody(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        batchId: Long): Unit = {
      Dedup.incrementalNeardupPairs(spark, idxRoot, batch, 0.8)
        .write.mode("overwrite").parquet(s"$outRoot/b$batchId")
      Dedup.addSignatureIndexBatch(batch, idxRoot, s"b$batchId")
    }
    val input = MemoryStream[(Long, String)]
    val staged = input.toDF().toDF("doc_id", "text").withColumn("source", lit("s"))
    val q = staged.writeStream.foreachBatch(runBody _).start()
    try {
      input.addData((10L, text(103)))
      q.processAllAvailable()
      input.addData((20L, text(106)), (30L, (900 to 949).map(i => s"z$i").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    def readPairs() = spark.read.parquet(s"$outRoot/*")
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,10) from batch A vs history; (10,20) from batch B vs batch A's
    // index subdirectory. (1,20) must NOT appear (jaccard below 0.8) and
    // doc 30 pairs with nothing.
    assert(readPairs() === Set((1L, 10L), (10L, 20L)), s"got ${readPairs()}")
    // at-least-once REPLAY of batch B (same batchId, its own index subdir
    // already present): the overwrite-keyed sinks must absorb it — same
    // pair set, no duplicates
    runBody(Seq(
      (20L, text(106), "s"),
      (30L, (900 to 949).map(i => s"z$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source"), 1L)
    assert(readPairs() === Set((1L, 10L), (10L, 20L)),
      s"replayed batch must be idempotent, got ${readPairs()}")
  }

  test("q182 timer sessions emit incrementally and never re-emit (state evicts)") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sess = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "30 minutes")
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new graft.streaming.StreamingOps.TimerSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "sess_start", "sess_end", "n_events", "sum_value")
    // timers/ListState need multi-column-family support: RocksDB only
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q =
      try sess.writeStream.outputMode("append")
        .format("memory").queryName("timer_sess_test").start()
      finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    def rows() = spark.table("timer_sess_test").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSeq
    try {
      // batch 1: user 1 has two sessions (10:00-10:05, 11:00) plus user 2
      // at 11:00; watermark after the batch = 11:00 - 30min = 10:30, so
      // ONLY user 1's first session (close 10:35 > 10:30) is NOT yet
      // provable — nothing emits
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:05:00"), 2.0),
        (1L, ts("2024-01-01 11:00:00"), 4.0),
        (2L, ts("2024-01-01 11:00:00"), 8.0))
      q.processAllAvailable()
      assert(rows().isEmpty, s"nothing is watermark-proven yet: ${rows()}")
      // batch 2: a 12:00 event pushes the watermark to 11:30 — user 1's
      // first session (close 10:35) fires; the 11:00 sessions (close
      // 11:30) are NOT strictly provable at wm=11:30... they are:
      // close <= wm, so they emit too. user 2's 12:00 event opens a new
      // still-buffered session
      input.addData((2L, ts("2024-01-01 12:00:00"), 16.0))
      q.processAllAvailable()
      val afterB2 = rows()
      assert(afterB2.toSet === Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 2L),
        (1L, "2024-01-01 11:00:00.0", "2024-01-01 11:00:00.0", 1L),
        (2L, "2024-01-01 11:00:00.0", "2024-01-01 11:00:00.0", 1L)),
        s"closed sessions must emit exactly once: $afterB2")
      // batch 3: advance far — only user 2's 12:00 session is left in
      // state; the already-emitted ones must NOT re-emit (they left the
      // store on emission)
      input.addData((3L, ts("2024-01-01 15:00:00"), 32.0))
      q.processAllAvailable()
      val afterB3 = rows()
      assert(afterB3.size === afterB2.size + 1, s"got $afterB3")
      assert(afterB3.toSet.contains(
        (2L, "2024-01-01 12:00:00.0", "2024-01-01 12:00:00.0", 1L)),
        s"user 2's second session must fire once provable: $afterB3")
    } finally q.stop()
  }

  test("q207 chains TWO stateful operators: dedup state feeding agg state") {
    // the query's whole point vs q73 (dedup, count on the drained sink):
    // the distinct count is itself streaming state. A refactor that moves
    // the count batch-side would report one state operator, not two.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "graft_mem_distinct_daily" &&
          e.progress.stateOperators.nonEmpty)
          seen.set(e.progress.stateOperators.length.toLong)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = SparkEntry.queries("q207_stream_distinct_daily")(spark, sfDir)
      assert(out.count() > 0)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.get() < 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.get() === 2L,
        s"expected dedup + aggregate state operators (got ${seen.get()})")
    } finally spark.streams.removeListener(listener)
  }

  test("explicit checkpointLocation overrides the RAM-backed session " +
    "default (the production durability path — the default is for " +
    "drained harness loops only)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the session default IS set (RAM-backed root) …
    val dflt = spark.conf.getOption("spark.sql.streaming.checkpointLocation")
    assert(dflt.exists(_.startsWith("/dev/shm")),
      s"expected a RAM-backed default checkpoint root, got $dflt")
    // … and an explicit per-query location wins over it untouched
    val root = graft.TempRoots.freshForDir("graft_ckpt_override", "synth")
    val src = root.resolve("src"); val ckpt = root.resolve("ckpt")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    val sch = spark.read.parquet(src.toString).schema
    val q = spark.readStream.schema(sch).parquet(src.toString)
      .groupBy($"v").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .option("checkpointLocation", ckpt.toString)
      .queryName("graft_ckpt_override_t").start()
    try q.processAllAvailable() finally q.stop()
    assert(java.nio.file.Files.exists(ckpt.resolve("offsets")) &&
      java.nio.file.Files.list(ckpt.resolve("offsets")).count() > 0,
      "the offset WAL must land under the EXPLICIT location")
    assert(spark.table("graft_ckpt_override_t").count() == 2)
  }

  test("stateful session-window query resumes EXACTLY-ONCE from its " +
    "checkpoint across a stop/restart") {
    // The fault-tolerance story a long-running deployment leans on:
    // kill the query mid-stream, restart against the SAME checkpoint,
    // and the state store must (a) not re-emit sessions already
    // delivered and (b) deliver everything else — the sink after the
    // restart holds exactly the batch answer with no duplicates. The
    // sink is the fault-tolerant FILE sink (memory sink refuses
    // recovery by design); its _spark_metadata commit log is the
    // exactly-once mechanism under test.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.TempRoots.freshForDir("graft_restart", "synth")
    val src = root.resolve("src"); val ckpt = root.resolve("ckpt")
    val sink = root.resolve("sink")
    java.nio.file.Files.createDirectories(src)
    def writeHours(part: String, hours: Seq[Int]): Unit =
      hours.flatMap(h => Seq(h * 60, h * 60 + 10)) // 2 events, 10 min apart
        .map(m => (7L, java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0).plusMinutes(m))))
        .toDF("user_id", "ts")
        .coalesce(1).write.mode("append").parquet(src.toString)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def runOnce(): Array[(java.sql.Timestamp, Long)] = {
      val q = spark.readStream.schema(sch).parquet(src.toString)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .select($"session_window.start".as("s"), $"n")
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(sink.toString).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
    }
    // sessions at hours 0/2/4/6; watermark after part 1 = 6:10-0:30 →
    // sessions 0/2/4 proven closed and emitted, 6 still open in state
    writeHours("p1", Seq(0, 2, 4, 6))
    val t1 = runOnce()
    assert(t1.length == 3, s"pre-stop emissions: ${t1.mkString(", ")}")
    // restart from the checkpoint; new sessions 8/10/12 plus a
    // watermark flusher at hour 48 that closes everything before it
    writeHours("p2", Seq(8, 10, 12, 48))
    val all = runOnce()
    val expected = Seq(0, 2, 4, 6, 8, 10, 12).map { h =>
      (java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 3, 1, h, 0, 0)), 2L)
    }.toSet
    assert(all.length == all.toSet.size,
      s"restart duplicated emissions: ${all.sortBy(_._1.getTime)
        .mkString(", ")}")
    assert(all.toSet == expected,
      s"sink after restart must equal the batch answer exactly once: " +
        s"got ${all.sortBy(_._1.getTime).mkString(", ")}")
  }

  test("CHAINED dedup->windowed-agg (the q207 shape) resumes exactly-once " +
    "from its checkpoint: BOTH state stores recover consistently") {
    // Extends the session-window recovery test to two chained stores:
    // a restart must recover (a) the dedup store — a duplicate of a
    // PRE-restart event arriving after the restart is still dropped —
    // and (b) the aggregate store — closed windows emit exactly once
    // with the counts the dedup front-end admitted.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.TempRoots.freshForDir("graft_restart_chain", "synth")
    val src = root.resolve("src"); val ckpt = root.resolve("ckpt")
    val sink = root.resolve("sink")
    java.nio.file.Files.createDirectories(src)
    def day1(hhmm: String): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(s"2024-03-01 $hhmm:00")
    def write(rows: Seq[(Long, java.sql.Timestamp)]): Unit =
      rows.toDF("user_id", "ts")
        .coalesce(1).write.mode("append").parquet(src.toString)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def runOnce(): Array[(java.sql.Timestamp, Long)] = {
      val q = spark.readStream.schema(sch).parquet(src.toString)
        .withWatermark("ts", "2 hours")
        .dropDuplicates("user_id", "ts") // store 1: dedup
        .groupBy(window($"ts", "1 day")) // store 2: windowed count
        .agg(count(lit(1)).as("n"))
        .select($"window.start".as("d"), $"n")
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(sink.toString).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
    }
    // part 1: an in-batch duplicate (10:00 twice) plus 20:00; watermark
    // after part 1 = 18:00, day-1 window still open -> nothing emitted
    write(Seq((1L, day1("10:00")), (1L, day1("10:00")), (1L, day1("20:00"))))
    assert(runOnce().isEmpty, "day-1 window must still be open")
    // part 2 AFTER restart: a cross-restart duplicate of 20:00 (>= the
    // 18:00 watermark, so only the RECOVERED dedup store can drop it),
    // one genuinely new day-1 event, one day-2 event, and a day-3
    // flusher that closes day 1 and day 2
    write(Seq((1L, day1("20:00")), (1L, day1("23:00")),
      (1L, java.sql.Timestamp.valueOf("2024-03-02 12:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-03-03 12:00:00"))))
    val all = runOnce()
    val expected = Set(
      (java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 3L), // 10,20,23
      (java.sql.Timestamp.valueOf("2024-03-02 00:00:00"), 1L))
    assert(all.length == all.toSet.size,
      s"restart duplicated emissions: ${all.mkString(", ")}")
    assert(all.toSet == expected,
      s"counts after restart must show the duplicate dropped by the " +
        s"recovered dedup store (4 would mean it leaked): " +
        s"${all.mkString(", ")}")
  }

  test("CHAINED stream-stream-join->windowed-agg (the q160 shape) resumes " +
    "exactly-once: the join's buffered side survives the restart") {
    // The two-store recovery case the q160 chain depends on: a click
    // buffered in the join state BEFORE the stop must still pair with
    // its purchase arriving AFTER the restart, and the downstream
    // windowed aggregate must emit each closed window exactly once.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = graft.TempRoots.freshForDir("graft_restart_join", "synth")
    val clickSrc = root.resolve("clicks"); val purchSrc = root.resolve("purchases")
    val ckpt = root.resolve("ckpt"); val sink = root.resolve("sink")
    java.nio.file.Files.createDirectories(clickSrc)
    java.nio.file.Files.createDirectories(purchSrc)
    def ts(v: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(v)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def write(dir: java.nio.file.Path,
        rows: Seq[(Long, java.sql.Timestamp)]): Unit =
      rows.toDF("user_id", "ts")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    def runOnce(): Array[(java.sql.Timestamp, Long)] = {
      val clicks = spark.readStream.schema(sch).parquet(clickSrc.toString)
        .select($"user_id", $"ts".as("cts")).withWatermark("cts", "2 hours")
      val purchases = spark.readStream.schema(sch).parquet(purchSrc.toString)
        .select($"user_id".as("p_user"), $"ts".as("pts"))
        .withWatermark("pts", "2 hours")
      val q = clicks.join(purchases,
          $"user_id" === $"p_user" &&
            $"pts" >= $"cts" && $"pts" <= $"cts" + expr("interval 1 hour"))
        .groupBy(window($"pts", "1 day"))
        .agg(count(lit(1)).as("n_pairs"))
        .select($"window.start".as("d"), $"n_pairs")
        .writeStream.format("parquet").outputMode("append")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(sink.toString).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)))
    }
    // part 1: one matched pair (u1) and one so-far-unmatched click (u2)
    // that must be BUFFERED in the join state across the restart
    write(clickSrc, Seq((1L, ts("2024-03-01 10:00:00")),
      (2L, ts("2024-03-01 12:00:00"))))
    write(purchSrc, Seq((1L, ts("2024-03-01 10:30:00"))))
    assert(runOnce().isEmpty, "day-1 window must still be open")
    // part 2 AFTER restart: u2's purchase pairs with the pre-restart
    // buffered click; flushers (non-matching: purchase before any new
    // click's window) advance both watermarks past day 2 to close day 1
    write(purchSrc, Seq((2L, ts("2024-03-01 12:30:00")),
      (9L, ts("2024-03-03 12:00:00"))))
    write(clickSrc, Seq((9L, ts("2024-03-03 20:00:00"))))
    val all = runOnce()
    val expected = Set((ts("2024-03-01 00:00:00"), 2L))
    assert(all.length == all.toSet.size,
      s"restart duplicated emissions: ${all.mkString(", ")}")
    assert(all.toSet == expected,
      s"day-1 must hold BOTH pairs — 1 means the buffered click was " +
        s"lost in the restart: ${all.mkString(", ")}")
  }

  test("q264 space-saving: every row brackets its exact count and " +
    "over-threshold users survive the sketch") {
    val rows = SparkEntry.queries("q264_stream_heavy_hitters")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val exact = Tables.t(spark, sfDir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // est ordering is what the query claims
    val ests = rows.map(_.getLong(1))
    assert(ests.zip(ests.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val (u, est, err) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val t = exact.getOrElse(u, 0L)
      assert(t <= est && est - err <= t,
        s"user $u: true $t outside [${est - err}, $est]")
      assert(r.getLong(3) == est - err)
    }
    // membership guarantee: any user whose exact count exceeds its
    // shard's N/64 must be in SOME final summary — check via the top-10:
    // the globally heaviest such user must appear
    val shardN = exact.groupBy { case (u, _) => u % 8 }
      .map { case (s0, m) => s0 -> m.values.sum }
    val guaranteed = exact.filter { case (u, n) => n > shardN(u % 8) / 64 }
    if (guaranteed.nonEmpty) {
      val top = guaranteed.maxBy { case (u, n) => (n, -u) }._1
      assert(rows.exists(_.getLong(0) == top),
        s"heaviest guaranteed user $top missing from the merged top-10")
    }
  }

  test("q374 streamed trending equals the batch 10-day dyadic formula " +
    "BIT-FOR-BIT, and per-key state stayed within the 10-day bound") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q374_stream_trending_topk")(
      spark, sfDir).collect()
    assert(rows.nonEmpty)
    // independent batch computation straight off the fixture
    val cnts = Tables.t(spark, sfDir, "events")
      .filter(col("event_type") === "click")
      .select(
        expr("cast(get_json_object(props, '$.k') as bigint) div 25")
          .as("ch"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000")
          .as("day"))
      .groupBy(col("ch"), col("day")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dmax = cnts.keys.map(_._2).max
    val batch = cnts.toSeq
      .filter { case ((_, d), _) => dmax - d <= 9 }
      .groupBy(_._1._1)
      .map { case (ch, m) =>
        ch -> (m.map(_._2).sum,
          m.map { case ((_, d), c) => c * (1024L >> (dmax - d)) }.sum)
      }
    rows.foreach { r =>
      val (raw, score) = batch(r.getLong(1))
      assert(r.getLong(2) == raw && r.getLong(3) == score,
        s"channel ${r.getLong(1)}: streamed ($raw, $score) expected, " +
          s"got (${r.getLong(2)}, ${r.getLong(3)})")
      assert(r.getLong(4) <= dmax)
    }
    assert(rows.map(_.getLong(1)).toSet == batch.keySet,
      "every active channel must surface")
  }

  test("q374's DecayedWindowProcessor resumes from its checkpoint " +
    "across a stop/restart: state continues (no reset), the final " +
    "window equals the one-shot computation, aged days evicted") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val root = graft.TempRoots.freshForDir("graft_trend_restart", "synth")
    val src = root.resolve("src"); val ckpt = root.resolve("ckpt")
    val sink = root.resolve("sink")
    java.nio.file.Files.createDirectories(src)
    def write(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("ch", "day").coalesce(1)
        .write.mode("append").parquet(src.toString)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType)))
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      def runOnce(): Unit = {
        val q = spark.readStream.schema(sch).parquet(src.toString)
          .as[(Long, Long)].groupByKey(_._1)
          .transformWithState(
            new graft.streaming.StreamingOps.DecayedWindowProcessor(10),
            TimeMode.None(), OutputMode.Update())
          .toDF("channel", "upd_seq", "day", "cnt")
          .writeStream.outputMode("update")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame,
              id: Long) =>
            df.withColumn("bid", lit(id)).write.mode("append")
              .parquet(sink.toString): Unit
          }
          .option("checkpointLocation", ckpt.toString).start()
        try q.processAllAvailable() finally q.stop()
      }
      // part 1: channel 0 active on days 100..103, channel 1 on 100
      write(Seq((0L, 100L), (0L, 100L), (0L, 101L), (0L, 103L),
        (1L, 100L)))
      runOnce()
      val seq1 = spark.read.parquet(sink.toString)
        .agg(max(col("upd_seq"))).head().getLong(0)
      assert(seq1 >= 1L)
      // part 2 (after restart): day 112 must EVICT channel 0's days
      // 100/101 (gap >= 10) but keep 103; channel 1 untouched this part
      write(Seq((0L, 112L), (0L, 112L)))
      runOnce() // the restart, same checkpoint
      val fin = spark.read.parquet(sink.toString)
      val ch0 = fin.filter(col("channel") === 0)
      val mx = ch0.agg(max(col("upd_seq"))).head().getLong(0)
      assert(mx > seq1,
        "upd_seq must CONTINUE from the checkpointed state, not reset")
      val state0 = ch0.filter(col("upd_seq") === mx)
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
      assert(state0 == Map(103L -> 1L, 112L -> 2L),
        s"restart state must merge parts and evict aged days: $state0")
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }
}
