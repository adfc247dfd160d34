package graft.streaming

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming capability surface (SURVEY.md §2B "Streaming"):
  * tumbling / sliding / session windows, watermarked streaming dedup.
  *
  * The reference's entire product is a streaming ingest loop
  * (main.go:101-127: fetch → sleep(interval) → fan-out); its Spark-native
  * form is Structured Streaming. Each corpus query below runs a real
  * streaming query (file source → transforms → memory sink), drains it
  * under Trigger.AvailableNow (plan all pending batches, honor per-
  * batch read limits, self-terminate — same batch boundaries as the
  * old processAllAvailable drain, less stop/poll latency per query),
  * and returns the result table — so the
  * STREAMING operator itself is what the DuckDB oracle checks, via the
  * batch-equivalent SQL. Watermark *dropping* semantics need multi-batch
  * input and are covered deterministically in StreamingSpec with
  * MemoryStream.
  *
  * Scale notes: streaming aggs shuffle by (window, key) exactly like batch
  * groupBy; state store size is bounded by |windows|x|keys| and watermarks
  * evict closed windows — the knobs that keep 100 TB/day ingest bounded.
  *
  * CHECKPOINT DURABILITY (production caveat): [[graft.GraftSession]]
  * sets a DEFAULT streaming checkpoint root on RAM-backed /dev/shm —
  * right for these drained harness loops (the offset-WAL fsyncs cost
  * more than a micro-batch's work at fixture scale, and a drained
  * query's checkpoint dies with the call), WRONG for any standing
  * production stream: a driver restart loses /dev/shm and with it
  * exactly-once resumption. A production deployment MUST pass an
  * explicit durable `checkpointLocation` per query — the option
  * overrides the session default untouched (StreamingSpec pins the
  * override), which is also how the exactly-once resume specs run.
  */
object StreamingOps extends QueryModule {

  /** Streaming read of the events fixture with the same ts normalization
    * as the batch loader. The file streaming source requires a directory,
    * so the single fixture file is exposed through a per-sf symlink dir
    * (what a real deployment's landing directory is anyway). Event time is
    * LTZ TIMESTAMP (session tz = UTC) because watermarks require it.
    */
  // The symlink farm is bounded (one dir + one link per sf dir ever seen
  // by this JVM) and torn down on exit so repeated local runs don't
  // accumulate stale links under /tmp. graft.TempRoots provides the
  // per-process (pid-suffixed) root — sbt forks a fresh JVM per
  // test/bench run, and a shared root would let one JVM's exit hook
  // delete the source directory out from under another JVM's
  // still-running streaming query — plus the dead-pid sweep that
  // reclaims roots left by crashed JVMs whose hook never ran.

  /** Shared symlink-farm fixture stream: expose `<dir>/<file>` through a
    * per-(prefix, sf) link directory (the file streaming source requires
    * a directory) and open it as a schema-explicit parquet stream. One
    * definition so the link lifecycle (TempRoots pid-scoping, exists
    * check) cannot diverge between fixture streams. */
  private def fixtureStream(s: SparkSession, dir: String, prefix: String,
      file: String, schema: StructType): DataFrame = {
    import java.nio.file.{Files, Paths}
    val streamDir = graft.TempRoots.forDir(prefix, dir)
    Files.createDirectories(streamDir)
    val src = Paths.get(s"$dir/$file")
    if (Files.isDirectory(src)) {
      // a Spark-written table is a DIRECTORY of part files; the file
      // streaming source does not recurse into a linked subdirectory (it
      // would read 0 rows silently — hit in 2026-08 by the since-deleted
      // scale probe), so flatten:
      // link each part file directly into the stream dir
      val listing = Files.list(src)
      try listing.forEach { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".")) {
          val link = streamDir.resolve(n)
          if (!Files.exists(link)) Files.createSymbolicLink(link, p)
        }
      } finally listing.close()
    } else {
      val link = streamDir.resolve(file)
      if (!Files.exists(link)) Files.createSymbolicLink(link, src)
    }
    s.readStream.schema(schema).parquet(streamDir.toString)
  }

  /** The file streaming source demands an explicit schema; declaring one
    * that contradicts the footer is the round-7 silent-corruption bug. So:
    * read the footer once (driver-side batch read, no data scan), hand the
    * stream the TRUE stored schema, then normalize `ts` with the same
    * encoding-adaptive branch as the batch loader. Event time is exposed as
    * LTZ TIMESTAMP (session tz = UTC, so identical wall clock to the batch
    * NTZ convention) because watermarks are defined on TimestampType. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val footerSchema = graft.Tables.rawSchema(s, dir, "events")
    val raw = fixtureStream(s, dir, "graft_stream_src", "events.parquet", footerSchema)
    graft.Tables.normalizeEventsTs(raw)
      .withColumn("ts", expr("cast(ts as timestamp)"))
  }

  /** documents.parquet schema as stored (no timestamp normalization
    * needed, unlike events). */
  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of the documents fixture through the same per-sf
    * symlink-dir convention as [[eventsStream]]. */
  def docsStream(s: SparkSession, dir: String): DataFrame =
    fixtureStream(s, dir, "graft_stream_docs", "documents.parquet",
      documentsRawSchema)

  /** Streaming read of the embeddings fixture — footer-derived schema
    * (the round-7 lesson: never hand a file stream a schema the footer
    * doesn't confirm), same symlink-dir convention as the others. */
  def embeddingsStream(s: SparkSession, dir: String): DataFrame =
    fixtureStream(s, dir, "graft_stream_emb", "embeddings.parquet",
      graft.Tables.rawSchema(s, dir, "embeddings"))

  /** q257's pre-drain streaming plan: fitted conformal model broadcast
    * onto the arriving purchase stream, per-day coverage counters. Exposed
    * (rather than inlined in the query closure) so PlanSpec can gate the
    * broadcast hint on THIS plan — the drained memory-sink result the
    * query returns is a LocalTableScan that no longer shows the
    * stream-static join. Returns (streaming DF, fitted p90 radius). */
  def conformalMonitorStream(s: SparkSession, dir: String)
      : (DataFrame, Long) = {
    import graft.operators.FeaturePlatform
    import s.implicits._
    val (model, q90) = FeaturePlatform.conformalParts(s, dir)
    val radius = q90.head().getLong(0)
    val test = eventsStream(s, dir)
      .filter($"event_type" === "purchase" &&
        to_date($"ts") >= lit("2024-01-21").cast("date"))
      .select(to_date($"ts").as("day"),
        expr("cast(get_json_object(props, '$.k') as bigint) div 25")
          .as("ch"),
        expr("cast(round(value * 100) as bigint)").as("y"))
      .join(broadcast(model), Seq("ch")) // stream-static
      .groupBy($"day")
      .agg(count(lit(1)).as("n_test"),
        sum((abs($"y" - $"pred") <= radius).cast("long"))
          .as("n_covered"))
    (test, radius)
  }

  /** Run a streaming DataFrame to a memory sink, drain, stop, return.
    *
    * `shufflePartitions` sizes the stateful-operator stores for the query:
    * each stateful op keeps one state store PER shuffle partition, so a
    * stream keyed by a few hundred keys gets pure store-init overhead from
    * the session default of 32 (measured in round 1: 32→8 cut the
    * stream-stream join 13.5s→3.5s at sf0.1). On a cluster the same knob
    * scales partitions to state volume, not CPU count — the number is
    * pinned into the checkpoint at first start, so it is a per-query
    * decision either way. */
  def runToMemory(s: SparkSession, streamed: DataFrame, name: String,
      mode: String, shufflePartitions: Option[Int] = None,
      extraConfs: Map[String, String] = Map.empty): DataFrame = {
    // The overrides touch session-global conf, so confine them to the
    // start() window (StreamExecution clones the session — and with it the
    // conf — synchronously at construction) and serialize that window so
    // two concurrent runToMemory calls cannot read each other's temporary
    // value as the `prev` they later restore.
    // Checkpoint on the RAM-backed root: a drained memory-sink query is
    // ephemeral by construction (the checkpoint dies with the call), but
    // left to the default it lands under /tmp — ext4 here — where the
    // offset-WAL and per-partition state commits' small fsyncs cost more
    // than the micro-batch's actual work (profiled: ~0.9 s of a 1.0 s
    // drain at sf0.1). `freshForDir` clears the previous call's dir so a
    // bench's second run replays from scratch like the first.
    val ckpt = graft.TempRoots
      .freshFastForDir("graft_mem_ckpt", s"${name}_$mode").toString
    val q = s.synchronized {
      val overrides = extraConfs ++
        shufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString)
      val prev = overrides.keys.map(k => k -> s.conf.getOption(k)).toMap
      overrides.foreach { case (k, v) => s.conf.set(k, v) }
      // Trigger.AvailableNow: plan every pending batch up front, then
      // self-terminate — same batch boundaries as the old
      // processAllAvailable drain (read limits are honored per batch),
      // ~0.1 s less stop/poll latency per drained query (one-JVM A/B of
      // the two drain forms; x the whole streaming family per bench run)
      try streamed.writeStream.outputMode(mode).format("memory")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).queryName(name).start()
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    try q.awaitTermination() finally q.stop()
    s.table(name)
  }

  /** Per-user running (count, sum, max) via the transformWithState v2
    * arbitrary-state API (Spark 4): typed ValueState in RocksDB, explicit
    * TTL surface. Update-mode re-emission per batch, like q74's
    * flatMapGroupsWithState — the last row per key is the converged
    * state. TTLConfig.NONE here because the oracle needs every key; a
    * production 100 TB/day pipeline sets a TTL so cold keys age out of
    * the store instead of accumulating forever — state bound becomes
    * O(active keys), the property flatMapGroupsWithState only gets via
    * hand-rolled timeouts. */
  /** Input rows carry (user, value, ts_us); the state tracks max event
    * time alongside the running stats so the query OUTPUT is timestamp-
    * bearing — round 7's lesson: a streaming query whose output is
    * insensitive to a uniform time-scale slip stays green while the
    * loader corrupts, so every stateful corpus query now emits at least
    * one ts-derived column the oracle checks bit-exactly. */
  final class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double, Long), (Long, Long, Double, Double, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var agg: ValueState[(Long, Double, Double, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double, Double, Long)](
        "agg", org.apache.spark.sql.Encoders.product[(Long, Double, Double, Long)],
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Double, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Double, Double, Long)] = {
      var (n, total, mx, lastTs) =
        if (agg.exists()) agg.get() else (0L, 0.0, Double.NegativeInfinity, Long.MinValue)
      rows.foreach { r =>
        n += 1; total += r._2; mx = math.max(mx, r._2)
        lastTs = math.max(lastTs, r._3)
      }
      agg.update((n, total, mx, lastTs))
      Iterator((user, n, total, mx, lastTs))
    }
  }

  /** Event-time-TIMER sessionization (q182): buffer each user's events
    * in ListState and keep ONE armed timer at last_ts + gap; when the
    * watermark passes it, sort the buffer, split it into 30-min-gap
    * sessions, emit every session whose close is WATERMARK-PROVEN
    * (last_ts + gap <= wm — no row that could extend it can still
    * arrive), and retain the still-open tail with the timer re-armed.
    * This is the v2-state-API form of what flatMapGroupsWithState
    * called EventTimeTimeout, but with explicit multi-timer control and
    * typed state. State is bounded by open sessions per user (closed
    * ones leave the store on emission) — the property that keeps a
    * 100 TB/day clickstream sessionizer from accumulating history.
    *
    * Cadence caveat (measured 2026-08 with the since-deleted scale
    * probe): RocksDB list MERGE
    * appends run ~11k rows/s/task, so this raw-event-buffering form fits
    * LIVE arrival rates; replaying a 60M-row backlog through it hits the
    * append wall. Backfills belong on the batch gaps-and-islands form
    * (q143), or pre-aggregate per micro-batch before buffering. */
  /** Streaming SPACE-SAVING heavy-hitter summary (q264): per shard key, a
    * capacity-m top-items sketch maintained in typed ValueState. The
    * SpaceSaving algorithm (Metwally/Agrawal/El Abbadi 2005, public):
    * counted item → increment; new item with room → insert at (1, 0);
    * full → overwrite the min-estimate entry, inheriting its count as
    * the new item's error bound. Guarantees per shard: true <= est <=
    * true + err, err <= N_shard/m, and every item with true count >
    * N_shard/m is IN the summary — so with items sharded by id (each
    * item's whole count lives in exactly one shard) the union of shard
    * summaries needs no cross-shard error accounting at merge time.
    * Eviction picks the (est, item)-smallest entry and each micro-batch
    * is replayed in (ts, item) order, so the summary is deterministic
    * for a deterministic batch split — what lets the spec bracket-check
    * against exact batch counts. State is EXACTLY m entries per shard
    * forever: the O(1)-memory answer to "top users this month" that a
    * naive streaming groupBy(user) would grow unboundedly. */
  final class SpaceSavingProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var st: ValueState[(Seq[(Long, Long, Long)], Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Seq[(Long, Long, Long)], Long, Long)](
        "summary",
        org.apache.spark.sql.Encoders.product[(Seq[(Long, Long, Long)], Long, Long)],
        TTLConfig.NONE)
    override def handleInputRows(shard: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long, Long, Long)] = {
      val (entries0, seq0, maxTs0) =
        if (st.exists()) st.get() else (Seq.empty[(Long, Long, Long)], 0L, Long.MinValue)
      val m = scala.collection.mutable.HashMap[Long, (Long, Long)]()
      entries0.foreach { case (i, e, r) => m(i) = (e, r) }
      var maxTs = maxTs0
      rows.toArray.map(r => (r._2, r._3)).sortBy(r => (r._2, r._1))
        .foreach { case (item, ts) =>
        maxTs = math.max(maxTs, ts)
        m.get(item) match {
          case Some((e, r)) => m(item) = (e + 1, r)
          case None if m.size < capacity => m(item) = (1L, 0L)
          case None =>
            val (vi, (ve, _)) = m.minBy { case (i, (e, _)) => (e, i) }
            m.remove(vi)
            m(item) = (ve + 1, ve)
        }
      }
      val entries = m.toSeq.map { case (i, (e, r)) => (i, e, r) }.sortBy(_._1)
      st.update((entries, seq0 + 1, maxTs))
      entries.iterator.map { case (i, e, r) => (shard, seq0 + 1, i, e, r, maxTs) }
    }
  }

  /** q374's bounded decayed-count window: per key, state is the last
    * `windowDays` (day -> count) entries — aged days are EVICTED on
    * every key-max advance, so state is O(windowDays) per key FOREVER
    * (the event-time-TTL discipline applied inside transformWithState;
    * q264's constant-state argument for the trending use case). Counts
    * stay EXACT per retained day — the dyadic decay weights attach at
    * read time against the global anchor, which is what makes the
    * streamed result bit-equal to the batch 10-day formula instead of
    * an approximation (a running decayed SUM would truncate low bits
    * differently than the per-term batch shift). */
  final class DecayedWindowProcessor(windowDays: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var st: ValueState[(Seq[(Long, Long)], Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Seq[(Long, Long)], Long)](
        "window",
        org.apache.spark.sql.Encoders.product[(Seq[(Long, Long)], Long)],
        TTLConfig.NONE)
    override def handleInputRows(ch: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val (entries0, seq0) =
        if (st.exists()) st.get() else (Seq.empty[(Long, Long)], 0L)
      val m = scala.collection.mutable.HashMap[Long, Long]()
      entries0.foreach { case (d, c) => m(d) = c }
      rows.foreach { case (_, d) => m(d) = m.getOrElse(d, 0L) + 1 }
      val dmax = m.keys.max
      val kept = m.toSeq.filter { case (d, _) => dmax - d < windowDays }
        .sortBy(_._1)
      st.update((kept, seq0 + 1))
      kept.iterator.map { case (d, c) => (ch, seq0 + 1, d, c) }
    }
  }

  final class TimerSessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Double),
        (Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      OutputMode, TimeMode, TimerValues, TTLConfig}
    // event time is carried as MICROSECOND longs: Timestamp.getTime is
    // millis and silently truncates the fixtures' µs precision (bit us —
    // every emitted bound was 694 µs early); the timer API is ms-based,
    // so arming rounds the µs horizon UP to the next whole ms
    private val GapUs = 30L * 60 * 1000 * 1000
    @transient private var buf: ListState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[(Long, Double)](
        "buf", org.apache.spark.sql.Encoders.product[(Long, Double)],
        TTLConfig.NONE)

    private def toMicros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    private def toTimestamp(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    /** ts-sorted buffer → gap-split sessions, in time order. */
    private def split(ev: Array[(Long, Double)])
        : Seq[scala.collection.mutable.ArrayBuffer[(Long, Double)]] = {
      val sessions = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer(ev.head))
      ev.tail.foreach { e =>
        if (e._1 - sessions.last.last._1 > GapUs)
          sessions += scala.collection.mutable.ArrayBuffer(e)
        else sessions.last += e
      }
      sessions.toSeq
    }

    /** One armed timer per key, at the EARLIEST session's close horizon.
      * Arming at the newest event's close (the obvious choice) is a
      * liveness bug: a key active near the head of the stream keeps its
      * single timer above the watermark forever, so its long-closed
      * EARLY sessions never emit. The earliest close fires as soon as
      * ANY session becomes provably closed; the expiry handler emits
      * every closed session and re-arms for the next open one. */
    private def rearm(firstCloseUs: Long): Unit = {
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(math.floorDiv(firstCloseUs + 999L, 1000L))
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timerValues: TimerValues)
        : Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] = {
      rows.foreach(r => buf.appendValue((toMicros(r._2), r._3)))
      val ev = buf.get().toArray.sortBy(e => (e._1, e._2))
      if (ev.nonEmpty) rearm(split(ev).head.last._1 + GapUs)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        info: ExpiredTimerInfo)
        : Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)] = {
      // ms-floor of the true µs watermark: the close check is (at worst)
      // 1 ms conservative, absorbed by the query's 90-min horizon margin
      val wmUs = timerValues.getCurrentWatermarkInMs * 1000L
      val ev = buf.get().toArray.sortBy(e => (e._1, e._2))
      if (ev.isEmpty) return Iterator.empty
      val (closed, open) = split(ev).partition(_.last._1 + GapUs <= wmUs)
      buf.clear()
      open.flatten.foreach(e => buf.appendValue(e))
      if (open.nonEmpty) rearm(open.head.last._1 + GapUs)
      closed.iterator.map { sess =>
        // sum in ts-sorted order: deterministic association (the 2-dp
        // round in the query absorbs the vs-oracle summation order)
        (user, toTimestamp(sess.head._1), toTimestamp(sess.last._1),
          sess.size.toLong, sess.map(_._2).sum)
      }
    }
  }

  override def queries: Seq[Q] = Seq(
    Q(
      "q70_stream_tumbling",
      "Streaming tumbling-window aggregate (1h × event_type): real " +
        "readStream→window→memory-sink lifecycle, drained synchronously. " +
        "Oracle = batch time_bucket equivalent.",
      (s, dir) => {
        import s.implicits._
        val agg = eventsStream(s, dir)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
          .select($"window.start".cast("timestamp_ntz").as("w_start"), $"event_type", $"n", $"sum_value")
        runToMemory(s, agg, "graft_mem_tumbling", "complete", shufflePartitions = Some(8))
          .orderBy($"w_start", $"event_type")
      },
      Some("""
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w_start,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY w_start, event_type""")),

    Q(
      "q71_stream_sliding",
      "Streaming sliding-window aggregate (2h window, 1h slide): each " +
        "event lands in 2 windows. Oracle unnests both candidate starts " +
        "per event.",
      (s, dir) => {
        import s.implicits._
        val agg = eventsStream(s, dir)
          .groupBy(window($"ts", "2 hours", "1 hour"))
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_v"))
          .select($"window.start".cast("timestamp_ntz").as("w_start"), $"n",
            floor($"sum_v" / $"n" * 10000.0).cast("double").divide(10000.0).as("avg_value"))
        runToMemory(s, agg, "graft_mem_sliding", "complete", shufflePartitions = Some(8))
          .orderBy($"w_start")
      },
      Some("""
        WITH expanded AS (
          SELECT unnest([time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                           - INTERVAL '1 hour']) AS w_start,
                 value
          FROM events)
        SELECT w_start, n, CAST(floor(sum_v / n * 10000.0) AS DOUBLE) / 10000.0 AS avg_value
        FROM (SELECT w_start, count(*) AS n, round(sum(value), 2) AS sum_v
              FROM expanded GROUP BY w_start)
        ORDER BY w_start""")),

    Q(
      "q72_session_window",
      "Session windows (30-min inactivity gap) per user via " +
        "session_window(). Oracle = classic gaps-and-islands SQL (lag + " +
        "cumulative new-session flags) — verifying Spark's session " +
        "semantics [start=min ts, end=last ts+gap) against first " +
        "principles.",
      (s, dir) => {
        import s.implicits._
        Tables.t(s, dir, "events")
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("session_value"))
          .select(
            $"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events", $"session_value")
          .orderBy($"user_id", $"session_start")
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 CASE WHEN CAST(ts AS TIMESTAMP)
                        - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                        > INTERVAL '30 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events),
        sessions AS (
          SELECT user_id, ts, value,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM e)
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               count(*) AS n_events,
               round(sum(value), 2) AS session_value
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start""")),

    Q(
      "q232_stream_session_window",
      "STREAMING session windows — session_window under a real " +
        "watermark in append mode (q72 verifies the gap semantics in " +
        "batch; this runs the STATEFUL form: open sessions live in the " +
        "state store, merge as events arrive, and emit only when the " +
        "watermark proves them closed — the mechanism q182 rebuilds " +
        "manually with timers, here as the built-in operator). " +
        "Determinism: whether a TAIL session has emitted is an engine " +
        "race (q182's rule), so both engines compare only sessions " +
        "ending below max(ts) - 90 min (watermark delay + gap + " +
        "margin); below that line emission is watermark-forced and the " +
        "result is bit-exact vs the batch gaps-and-islands oracle. " +
        "State is bounded by OPEN sessions per user; 8 shuffle " +
        "partitions size the stores to the fixture key space (q70 " +
        "scaladoc).",
      (s, dir) => {
        import s.implicits._
        val sess = eventsStream(s, dir)
          .withWatermark("ts", "30 minutes")
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"),
            round(sum($"value"), 2).as("session_value"))
          .select($"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events", $"session_value")
        val out = runToMemory(s, sess, "graft_mem_stream_sessions",
          "append", shufflePartitions = Some(8))
        val hz = Tables.t(s, dir, "events").groupBy()
          .agg((max($"ts") - expr("INTERVAL 90 MINUTES"))
            .cast("timestamp").as("h"))
          .head().getTimestamp(0)
        out.filter($"session_end" < lit(hz))
          .select($"user_id",
            $"session_start".cast("timestamp_ntz").as("session_start"),
            $"session_end".cast("timestamp_ntz").as("session_end"),
            $"n_events", $"session_value")
          .orderBy($"user_id", $"session_start")
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 CASE WHEN CAST(ts AS TIMESTAMP)
                        - lag(CAST(ts AS TIMESTAMP)) OVER (
                            PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP))
                        > INTERVAL '30 minutes'
                      OR lag(ts) OVER (PARTITION BY user_id
                           ORDER BY CAST(ts AS TIMESTAMP)) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events),
        sessions AS (
          SELECT user_id, ts, value,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM e),
        hz AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 90 MINUTE AS h
               FROM events)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               count(*) AS n_events,
               round(sum(value), 2) AS session_value
        FROM sessions, hz
        GROUP BY user_id, session_id, hz.h
        HAVING max(ts) + INTERVAL '30 minutes' < hz.h
        ORDER BY user_id, session_start""")),

    Q(
      "q230_dynamic_gap_sessions",
      "DYNAMIC-GAP session windows — session_window's per-ROW gap " +
        "column (q72's fixed 30 min generalized): a purchase extends " +
        "its session by 60 min, everything else by 30 min, the " +
        "'engaged users linger' rule every product-analytics team " +
        "eventually writes. Each event spans [ts, ts + its own gap); " +
        "overlapping spans merge, so the oracle is q144's " +
        "variable-interval gaps-and-islands: new session exactly when " +
        "ts >= running max of preceding span ends (half-open — an " +
        "event STARTING at the previous end does not merge), session " +
        "end = max span end. Same one-user_id-shuffle shape as q72; " +
        "the gap expression rides the scan.",
      (s, dir) => {
        import s.implicits._
        val gap = when($"event_type" === "purchase", lit("60 minutes"))
          .otherwise(lit("30 minutes"))
        Tables.t(s, dir, "events")
          .groupBy(session_window($"ts", gap), $"user_id")
          .agg(count(lit(1)).as("n_events"),
            round(sum($"value"), 2).as("session_value"))
          .select(
            $"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events", $"session_value")
          .orderBy($"user_id", $"session_start")
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 CAST(ts AS TIMESTAMP)
                   + CASE WHEN event_type = 'purchase'
                          THEN INTERVAL '60 minutes'
                          ELSE INTERVAL '30 minutes' END AS ev_end
          FROM events),
        m AS (
          SELECT *, max(ev_end) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_max
          FROM e),
        f AS (
          SELECT *, CASE WHEN prev_max IS NULL OR ts >= prev_max
                         THEN 1 ELSE 0 END AS new_s
          FROM m),
        s AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
          FROM f)
        SELECT user_id, min(ts) AS session_start,
               max(ev_end) AS session_end,
               count(*) AS n_events,
               round(sum(value), 2) AS session_value
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    Q(
      "q73_stream_dedup",
      "Watermarked streaming dedup: dropDuplicates on (user_id, " +
        "event_type) with a 1h watermark, re-aggregated to distinct-user " +
        "counts. Oracle = batch COUNT(DISTINCT).",
      (s, dir) => {
        import s.implicits._
        val deduped = eventsStream(s, dir)
          .withWatermark("ts", "1 hour")
          .dropDuplicates("user_id", "event_type")
          .select($"user_id", $"event_type")
        val out = runToMemory(s, deduped, "graft_mem_dedup", "append", shufflePartitions = Some(8))
        out.groupBy($"event_type")
          .agg(count(lit(1)).as("n_distinct_users"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    Q(
      "q207_stream_distinct_daily",
      "STREAMING COUNT DISTINCT per event-time day — q203's DAU " +
        "dashboard run continuously, and a chained-stateful pair q160 " +
        "doesn't cover: dropDuplicates on (user_id, day-window) feeds a " +
        "downstream windowed aggregate in ONE streaming query (dedup " +
        "state + agg state, the Spark 3.4+ multi-stateful unlock on the " +
        "dedup->agg edge where q160 chains join->agg). q73 dedups " +
        "in-stream but counts on the DRAINED sink; here the distinct " +
        "count is itself streaming state, so a dashboard reads it " +
        "mid-stream. The dedup payload is (user_id, window) ONLY — a " +
        "kept-vs-dropped duplicate is output-invisible by construction " +
        "(any row-level column like ts would make the surviving " +
        "representative arbitrary). Unwatermarked dropDuplicates keys " +
        "one state row per (user, day) — bounded by active users x " +
        "days; at production cadence add q94's within-watermark bound. " +
        "day_start is event-time-derived, so the q70 class of silent " +
        "time-scale corruption shifts every output row loudly.",
      (s, dir) => {
        import s.implicits._
        val daily = eventsStream(s, dir)
          .select($"user_id", window($"ts", "1 day").as("w"))
          .dropDuplicates("user_id", "w")
          .groupBy($"w")
          .agg(count(lit(1)).as("n_dau"))
          .select($"w.start".cast("timestamp_ntz").as("day_start"), $"n_dau")
        runToMemory(s, daily, "graft_mem_distinct_daily", "complete",
          shufflePartitions = Some(8))
          .orderBy($"day_start")
      },
      Some("""
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS day_start,
               count(DISTINCT user_id) AS n_dau
        FROM events
        GROUP BY 1
        ORDER BY day_start""")),

    Q(
      "q94_stream_dedup_within_watermark",
      "State-BOUNDED streaming dedup via dropDuplicatesWithinWatermark " +
        "(SURVEY §2B's named API): unlike q73's dropDuplicates — which " +
        "keys state forever for every distinct key — this variant evicts " +
        "a key's state once the watermark passes its event time, so state " +
        "is O(keys per watermark window), the form that survives " +
        "unbounded key spaces at 100 TB/day. The result equals full " +
        "distinct here because the fixture arrives as ONE micro-batch " +
        "(the watermark never advances mid-run, so nothing evicts); with " +
        "multi-batch arrival, keys recurring beyond the delay re-emit BY " +
        "DESIGN — that bounded-memory trade is the point of the API, and " +
        "its eviction/re-emission semantics are asserted multi-batch in " +
        "StreamingSpec.",
      (s, dir) => {
        import s.implicits._
        val deduped = eventsStream(s, dir)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select($"user_id", $"event_type")
        val out = runToMemory(s, deduped, "graft_mem_dedup_wm", "append", shufflePartitions = Some(8))
        out.groupBy($"event_type")
          .agg(count(lit(1)).as("n_distinct_users"))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    Q(
      "q74_stateful_agg",
      "Arbitrary stateful processing via flatMapGroupsWithState (the " +
        "custom-state escape hatch, SURVEY §2B): per-user state machine " +
        "accumulating event count + spend, emitting the final state per " +
        "user. Oracle = the batch aggregate it must converge to.",
      (s, dir) => {
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        import s.implicits._
        val perUser = eventsStream(s, dir)
          .select($"user_id", $"value", unix_micros($"ts"))
          .as[(Long, Double, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            OutputMode.Update, GroupStateTimeout.NoTimeout)(
            (user: Long, rows: Iterator[(Long, Double, Long)],
             state: GroupState[(Long, Double, Long)]) => {
              val (n0, v0, t0) = state.getOption.getOrElse((0L, 0.0, Long.MinValue))
              var n = n0; var v = v0; var t = t0
              rows.foreach { r => n += 1; v += r._2; t = math.max(t, r._3) }
              state.update((n, v, t))
              Iterator((user, n, v, t))
            })
          .toDF("user_id", "n_events", "total_value", "last_us")
        val out = runToMemory(s, perUser, "graft_mem_stateful", "update", shufflePartitions = Some(8))
        // update mode re-emits per batch; the LAST row per user is the
        // converged state (single-batch here, but written to be correct
        // for any batching)
        import org.apache.spark.sql.expressions.Window
        out.withColumn("rn", row_number().over(
            Window.partitionBy($"user_id").orderBy($"n_events".desc)))
          .filter($"rn" === 1)
          .select($"user_id", $"n_events",
            round($"total_value", 2).as("total_value"),
            // ts-bearing output (round-7 lesson): a loader time-scale
            // slip moves this column → loud driver-hash failure
            timestamp_micros($"last_us").cast("timestamp_ntz").as("last_ts"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value,
               max(ts) AS last_ts
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    Q(
      "q108_transform_with_state",
      "Arbitrary stateful processing via transformWithState (the Spark-4 " +
        "v2 state API, successor to q74's flatMapGroupsWithState): typed " +
        "ValueState in a RocksDB store, per-user (count, sum, max) state " +
        "machine. RocksDB is the 100 TB-scale store — state spills to " +
        "local SST files instead of executor heap, changelog-checkpoints " +
        "to the checkpoint location. Oracle = the batch aggregate the " +
        "state must converge to.",
      (s, dir) => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val perUser = eventsStream(s, dir)
          .select($"user_id", $"value", unix_micros($"ts"))
          .as[(Long, Double, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n_events", "total_value", "max_value", "last_us")
        val out = runToMemory(s, perUser, "graft_mem_tws", "update",
          shufflePartitions = Some(8),
          extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        // update mode re-emits per batch; keep the last (converged) row
        // per user, exactly like q74
        import org.apache.spark.sql.expressions.Window
        out.withColumn("rn", row_number().over(
            Window.partitionBy($"user_id").orderBy($"n_events".desc)))
          .filter($"rn" === 1)
          .select($"user_id", $"n_events",
            round($"total_value", 2).as("total_value"),
            round($"max_value", 2).as("max_value"),
            // ts-bearing output: a time-scale slip in the loader moves
            // this column and fails the driver hash, loudly
            timestamp_micros($"last_us").cast("timestamp_ntz").as("last_ts"))
          .orderBy($"user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value,
               round(max(value), 2) AS max_value,
               max(ts) AS last_ts
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),

    Q(
      "q75_stream_static_join",
      "Stream-static join: the event stream enriched against a static " +
        "(broadcastable) weight dimension, then aggregated — the standard " +
        "streaming-enrichment shape (the static side is re-planned per " +
        "micro-batch, so dimension updates are picked up).",
      (s, dir) => {
        import s.implicits._
        val weights = Seq(
          ("click", 1.0), ("view", 0.5), ("purchase", 10.0),
          ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
        val joined = eventsStream(s, dir)
          .join(broadcast(weights), Seq("event_type"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            round(sum($"value" * $"weight"), 2).as("weighted_value"),
            // ts-bearing output (round-7 lesson): any loader time-scale
            // slip moves this column → loud driver-hash failure
            max($"ts").cast("timestamp_ntz").as("last_ts"))
        runToMemory(s, joined, "graft_mem_enrich", "complete", shufflePartitions = Some(8))
          .orderBy($"event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n,
               round(sum(value * weight), 2) AS weighted_value,
               max(ts) AS last_ts
        FROM events
        JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
                     ('signup', 5.0), ('error', 0.0)) AS w(event_type, weight)
          USING (event_type)
        GROUP BY event_type
        ORDER BY event_type""")),

    Q(
      "q76_stream_stream_join",
      "Stream-stream inner join with event-time range condition: each " +
        "purchase joined to the same user's clicks in the preceding hour. " +
        "Watermarks on BOTH sides + the time-range predicate bound the " +
        "join state (the requirement that makes stream-stream joins " +
        "feasible at all); oracle = the equivalent batch range join.",
      (s, dir) => {
        import s.implicits._
        // Stream-stream join state lives in one store PER shuffle
        // partition per side; for a keyed-by-150-users stream the default
        // 32 partitions are pure store overhead — size to the key space
        // via runToMemory's shufflePartitions knob (32→8 measured
        // 13.5s→3.5s at sf0.1 in round 1).
        val ev = eventsStream(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"))
        val out = runToMemory(s, joined.select($"p_id", $"c_id"),
          "graft_mem_ssjoin", "append", shufflePartitions = Some(8))
        out.groupBy().agg(count(lit(1)).as("n_pairs"),
          countDistinct($"p_id").as("n_purchases_with_click"))
      },
      Some("""
        SELECT count(*) AS n_pairs,
               count(DISTINCT p.event_id) AS n_purchases_with_click
        FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR""")),

    Q(
      "q158_stream_stream_left_join",
      "Stream-stream LEFT OUTER join — the semantic q76's inner join " +
        "does not cover: purchases with NO click in the preceding hour " +
        "must still emit (with nulls), and they can only do so once the " +
        "watermark proves no matching click can arrive — so unmatched " +
        "rows surface on state EVICTION, not on data. The oracle is made " +
        "deterministic by comparing only below a safety HORIZON " +
        "(min(max purchase ts, max click ts) - watermark delay - 1h " +
        "margin): above it, whether a tail row has been evicted yet is " +
        "an engine-internal race, so both engines exclude that region " +
        "identically and the rest is bit-exact. Same bounded-state " +
        "requirements as q76: watermarks on both sides + the time-range " +
        "predicate.",
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"),
          "leftOuter")
        val out = runToMemory(s, joined.select($"p_id", $"c_id", $"p_ts"),
          "graft_mem_ssleftjoin", "append", shufflePartitions = Some(8))
        // horizon from the batch table: global watermark at stream end is
        // min(max p_ts, max c_ts) - 1h delay; the extra hour is the
        // eviction-race margin the doc describes
        val batchEv = graft.Tables.t(s, dir, "events")
        // Tables.t exposes ts as TIMESTAMP_NTZ; the stream side is
        // TIMESTAMP — identical instants under the session's fixed UTC
        // zone, so the cast below is value-preserving
        val hz = batchEv.groupBy()
          .agg(least(
            max(when($"event_type" === "purchase", $"ts")),
            max(when($"event_type" === "click", $"ts"))).as("m"))
          .select(($"m" - expr("INTERVAL 2 HOURS")).cast("timestamp").as("h"))
          .head().getTimestamp(0)
        out.filter($"p_ts" < lit(hz))
          .groupBy()
          .agg(count(lit(1)).as("n_rows"),
            count($"c_id").as("n_matched"),
            sum(when($"c_id".isNull, 1L).otherwise(0L)).as("n_unmatched"))
      },
      Some("""
        WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'click'),
        hz AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                        - INTERVAL 2 HOUR AS h),
        j AS (SELECT p.event_id AS p_id, c.event_id AS c_id, p.ts AS p_ts
              FROM p LEFT JOIN c
                ON p.user_id = c.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
        SELECT count(*) AS n_rows,
               count(c_id) AS n_matched,
               CAST(sum(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unmatched
        FROM j, hz WHERE j.p_ts < hz.h""")),

    Q(
      "q159_stream_stream_full_join",
      "Stream-stream FULL OUTER join — both sides' unmatched rows emit " +
        "on eviction, completing the streaming join matrix (q76 inner, " +
        "q158 left). Eviction horizons are ASYMMETRIC, which the oracle " +
        "restates: an unmatched purchase evicts once the watermark " +
        "passes p_ts (no older click can arrive), but an unmatched " +
        "click only once it passes c_ts + 1h (a purchase up to an hour " +
        "LATER could still match it) — so the deterministic comparison " +
        "region is p_ts < hz for the purchase side and c_ts < hz - 1h " +
        "for the click side, with hz the q158 horizon. Everything below " +
        "those lines is bit-exact vs the batch full outer join.",
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"),
          "fullOuter")
        val out = runToMemory(s, joined.select($"p_id", $"p_ts", $"c_id", $"c_ts"),
          "graft_mem_ssfulljoin", "append", shufflePartitions = Some(8))
        val batchEv = graft.Tables.t(s, dir, "events")
        val hz = batchEv.groupBy()
          .agg(least(
            max(when($"event_type" === "purchase", $"ts")),
            max(when($"event_type" === "click", $"ts"))).as("m"))
          .select(($"m" - expr("INTERVAL 2 HOURS")).cast("timestamp").as("h"))
          .head().getTimestamp(0)
        out.filter(
          ($"p_id".isNotNull && $"p_ts" < lit(hz)) ||
            ($"p_id".isNull && $"c_ts" < lit(hz) - expr("INTERVAL 1 HOUR")))
          .groupBy()
          .agg(
            count(when($"p_id".isNotNull && $"c_id".isNotNull, 1)).as("n_matched"),
            count(when($"c_id".isNull, 1)).as("n_unmatched_purchases"),
            count(when($"p_id".isNull, 1)).as("n_unmatched_clicks"))
      },
      Some("""
        WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'click'),
        hz AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                        - INTERVAL 2 HOUR AS h),
        j AS (SELECT p.event_id AS p_id, p.ts AS p_ts,
                     c.event_id AS c_id, c.ts AS c_ts
              FROM p FULL OUTER JOIN c
                ON p.user_id = c.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
        SELECT count(CASE WHEN p_id IS NOT NULL AND c_id IS NOT NULL THEN 1 END)
                 AS n_matched,
               count(CASE WHEN c_id IS NULL THEN 1 END) AS n_unmatched_purchases,
               count(CASE WHEN p_id IS NULL THEN 1 END) AS n_unmatched_clicks
        FROM j, hz
        WHERE (p_id IS NOT NULL AND p_ts < hz.h)
           OR (p_id IS NULL AND c_ts < hz.h - INTERVAL 1 HOUR)""")),

    Q(
      "q163_stream_stream_right_join",
      "Stream-stream RIGHT OUTER join — the last cell of the streaming " +
        "join matrix (q76 inner, q158 left, q159 full): every click " +
        "survives, purchases are nullable; an unmatched click emits on " +
        "state eviction once the watermark passes c_ts + 1h (a purchase " +
        "up to an hour LATER could still have matched it — the same " +
        "asymmetric horizon as q159's click side), so the deterministic " +
        "comparison region is c_ts < hz - 1h with hz the q158 horizon. " +
        "Below that line every preserved click is final — matched rows' " +
        "purchases arrived before hz by the range predicate — and the " +
        "counts are bit-exact vs the batch right join.",
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"),
          "rightOuter")
        val out = runToMemory(s, joined.select($"p_id", $"c_id", $"c_ts"),
          "graft_mem_ssrightjoin", "append", shufflePartitions = Some(8))
        val batchEv = graft.Tables.t(s, dir, "events")
        val hz = batchEv.groupBy()
          .agg(least(
            max(when($"event_type" === "purchase", $"ts")),
            max(when($"event_type" === "click", $"ts"))).as("m"))
          .select(($"m" - expr("INTERVAL 2 HOURS")).cast("timestamp").as("h"))
          .head().getTimestamp(0)
        out.filter($"c_ts" < lit(hz) - expr("INTERVAL 1 HOUR"))
          .groupBy()
          .agg(count(lit(1)).as("n_rows"),
            count($"p_id").as("n_matched"),
            sum(when($"p_id".isNull, 1L).otherwise(0L)).as("n_unmatched_clicks"))
      },
      Some("""
        WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'click'),
        hz AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                        - INTERVAL 2 HOUR AS h),
        j AS (SELECT p.event_id AS p_id, c.event_id AS c_id, c.ts AS c_ts
              FROM p RIGHT JOIN c
                ON p.user_id = c.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
        SELECT count(*) AS n_rows,
               count(p_id) AS n_matched,
               CAST(sum(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unmatched_clicks
        FROM j, hz WHERE j.c_ts < hz.h - INTERVAL 1 HOUR""")),

    Q(
      "q164_stream_asof_tolerance",
      "STREAMING AS-OF JOIN WITH TOLERANCE — q161's attribution run " +
        "continuously: each error event takes the LATEST same-user " +
        "purchase within the preceding 30 minutes. Composed from the " +
        "chained-stateful unlock q160 proves: a watermarked stream-" +
        "stream inner join whose range predicate IS the tolerance " +
        "window, feeding a per-error argmax — max(struct(p_ts, p_id)) " +
        "under a 1-hour tumbling window on the error's event time, the " +
        "same (p_ts desc, p_id desc) tie-break as q161. The inner form " +
        "is exactly q161's matched set: if ANY within-tolerance " +
        "purchase exists, the latest at-or-before purchase is also " +
        "within tolerance, so argmax-over-candidates = as-of-then-" +
        "null-out minus the null rows. Append-mode groups emit once the " +
        "watermark passes their window end, so the oracle compares " +
        "errors below the q158 horizon minus one window length.",
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
        val errors = ev.filter($"event_type" === "error")
          .select($"user_id".as("e_user"), $"event_id".as("err_id"), $"ts".as("e_ts"))
          .withWatermark("e_ts", "1 hour")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val joined = errors.join(purchases,
          $"e_user" === $"p_user" &&
            $"p_ts" <= $"e_ts" && $"p_ts" >= $"e_ts" - expr("INTERVAL 30 MINUTES"))
        // e_ts doubles as the aggregate's window source and a per-row
        // value; a raw second event-time column in the grouping is
        // rejected (one event-time per stream), so the value copy rides
        // as plain epoch seconds
        val best = joined
          .withColumn("e_sec", $"e_ts".cast("long"))
          .groupBy(window($"e_ts", "1 hour"), $"err_id", $"e_sec")
          .agg(max(struct($"p_ts", $"p_id")).as("best"))
          .select($"err_id", $"e_sec", $"best.p_id".as("p_id"),
            ($"e_sec" - $"best.p_ts".cast("long")).as("gap_sec"))
        val out = runToMemory(s, best, "graft_mem_sasof", "append",
          shufflePartitions = Some(8))
        val batchEv = graft.Tables.t(s, dir, "events")
        val hz = batchEv.groupBy()
          .agg(least(
            max(when($"event_type" === "purchase", $"ts")),
            max(when($"event_type" === "error", $"ts"))).as("m"))
          .select(($"m" - expr("INTERVAL 3 HOURS")).cast("timestamp").as("h"))
          .head().getTimestamp(0)
        // both sides compare at SECOND granularity (the output grain):
        // e_sec is the floor-second of err_ts and the oracle floors
        // epoch(err_ts)/epoch(h) identically — a full-precision oracle
        // filter would disagree on errors inside [floor(h), h)
        out.filter($"e_sec" < lit(hz.getTime / 1000L))
          .select($"err_id", $"p_id", $"gap_sec")
          .orderBy($"err_id")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id AS err_id, CAST(ts AS TIMESTAMP) AS err_ts
                   FROM events WHERE event_type = 'error'),
        p AS (SELECT user_id, event_id AS p_id, CAST(ts AS TIMESTAMP) AS p_ts
              FROM events WHERE event_type = 'purchase'),
        hz AS (SELECT least((SELECT max(p_ts) FROM p), (SELECT max(err_ts) FROM e))
                        - INTERVAL 3 HOUR AS h),
        j AS (SELECT e.err_id, e.err_ts, p.p_id, p.p_ts,
                     row_number() OVER (PARTITION BY e.err_id
                                        ORDER BY p.p_ts DESC, p.p_id DESC) AS rn
              FROM e JOIN p
                ON e.user_id = p.user_id
               AND p.p_ts <= e.err_ts
               AND p.p_ts >= e.err_ts - INTERVAL 30 MINUTE)
        SELECT err_id, p_id,
               CAST(floor(epoch(err_ts)) - floor(epoch(p_ts)) AS BIGINT) AS gap_sec
        FROM j, hz
        WHERE rn = 1
          AND floor(epoch(err_ts)) < floor(epoch(hz.h))
        ORDER BY err_id""")),

    Q(
      "q160_chained_stateful",
      "MULTIPLE STATEFUL OPERATORS in one streaming query (Spark 3.4+ " +
        "unlock, exercised on Spark 4): a watermarked stream-stream " +
        "inner join (q76's purchase↔click-within-the-hour) feeds a " +
        "DOWNSTREAM daily tumbling-window count — join state and window " +
        "state live in the same query, watermark propagating through " +
        "both. Append-mode windows only emit once the watermark passes " +
        "their end, so the oracle compares windows strictly below the " +
        "q158 horizon minus one window length; below that line the " +
        "per-day joined-pair counts are bit-exact vs the batch join + " +
        "time_bucket equivalent.",
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"event_id".as("p_id"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("c_id"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          $"p_user" === $"c_user" &&
            $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR"))
        val daily = joined
          .groupBy(window($"p_ts", "1 day"))
          .agg(count(lit(1)).as("n_pairs"))
          .select($"window.start".cast("timestamp_ntz").as("w_start"), $"n_pairs")
        val out = runToMemory(s, daily, "graft_mem_chained", "append",
          shufflePartitions = Some(8))
        val batchEv = graft.Tables.t(s, dir, "events")
        val hz = batchEv.groupBy()
          .agg(least(
            max(when($"event_type" === "purchase", $"ts")),
            max(when($"event_type" === "click", $"ts"))).as("m"))
          .select(($"m" - expr("INTERVAL 2 HOURS") - expr("INTERVAL 1 DAY"))
            .cast("timestamp_ntz").as("h"))
          .head().getAs[java.time.LocalDateTime](0)
        out.filter($"w_start" < lit(hz)).orderBy($"w_start")
      },
      Some("""
        WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                   FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'click'),
        hz AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                        - INTERVAL 2 HOUR - INTERVAL 1 DAY AS h),
        j AS (SELECT p.ts AS p_ts
              FROM p JOIN c
                ON p.user_id = c.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
        SELECT time_bucket(INTERVAL '1 day', p_ts) AS w_start,
               count(*) AS n_pairs
        FROM j, hz
        WHERE time_bucket(INTERVAL '1 day', p_ts) < hz.h
        GROUP BY 1
        ORDER BY w_start""")),

    Q(
      "q128_stream_incremental_dedup",
      "The daily dedup loop AS A STREAMING JOB: arriving documents " +
        "(doc_id ≡ 0 mod 10) stream in; each micro-batch is near-dup-" +
        "checked against the PERSISTED signature index (q119's kernel — " +
        "history never re-tokenized, old×old pairs structurally " +
        "excluded) inside foreachBatch, and then the batch's OWN " +
        "signatures are appended to the index, so a later batch sees " +
        "this one as history — the index-maintenance step that makes " +
        "the loop sustainable forever. foreachBatch is the right tool " +
        "because the dedup body (band join + distinct + exact-confirm " +
        "agg) is multi-stage batch logic per trigger, not a single " +
        "streaming-stateful operator — and foreachBatch is AT-LEAST-" +
        "once, so both sinks are keyed by batchId and OVERWRITTEN " +
        "(pairs to out/b<id>, signatures to idx/b<id>): a replayed " +
        "micro-batch rewrites its own subdirectories instead of " +
        "appending duplicates (cross-batch semantics asserted in " +
        "StreamingSpec with a two-batch MemoryStream drive). Oracle = " +
        "the exact-Jaccard pair set restricted to pairs touching an " +
        "arriving doc, same as q119.",
      (s, dir) => {
        import graft.operators.Dedup
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val idxRoot = graft.TempRoots
          .freshForDir("graft_sidx_stream", dir).toString
        Dedup.initSignatureIndex(docs.filter($"doc_id" % 10 =!= 0),
          idxRoot)
        val outRoot = graft.TempRoots
          .freshForDir("graft_sdedup_out", dir).toString
        val arriving = docsStream(s, dir).filter($"doc_id" % 10 === 0)
        val q = arriving.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              Dedup.incrementalNeardupPairs(s, idxRoot, batch, 0.8)
                .write.mode("overwrite").parquet(s"$outRoot/b$batchId")
              Dedup.addSignatureIndexBatch(batch, idxRoot, s"b$batchId")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        s.read.parquet(s"$outRoot/*").orderBy($"d1", $"d2")
      },
      Some(graft.operators.Dedup.jaccardOracle(0.8,
        "d1 % 10 = 0 OR d2 % 10 = 0"))),

    Q(
      "q234_stream_ivf_add",
      "CONTINUOUS ANN-INDEX MAINTENANCE — q233's incremental IVF add " +
        "AS A STANDING STREAM (the embedding twin of q128's streaming " +
        "signature-index append, closing the ingest loop the reference " +
        "runs forever): the codebook is trained and persisted once " +
        "from history (vec_id % 10 != 0); arriving vectors stream in " +
        "and each micro-batch is assigned against the RELOADED " +
        "codebook inside foreachBatch — a narrow batch-only " +
        "projection, no retrain, no history scan — and dynamic-" +
        "partition-overwritten into its own batch=<id> partitions of " +
        "the lists table (at-least-once replay rewrites, never " +
        "appends). The final answer queries the " +
        "merged index with the standard 8 probes: every arriving " +
        "vector's list is split-invariant (assignment depends only on " +
        "the persisted codebook), so the result is DETERMINISTIC " +
        "regardless of how the stream micro-batched — and identical " +
        "to q233's one-shot add (asserted in IvfIndexSpec).",
      (s, dir) => {
        import graft.operators.Similarity
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val root = graft.TempRoots
          .freshForDir("graft_ivf_stream", dir).toString
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        val arriving = embeddingsStream(s, dir)
          .filter($"vec_id" % 10 === 0)
          .select($"vec_id", $"embedding")
        val q = arriving.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              Similarity.addIvfBatch(batch, root, s"b$batchId")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        Similarity.knnIvfPersisted(s, root,
          e.filter($"vec_id" < 8), k = 5, nprobe = 2)
      },
      None),

    Q(
      "q242_stream_ks_monitor",
      "STREAMING DISTRIBUTION-DRIFT MONITOR — q240's two-sample KS test " +
        "run as a standing per-day gate over arriving purchases (the " +
        "online complement of q223's schema contract: that gate checks " +
        "STRUCTURE, this one checks SHAPE): a streaming aggregation " +
        "maintains (day, bucket) arm counts as its state — kilobytes " +
        "per day, bounded by the dollar-bucket domain, NOT by events — " +
        "and the drained counts feed the shared Experimentation." +
        "ksStats kernel per day (one definition with the batch test, so " +
        "monitor and test can never disagree on the statistic). Counts " +
        "are split-invariant sums, so the per-day verdicts are " +
        "bit-identical however the stream micro-batched — which is what " +
        "lets a STREAMING query keep a bit-exact DuckDB oracle.",
      (s, dir) => {
        import graft.operators.Experimentation
        import s.implicits._
        val counts = eventsStream(s, dir)
          .filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("day"),
            expr("cast(round(value * 100) as bigint) div 100").as("bucket"))
          .agg(
            sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("c1"),
            sum(when($"user_id" % 2 === 1, 1L).otherwise(0L)).as("c2"))
        val drained = runToMemory(s, counts, "graft_mem_ks_monitor",
          "complete", shufflePartitions = Some(8))
        Experimentation.ksStats(drained, Seq("day")).orderBy($"day")
      },
      Some("""
        WITH p AS (
          SELECT CAST(ts AS DATE) AS day, user_id % 2 AS arm,
                 CAST(round(value * 100) AS BIGINT) // 100 AS bucket
          FROM events WHERE event_type = 'purchase'),
        g AS (
          SELECT day, bucket,
                 CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
          FROM p GROUP BY 1, 2),
        cum AS (
          SELECT day, bucket,
                 sum(c1) OVER (PARTITION BY day ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS f1,
                 sum(c2) OVER (PARTITION BY day ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS f2,
                 sum(c1) OVER (PARTITION BY day) AS n1,
                 sum(c2) OVER (PARTITION BY day) AS n2
          FROM g),
        d AS (
          SELECT day, bucket, n1, n2, abs(f1 * n2 - f2 * n1) AS diff,
                 max(abs(f1 * n2 - f2 * n1)) OVER (PARTITION BY day) AS dmax
          FROM cum)
        SELECT day, CAST(min(n1) AS BIGINT) AS n1,
               CAST(min(n2) AS BIGINT) AS n2,
               CAST(CASE WHEN min(n1) = 0 OR min(n2) = 0 THEN NULL
                    ELSE (min(dmax) * 1000000) // (min(n1) * min(n2)) END
                 AS BIGINT) AS d_ppm,
               CAST(CASE WHEN min(n1) = 0 OR min(n2) = 0 THEN NULL
                    ELSE min(CASE WHEN diff = dmax THEN bucket END) END
                 AS BIGINT) AS d_at_bucket,
               (min(n1) > 0 AND min(n2) > 0 AND
                CAST(min(dmax) AS HUGEINT) * min(dmax) * 1000000 >
                1844164 * CAST(min(n1) AS HUGEINT) * min(n2)
                        * (min(n1) + min(n2))) AS ks_reject_95
        FROM d GROUP BY day ORDER BY day""")),

    Q(
      "q257_stream_conformal_monitor",
      "STREAMING CONFORMAL-COVERAGE MONITOR — q252's prediction " +
        "interval deployed as a standing per-day guardrail (the model-" +
        "quality twin of q242's distribution gate): the per-channel " +
        "mean model and the exact p90 residual radius are FITTED BY " +
        "THE SHARED FeaturePlatform.conformalParts (one definition " +
        "with the batch test — monitor and test cannot disagree), " +
        "broadcast onto the arriving purchase stream as a " +
        "stream-static join, and a streaming aggregation keeps per-day " +
        "covered/total counters — state bounded by the day domain. " +
        "Coverage collapsing below the 9000 bp target is the " +
        "drift-has-broken-the-model alarm. Counts are split-invariant, " +
        "so the drained per-day ledger is bit-exact against the batch " +
        "oracle however the stream micro-batched.",
      (s, dir) => {
        val (test, radius) = conformalMonitorStream(s, dir)
        import s.implicits._
        val drained = runToMemory(s, test, "graft_mem_conformal",
          "complete", shufflePartitions = Some(8))
        drained.select($"day", $"n_test", $"n_covered",
          expr("(n_covered * 10000) div n_test").as("coverage_bp"),
          lit(radius).as("q90_cents"))
          .orderBy($"day")
      },
      Some("""
        WITH p AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(json_extract(props, 'k') AS BIGINT) // 25 AS ch,
                 CAST(round(value * 100) AS BIGINT) AS y
          FROM events WHERE event_type = 'purchase'),
        model AS (
          SELECT ch, CAST(sum(y) // count(*) AS BIGINT) AS pred
          FROM p WHERE d < DATE '2024-01-11' GROUP BY 1),
        resid AS (
          SELECT abs(p.y - m.pred) AS r
          FROM p JOIN model m USING (ch)
          WHERE p.d >= DATE '2024-01-11' AND p.d < DATE '2024-01-21'),
        cdf AS (
          SELECT r, sum(count(*)) OVER (ORDER BY r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(count(*)) OVER () AS tt
          FROM resid GROUP BY r),
        q90 AS (
          SELECT CAST(min(CASE WHEN cum * 10 >= tt * 9 THEN r END)
            AS BIGINT) AS q90 FROM cdf)
        SELECT p.d AS day, CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs(p.y - m.pred) <= q90.q90
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
               CAST((sum(CASE WHEN abs(p.y - m.pred) <= q90.q90
                              THEN 1 ELSE 0 END) * 10000) // count(*)
                 AS BIGINT) AS coverage_bp,
               q90.q90 AS q90_cents
        FROM p JOIN model m USING (ch), q90
        WHERE p.d >= DATE '2024-01-21'
        GROUP BY p.d, q90.q90 ORDER BY day""")),

    Q(
      "q174_stream_shard_emit",
      "CONTINUOUS SHARD EMIT — arriving documents streamed straight " +
        "into training-shard directories (TrainingShards' last mile as " +
        "a standing job): per micro-batch each doc's shard is the md5 " +
        "HASH-MOD assignment — streaming-safe because it is stable per " +
        "document WITHOUT the global rank a batch run can afford " +
        "(q125's rank-mod round robin needs the whole corpus; hash-mod " +
        "trades the perfect ±1 balance for per-row independence), the " +
        "digit drawn as a hex-char position so both engines compute it " +
        "from the same md5 string — then written partitionBy(shard_id) " +
        "under a batchId-keyed dir, q128's replay-safe overwrite (a " +
        "replayed batch rewrites its own subdirectory, never appends " +
        "duplicates). Audit: per-shard doc count + char mass across " +
        "everything emitted; oracle recomputes the assignment " +
        "relationally.",
      (s, dir) => {
        import s.implicits._
        val outRoot = graft.TempRoots
          .freshForDir("graft_shard_stream", dir).toString
        val arriving = docsStream(s, dir).filter($"doc_id" % 10 === 0)
        val q = arriving.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              batch
                .withColumn("h",
                  md5(concat(lit("seed42:"), col("doc_id").cast("string"))))
                .withColumn("shard_id", expr(
                  "CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) % 8 AS INT)"))
                .drop("h")
                .write.partitionBy("shard_id").mode("overwrite")
                .parquet(s"$outRoot/b$batchId")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        s.read.parquet(s"$outRoot/*")
          .groupBy($"shard_id")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
          .orderBy($"shard_id")
      },
      Some("""
        WITH a AS (
          SELECT doc_id, n_chars,
                 CAST((strpos('0123456789abcdef',
                              substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 1))
                       - 1) % 8 AS INTEGER) AS shard_id
          FROM documents WHERE doc_id % 10 = 0)
        SELECT shard_id, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM a GROUP BY shard_id
        ORDER BY shard_id""")),

    Q(
      "q182_stream_timer_sessions",
      "EVENT-TIME TIMER sessionization via transformWithState — the v2 " +
        "state API's timer surface (q108 covered its state surface): " +
        "each user's events buffer in ListState with one armed timer at " +
        "last_ts + 30 min; when the WATERMARK passes the timer, the " +
        "buffer splits into 30-min-gap sessions and every " +
        "watermark-proven-closed session emits (then leaves the store — " +
        "state is bounded by OPEN sessions). This is the " +
        "timeout-emission pattern session_window (q72) implements " +
        "internally, exposed for custom logic. Determinism: like " +
        "q158's eviction rows, whether a TAIL session has fired yet is " +
        "an engine race, so both engines compare only sessions ending " +
        "below max(ts) - 90 min (watermark delay + gap + margin); below " +
        "that line the timer MUST have fired and the result is " +
        "bit-exact vs the batch gaps-and-islands oracle (q143's SQL).",
      (s, dir) => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val ev = eventsStream(s, dir)
          .select($"user_id", $"ts", $"value")
          .withWatermark("ts", "30 minutes")
          .as[(Long, java.sql.Timestamp, Double)]
        val sess = ev.groupByKey(_._1)
          .transformWithState(new TimerSessionProcessor,
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "sess_start", "sess_end", "n_events", "sum_value")
        val out = runToMemory(s, sess, "graft_mem_timer_sessions", "append",
          shufflePartitions = Some(8),
          extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        val hz = Tables.t(s, dir, "events").groupBy()
          .agg((max($"ts") - expr("INTERVAL 90 MINUTES"))
            .cast("timestamp").as("h"))
          .head().getTimestamp(0)
        out.filter($"sess_end" < lit(hz))
          .select($"user_id",
            $"sess_start".cast("timestamp_ntz").as("sess_start"),
            $"sess_end".cast("timestamp_ntz").as("sess_end"),
            $"n_events", round($"sum_value", 2).as("sum_value"))
          .orderBy($"user_id", $"sess_start")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 lag(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
          FROM events),
        f AS (SELECT *, CASE WHEN prev_ts IS NULL
                               OR ts > prev_ts + INTERVAL '30 minutes'
                             THEN 1 ELSE 0 END AS new_s
              FROM e),
        g AS (SELECT *, sum(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) AS sess_no
              FROM f),
        hz AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 90 MINUTE AS h
               FROM events)
        SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM g, hz
        GROUP BY user_id, sess_no, hz.h
        HAVING max(ts) < hz.h
        ORDER BY user_id, sess_start""")),

    Q(
      "q223_stream_contract_gate",
      "STREAMING DATA-CONTRACT GATE — q220's constraint suite standing " +
        "guard on the live stream, with enforcement: per micro-batch, " +
        "every event is classified against the ROW-LEVEL contract " +
        "(first-match precedence, q129's funnel rule: unknown " +
        "event_type -> value in the out-of-calibration tail >= 990 -> " +
        "props k outside [0, 96) -> ts off the 2024 epoch), accepted " +
        "rows land in the promoted dir and violators in a " +
        "reason-tagged QUARANTINE dir (q171's parse quarantine " +
        "generalized to semantic violations) — both under batchId-" +
        "keyed subdirs, q128's replay-safe overwrite. The ledger reads " +
        "back what was WRITTEN (never recomputed), so it also proves " +
        "delivery; the oracle recomputes the classification " +
        "relationally. The tightened value/props thresholds are the " +
        "point of a gate demo: a contract that never fires proves " +
        "nothing about the quarantine path.",
      (s, dir) => {
        import s.implicits._
        val outRoot = graft.TempRoots
          .freshForDir("graft_contract_stream", dir).toString
        val reasonCol =
          when(!col("event_type").isin(
            "click", "view", "purchase", "signup", "error"), "bad_type")
            .when(col("value") >= 990, "bad_value_tail")
            .when(expr("cast(get_json_object(props, '$.k') as bigint)")
              .isNull ||
              !expr("cast(get_json_object(props, '$.k') as bigint)")
                .between(0, 95), "bad_props_band")
            .when(year(col("ts")) =!= 2024, "bad_epoch")
            .otherwise("accepted")
        val q = eventsStream(s, dir).writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              val checked = batch.withColumn("reason", reasonCol)
              checked.filter($"reason" === "accepted").drop("reason")
                .write.mode("overwrite")
                .parquet(s"$outRoot/accepted/b$batchId")
              checked.filter($"reason" =!= "accepted")
                .write.mode("overwrite")
                .parquet(s"$outRoot/quarantine/b$batchId")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val accepted = s.read.parquet(s"$outRoot/accepted/*")
        // an all-clean batch writes only _SUCCESS into its quarantine
        // subdir; pin the schema so the read can't fail on inference
        val qSchema = org.apache.spark.sql.types.StructType(
          accepted.schema.fields :+ org.apache.spark.sql.types
            .StructField("reason", org.apache.spark.sql.types.StringType))
        val quarantined = s.read.schema(qSchema)
          .parquet(s"$outRoot/quarantine/*")
        accepted.select(lit("accepted").as("reason"))
          .unionByName(quarantined.select($"reason"))
          .groupBy($"reason").agg(count(lit(1)).as("n_rows"))
          .orderBy($"reason")
      },
      Some("""
        WITH r AS (
          SELECT CASE
            WHEN event_type NOT IN
              ('click','view','purchase','signup','error') THEN 'bad_type'
            WHEN value >= 990 THEN 'bad_value_tail'
            WHEN TRY_CAST(json_extract_string(props, 'k') AS BIGINT) IS NULL
              OR TRY_CAST(json_extract_string(props, 'k') AS BIGINT)
                 NOT BETWEEN 0 AND 95 THEN 'bad_props_band'
            WHEN year(ts) <> 2024 THEN 'bad_epoch'
            ELSE 'accepted' END AS reason
          FROM events)
        SELECT reason, CAST(count(*) AS BIGINT) AS n_rows
        FROM r GROUP BY reason ORDER BY reason""")),

    Q(
      "q264_stream_heavy_hitters",
      "STREAMING HEAVY HITTERS via a sharded SPACE-SAVING sketch in " +
        "transformWithState: events shard by user_id % 8, each shard " +
        "maintains a capacity-64 SpaceSaving summary in RocksDB-backed " +
        "ValueState (constant state per shard FOREVER — the O(1)-memory " +
        "alternative to q74's per-key aggregate when the key domain is " +
        "unbounded), and because an item's entire count lives in its " +
        "one shard, the post-drain merge is a plain union + top-10 with " +
        "NO cross-shard error arithmetic. Output rows carry est and " +
        "err, so est-err is a certified lower bound on the true count " +
        "and StreamingSpec brackets every row against the exact batch " +
        "count (plus the summary-membership guarantee for any user " +
        "above its shard's N/64 threshold). No SQL oracle: the summary " +
        "content depends on the sketch's eviction path, which DuckDB " +
        "cannot replay; the spec pins the guarantees instead. At " +
        "100 TB: shards scale with shuffle partitions, state stays " +
        "64 entries each, and the same drain+merge runs per trigger " +
        "for a live 'top accounts now' dashboard.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val perShard = eventsStream(s, dir)
          .select(($"user_id" % 8).as("shard"), $"user_id", unix_micros($"ts"))
          .as[(Long, Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new SpaceSavingProcessor(64), TimeMode.None(), OutputMode.Update())
          .toDF("shard", "upd_seq", "user_id", "est", "err", "shard_last_us")
        val out = runToMemory(s, perShard, "graft_mem_heavy", "update",
          shufflePartitions = Some(8),
          extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
        // update mode re-emits the summary per batch; keep each shard's
        // final (highest-seq) emission, then union-merge and take top-10
        out.withColumn("mx",
            max($"upd_seq").over(Window.partitionBy($"shard")))
          .filter($"upd_seq" === $"mx")
          .select($"user_id", $"est", $"err",
            ($"est" - $"err").as("count_min"), $"shard", $"shard_last_us")
          .orderBy($"est".desc, $"user_id").limit(10)
      },
      None),

    Q(
      "q374_stream_trending_topk",
      "STREAMING TRENDING TOP-K — q366's dyadic-decay trending as a " +
        "standing query: clicks stream through transformWithState " +
        "keyed by channel, each key's DecayedWindowProcessor state " +
        "holds ONLY the last 10 (day, exact count) entries (aged days " +
        "evicted on every advance — O(window) state per key forever, " +
        "q264's constant-state discipline via event-time eviction " +
        "instead of sketch capacity), and the decay weights attach at " +
        "READ time against the drain's global anchor day. Keeping " +
        "counts exact in state and decaying at read is what makes the " +
        "streamed score BIT-EQUAL to the batch 10-day formula " +
        "(StreamingSpec asserts it) — a running decayed sum would " +
        "truncate shifted low bits differently than the per-term " +
        "batch expression and drift by ulps of the integer scale. " +
        "No SQL oracle: the emission sequence is the stream's; the " +
        "spec pins stream-equals-batch and the state bound instead. " +
        "At 100 TB: keys scale with shuffle partitions, state is 10 " +
        "rows per key, and the same drain powers a live 'trending " +
        "now' board per trigger.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import s.implicits._
        val perCh = eventsStream(s, dir)
          .filter($"event_type" === "click")
          .select(
            expr("cast(get_json_object(props, '$.k') as bigint) div 25")
              .as("ch"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(new DecayedWindowProcessor(10),
            TimeMode.None(), OutputMode.Update())
          .toDF("channel", "upd_seq", "day", "cnt")
        val out = runToMemory(s, perCh, "graft_mem_trend", "update",
          shufflePartitions = Some(4),
          extraConfs = Map(
            "spark.sql.streaming.stateStore.providerClass" ->
              ("org.apache.spark.sql.execution.streaming.state." +
                "RocksDBStateStoreProvider")))
        val fin = out.withColumn("mx",
            max($"upd_seq").over(Window.partitionBy($"channel")))
          .filter($"upd_seq" === $"mx")
        val anchor = broadcast(fin.agg(max($"day").as("dmax")))
        fin.crossJoin(anchor)
          .filter($"dmax" - $"day" <= 9)
          .groupBy($"channel")
          .agg(sum($"cnt").as("raw_cnt"),
            sum(expr("cnt * (1024 div shiftleft(1, " +
              "cast(dmax - day as int)))")).as("score_x1024"),
            max($"day").as("last_day"))
          .withColumn("rank_trend", row_number().over(
            Window.orderBy($"score_x1024".desc, $"channel"))
            .cast("long"))
          .select($"rank_trend", $"channel", $"raw_cnt",
            $"score_x1024", $"last_day")
          .orderBy($"rank_trend")
      },
      None),

    Q(
      "q313_stream_index_maintenance",
      "SELF-MAINTAINING STREAMING ANN INDEX — q234's standing add loop " +
        "with q305's compaction wired in as an AUTOMATIC maintenance " +
        "policy: each micro-batch lands via the idempotent " +
        "addIvfBatch, and when the accumulated batch=<key> partition " +
        "count passes the threshold (2 here; hundreds in production) " +
        "the foreachBatch hook folds them into base with " +
        "compactIvfLists — the complete lifecycle a forever-running " +
        "ingest daemon (the reference's exact shape) needs: add, " +
        "accumulate, compact, repeat, with no operator intervention " +
        "and no growth in file count over time. Replay safety " +
        "composes from the parts: an uncommitted batch replays into " +
        "its own partitions (dynamic overwrite), a batch compacted " +
        "before its replay is a manifest no-op, and compaction " +
        "preserves the row multiset — so the final index equals the " +
        "one-shot assignment REGARDLESS of where the micro-batch " +
        "boundaries or compactions fell (IvfIndexSpec asserts " +
        "bit-equality with q233's answer and that the post-stream " +
        "batch-partition count respects the policy). Output is the " +
        "standard 8-probe search over the merged, compacted index.",
      (s, dir) => {
        import graft.operators.Similarity
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val root = graft.TempRoots
          .freshForDir("graft_ivf_autocmp", dir).toString
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        def batchDirs(): Int = {
          val lists = new java.io.File(
            Similarity.ivfListsPath(s, root).stripPrefix("file:"))
          lists.listFiles().count { f =>
            f.isDirectory && f.getName.startsWith("batch=") &&
              f.getName != "batch=base"
          }
        }
        val arriving = embeddingsStream(s, dir)
          .filter($"vec_id" % 10 === 0)
          .select($"vec_id", $"embedding")
        val q = arriving.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              Similarity.addIvfBatch(batch, root, s"b$batchId")
              if (batchDirs() > 2) { Similarity.compactIvfLists(s, root); () }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        Similarity.knnIvfPersisted(s, root,
          e.filter($"vec_id" < 8), k = 5, nprobe = 2)
      },
      None),

    Q(
      "q325_stream_signature_maintenance",
      "SELF-MAINTAINING STREAMING SIGNATURE INDEX — q313's lifecycle " +
        "closure applied to the DEDUP index family: q128's daily loop " +
        "(dedup each arriving micro-batch against the persisted " +
        "signature index, then append the batch's own signatures) with " +
        "q323's compaction wired in as the automatic maintenance " +
        "policy (subdirectory count > 1 → fold into base mid-stream, so " +
        "the THIRD batch's dedup genuinely reads the folded index). " +
        "Unlike q128's single-trigger drive, the arriving docs are " +
        "range-split into THREE files consumed one per micro-batch " +
        "(maxFilesPerTrigger=1), so the policy genuinely fires between " +
        "batches and later batches dedup against the COMPACTED index. " +
        "The output is split-invariant by construction — a pair " +
        "surfaces exactly once whenever its later doc's batch runs, " +
        "compaction preserves the signature multiset, and a folded " +
        "key's replay is a manifest no-op — so the full q119 Jaccard " +
        "oracle applies UNCHANGED (the compaction is invisible in the " +
        "answer, which is exactly the property worth pinning " +
        "bit-exactly). IncrementalDedupSpec asserts the policy bounded " +
        "the subdirectory count after the stream.",
      (s, dir) => {
        import graft.operators.Dedup
        import s.implicits._
        val docs = Tables.t(s, dir, "documents")
        val root = graft.TempRoots
          .freshForDir("graft_sidx_auto", dir).toString
        Dedup.initSignatureIndex(docs.filter($"doc_id" % 10 =!= 0),
          root)
        val outRoot = graft.TempRoots
          .freshForDir("graft_sdedup_auto_out", dir).toString
        // three deterministic arrival files -> three micro-batches
        val feed = graft.TempRoots
          .freshForDir("graft_sidx_auto_feed", dir).toString
        docs.filter($"doc_id" % 10 === 0)
          .repartitionByRange(3, $"doc_id")
          .write.mode("overwrite").parquet(feed)
        def subdirs(): Int = new java.io.File(graft.sink.GenDir
          .resolve(s, root).get.stripPrefix("file:")).listFiles()
          .count(f => f.isDirectory && f.getName != "base" &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
        // schema from the feed's own footer (the round-7 rule: never
        // hand a file stream a schema the footer doesn't confirm)
        val arriving = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = arriving.writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              Dedup.incrementalNeardupPairs(s, root, batch, 0.8)
                .write.mode("overwrite").parquet(s"$outRoot/b$batchId")
              Dedup.addSignatureIndexBatch(batch, root, s"b$batchId")
              if (subdirs() > 1) { Dedup.compactSignatureIndex(s, root); () }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        s.read.parquet(s"$outRoot/*").orderBy($"d1", $"d2")
      },
      Some(graft.operators.Dedup.jaccardOracle(0.8,
        "d1 % 10 = 0 OR d2 % 10 = 0"))),

    Q(
      "q402_stream_kmv_distinct",
      "STREAMING KMV DISTINCT SKETCH — q399's k-minimum-values " +
        "signature maintained as PER-KEY STREAMING STATE (the " +
        "property that makes KMV streaming-native: merging the k " +
        "smallest distinct hashes is order- and batching-insensitive, " +
        "so the drained state is BIT-EQUAL to the batch signature — " +
        "the q374 batch-equality discipline applied to the sketch " +
        "family): per event type, flatMapGroupsWithState keeps the " +
        "64 smallest distinct portable hashes (O(k) state per key " +
        "FOREVER — the standing 'distinct users so far' monitor a " +
        "naive streaming countDistinct grows without bound to " +
        "answer), update-mode re-emission per batch, last emission " +
        "per key = converged signature. Oracle: the batch KMV " +
        "formula on the same hashes — signature size, k-th minimum " +
        "and the (k-1)*M div h_k estimate all bit-exact. 100 TB: " +
        "state is 64 longs per key regardless of stream length.",
      (s, dir) => {
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        import s.implicits._
        val k = 64
        val perType = eventsStream(s, dir)
          .filter($"event_type".isin("click", "purchase"))
          .select($"event_type",
            (($"user_id" * 2654435761L + 987654321L) % 2147483647L)
              .as("h"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            OutputMode.Update, GroupStateTimeout.NoTimeout)(
            (t: String, rows: Iterator[(String, Long)],
             state: GroupState[(Seq[Long], Long)]) => {
              val (sig0, seen0) =
                state.getOption.getOrElse((Seq.empty[Long], 0L))
              var seen = seen0
              val buf = scala.collection.mutable.TreeSet[Long](sig0: _*)
              rows.foreach { r =>
                seen += 1
                buf += r._2
                if (buf.size > k) buf -= buf.last
              }
              val sig = buf.toSeq
              state.update((sig, seen))
              val est =
                if (sig.size < k) sig.size.toLong
                else (k - 1).toLong * 2147483647L / sig.last
              Iterator((t, seen, sig.size.toLong, sig.last, est))
            })
          .toDF("t", "rows_seen", "n_sig", "kth", "est")
        val out = runToMemory(s, perType, "graft_mem_kmv", "update",
          shufflePartitions = Some(2))
        import org.apache.spark.sql.expressions.Window
        out.withColumn("rn", row_number().over(
            Window.partitionBy($"t").orderBy($"rows_seen".desc)))
          .filter($"rn" === 1)
          .select($"t", $"n_sig", $"kth", $"est")
          .orderBy($"t")
      },
      Some("""
        WITH hs AS (
          SELECT DISTINCT event_type AS t,
                 (user_id * 2654435761 + 987654321) % 2147483647 AS h
          FROM events WHERE event_type IN ('click', 'purchase')),
        top AS (
          SELECT t, h FROM (
            SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h)
              AS rk FROM hs)
          WHERE rk <= 64)
        SELECT t, CAST(count(*) AS BIGINT) AS n_sig,
               CAST(max(h) AS BIGINT) AS kth,
               CASE WHEN count(*) < 64 THEN CAST(count(*) AS BIGINT)
                    ELSE CAST(CAST(63 AS BIGINT) * 2147483647
                      // max(h) AS BIGINT) END AS est
        FROM top GROUP BY t ORDER BY t""")),

    Q(
      "q413_stream_kll_percentiles",
      "STREAMING PERCENTILE MONITOR ON PER-KEY KLL STATE — q410's " +
        "quantile sketch as a STANDING query (the q402 discipline " +
        "applied to the compactor family): per event type, " +
        "flatMapGroupsWithState holds ONE serialized KLL sketch " +
        "(k=256, O(k log n/k) bytes per key FOREVER — the standing " +
        "'p99 so far' a naive streaming percentile grows without " +
        "bound to answer), each batch deserializes, inserts, " +
        "re-serializes and re-emits. Unlike KMV (q402) the drained " +
        "state is NOT bit-equal to the batch build — compactor " +
        "sketches are merge-shape-dependent and the batch boundary " +
        "IS a merge shape — which is exactly why the certificate " +
        "matters: errBound accumulates through every batch, and the " +
        "drained sketch's p50/p90/p99 are graded IN-ROW against the " +
        "exact batch-side rank intervals under that carried bound " +
        "(tie-aware, q410's R<=/R< form). Output is batching-shape-" +
        "stable: the certificate verdicts and exact counting-CDF " +
        "values, never the raw estimates. 100 TB: state is kilobytes " +
        "per key; the grading scan is the audit, not the operator.",
      (s, dir) => {
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        import s.implicits._
        import graft.catalyst.QuantileSketch
        val perType = eventsStream(s, dir)
          .filter($"event_type".isin("click", "purchase"))
          .select($"event_type",
            expr("cast(round(value * 1000000) as bigint)").as("vm"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            OutputMode.Update, GroupStateTimeout.NoTimeout)(
            (t: String, rows: Iterator[(String, Long)],
             state: GroupState[Array[Byte]]) => {
              val sk = state.getOption
                .map(QuantileSketch.deserialize)
                .getOrElse(new QuantileSketch.Sketch(256))
              rows.foreach(r => sk.insert(r._2))
              val bytes = sk.serialize()
              state.update(bytes)
              Iterator((t, sk.n, bytes))
            })
          .toDF("t", "rows_seen", "sk")
        val out = runToMemory(s, perType, "graft_mem_kll", "update",
          shufflePartitions = Some(2))
        import org.apache.spark.sql.expressions.Window
        val last = out.withColumn("rn", row_number().over(
            Window.partitionBy($"t").orderBy($"rows_seen".desc)))
          .filter($"rn" === 1)
          .select($"t", $"sk").collect()
        val probes = Seq(50L, 90L, 99L)
        val graded = last.flatMap { r =>
          val sk = QuantileSketch.deserialize(r.getAs[Array[Byte]](1))
          probes.map { p =>
            val tgt = math.max(1L, p * sk.n / 100L)
            (r.getString(0), p, tgt, sk.quantileAtRank(tgt),
              sk.errBound, sk.n)
          }
        }.toSeq
        val pf = graded
          .toDF("t", "pct", "target_rank", "est", "err_bound", "n_sk")
        val ev = graft.Tables.t(s, dir, "events")
          .filter($"event_type".isin("click", "purchase"))
          .select($"event_type".as("t"),
            expr("cast(round(value * 1000000) as bigint)").as("vm"))
        val ranks = ev.join(broadcast(pf), Seq("t"))
          .groupBy($"t", $"pct")
          .agg(count(lit(1)).as("n_batch"),
            sum(($"vm" <= $"est").cast("long")).as("r_le"),
            sum(($"vm" < $"est").cast("long")).as("r_lt"))
        val wCum = Window.partitionBy($"t").orderBy($"vm")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = ev.groupBy($"t", $"vm").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum($"cnt").over(wCum))
        val exact = pf.join(cum, Seq("t"))
          .filter($"cum" >= $"target_rank")
          .groupBy($"t", $"pct")
          .agg(min($"vm").as("exact_value_micros"))
        pf.join(ranks, Seq("t", "pct")).join(exact, Seq("t", "pct"))
          .select($"t", $"pct", $"n_sk", $"n_batch",
            ($"n_sk" === $"n_batch").cast("long")
              .as("stream_saw_every_row"),
            $"exact_value_micros",
            ($"r_le" >= $"target_rank" - $"err_bound" &&
              $"r_lt" <= $"target_rank" + $"err_bound" - 1L)
              .cast("long").as("within_certificate"))
          .orderBy($"t", $"pct")
      },
      None),

    Q(
      "q418_stream_delete_maintenance",
      "STREAMING DELETE MAINTENANCE — the q415 tombstone lifecycle " +
        "run as a STANDING takedown feed against the self-maintaining " +
        "index (q313's loop gains the delete verb, completing " +
        "add/compact/DELETE in streaming form): the arriving split " +
        "lands via q313's add loop; then a kill feed (q415's " +
        "decontamination slice, range-split into TWO files consumed " +
        "one per micro-batch) drives foreachBatch deleteIvfVectors " +
        "with a SCHEDULED maintenance fold (one compaction slot in " +
        "this fixture window — production compacts nightly, not per " +
        "batch) that fires deterministically after the first delete " +
        "micro-batch, so the drained index holds BOTH delete states " +
        "at once: batch-1 kills physically dropped (the fold's drop " +
        "count self-checked against the pending set it applied), " +
        "batch-2 kills pending as logical tombstones. Graded: the " +
        "drained search " +
        "BIT-EQUALS the one-shot batch lifecycle on a separate root " +
        "(same history-trained codebook + one add + one delete — " +
        "micro-batch boundaries, mid-stream compaction, and " +
        "logical-vs-physical state are all invisible in the answer, " +
        "which is the composed replay-safety theorem worth pinning), " +
        "killed ids absent, the mid-stream fold dropped exactly the " +
        "first batch's rows, and a final compaction changes nothing " +
        "but physical state. n_killed is recomputed independently " +
        "by the oracle. 100 TB: deletes are O(|kill|) metadata " +
        "appends on the standing loop; the physical drop piggybacks " +
        "on compactions the loop already runs.",
      (s, dir) => {
        import graft.operators.Similarity
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val root = graft.TempRoots
          .freshForDir("graft_ivf_sdel", dir).toString
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        // phase 1: q313's standing add loop (one batch here — the
        // split-invariance of adds is q313's own graded claim)
        val adds = embeddingsStream(s, dir)
          .filter($"vec_id" % 10 === 0)
          .select($"vec_id", $"embedding")
        val qa = adds.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) => Similarity.addIvfBatch(b, root, s"a$id")
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try qa.awaitTermination() finally qa.stop()
        // the takedown feed: two deterministic arrival files
        val kill = graft.operators.Dedup.contaminatedTrainDocIds(s, dir)
          .filter($"doc_id" % 7 === 5)
          .join(e.select($"vec_id"), $"doc_id" === $"vec_id", "left_semi")
          .select($"doc_id".as("vec_id"))
        val killedIds = kill.as[Long].collect().toSet
        val feed = graft.TempRoots
          .freshForDir("graft_ivf_sdel_feed", dir).toString
        kill.repartitionByRange(2, $"vec_id")
          .write.mode("overwrite").parquet(feed)
        val rowsPreDelete =
          s.read.parquet(Similarity.ivfListsPath(s, root)).count()
        // the maintenance fold runs on a SCHEDULE (one slot in this
        // fixture window — production compacts nightly, not per batch),
        // so it fires after the FIRST delete micro-batch and the second
        // batch's tombstones stay logical at drain — the drained index
        // then holds BOTH delete states at once, which is the point
        var foldUsed = false
        var midFoldExact = false
        val dels = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val qd = dels.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            Similarity.deleteIvfVectors(b, root)
            val pending = Similarity.ivfTombstones(s, root).count()
            // the scheduled slot fires after the FIRST delete batch
            // that carried any kills — gating on a count threshold
            // would make the graded booleans depend on how the range
            // split happened to distribute ids across the two files
            if (!foldUsed && pending > 0) {
              val before =
                s.read.parquet(Similarity.ivfListsPath(s, root)).count()
              Similarity.compactIvfLists(s, root)
              val after =
                s.read.parquet(Similarity.ivfListsPath(s, root)).count()
              midFoldExact = before - after == pending
              foldUsed = true
            }
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try qd.awaitTermination() finally qd.stop()
        val probes = e.filter($"vec_id" % 50 === 7)
        // one physical search per index state: strings and the id set
        // project from the same collected rows
        def searchRows(r: String): Array[org.apache.spark.sql.Row] =
          Similarity.adcSearchPersisted(s, r, probes, k = 5, nprobe = 4)
            .collect()
        def strs(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
          rows.toSeq.map(_.toString).sorted
        def search(r: String): Seq[String] = strs(searchRows(r))
        val streamedRows = searchRows(root)
        val streamed = strs(streamedRows)
        val killedAbsent = !streamedRows.exists(r =>
          killedIds.contains(r.getAs[Long]("vec_id")))
        // the one-shot batch reference: SAME history-trained books (the
        // deterministic trainer on the same slice reproduces them
        // bit-identically, so the build copies root's persisted books
        // instead of re-running the Lloyd scans — IvfIndexSpec pins the
        // equivalence), one add, one delete — boundaries and
        // compactions must be invisible
        val ref = graft.TempRoots
          .freshForDir("graft_ivf_sdel_ref", dir).toString
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), ref,
          nlist = 16, iters = 2, copyCodebooksFrom = Some(root))
        Similarity.addIvfBatch(e.filter($"vec_id" % 10 === 0), ref, "all")
        Similarity.deleteIvfVectors(
          killedIds.toSeq.sorted.toDF("vec_id"), ref)
        val batchRef = search(ref)
        // final compaction applies the pending batch-2 tombstones
        val pendingAtDrain = Similarity.ivfTombstones(s, root).count()
        Similarity.compactIvfLists(s, root)
        val rowsFinal =
          s.read.parquet(Similarity.ivfListsPath(s, root)).count()
        Seq((killedIds.size.toLong,
          streamed == batchRef,
          killedAbsent,
          midFoldExact,
          pendingAtDrain > 0L,
          rowsPreDelete - rowsFinal == killedIds.size.toLong,
          search(root) == streamed))
          .toDF("n_killed", "stream_equals_batch", "killed_absent",
            "mid_stream_fold_exact", "tombstones_pending_at_drain",
            "final_drop_exact", "post_compact_search_unchanged")
      },
      Some(s"""
        WITH toks AS (SELECT doc_id,
               ${graft.operators.Dedup.duckTokens} AS t FROM documents),
        shng AS (SELECT doc_id,
               ${graft.operators.Dedup.duckShingles} AS sh FROM toks),
        ev AS (SELECT DISTINCT unnest(sh) AS h FROM shng
               WHERE doc_id % 10 = 0),
        cont AS (SELECT DISTINCT u.doc_id
                 FROM (SELECT doc_id, unnest(sh) AS h FROM shng
                       WHERE doc_id % 10 <> 0) u
                 JOIN ev ON u.h = ev.h),
        kill AS (SELECT c.doc_id FROM cont c
                 JOIN embeddings e ON c.doc_id = e.vec_id
                 WHERE c.doc_id % 7 = 5)
        SELECT CAST(count(*) AS BIGINT) AS n_killed,
               true AS stream_equals_batch,
               true AS killed_absent,
               true AS mid_stream_fold_exact,
               true AS tombstones_pending_at_drain,
               true AS final_drop_exact,
               true AS post_compact_search_unchanged
        FROM kill""")),

    Q(
      "q426_stream_snapshot_commits",
      "EXACTLY-ONCE STREAMING SNAPSHOT PUBLICATION — q424's versioned " +
        "store driven by a stream: each micro-batch commits ONE new " +
        "snapshot version through the batch-id-keyed manifest " +
        "(TrainingShards.writeVersion(batchId=...)), which is what " +
        "turns foreachBatch's at-least-once replay into exactly-once " +
        "publication — a REPLAYED batch resolves to its already-" +
        "committed version and swaps in identical rebuilt data (a " +
        "staged build + rename pair, never a torn visible directory) " +
        "instead of minting a new snapshot (IdempotentParquet" +
        "Sink's batch-keyed discipline lifted to versioned snapshots; " +
        "the manifest row, not the data write, is the commit point). " +
        "The feed is a deterministic PARITY split of orders into two " +
        "arrival files consumed one per trigger; after the drain the " +
        "query REPLAYS the first batch's id with its identical rows " +
        "and grades: version count unchanged, the replayed version's " +
        "rows byte-identical, the sibling version untouched, and each " +
        "snapshot parity-homogeneous — per-parity row counts and " +
        "integer-cents totals recomputed independently by the oracle. " +
        "100 TB: a streaming corpus build commits one manifest row " +
        "per micro-batch; replay cost is one batch rewrite, never a " +
        "corpus scan, and readers pin any version mid-stream.",
      (s, dir) => {
        import graft.sink.TrainingShards
        import s.implicits._
        val o = Tables.t(s, dir, "orders")
          .select($"o_orderkey".as("doc_id"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        val feed = graft.TempRoots
          .freshForDir("graft_snapfeed", dir).toString
        // two deterministic arrival files: the parity split (one write
        // per file so the stream's batch contents are SQL-replayable)
        o.filter($"doc_id" % 2 === 0).coalesce(1)
          .write.mode("overwrite").parquet(feed)
        o.filter($"doc_id" % 2 === 1).coalesce(1)
          .write.mode("append").parquet(feed)
        val root = graft.TempRoots
          .freshForDir("graft_snapstream", dir).toString
        val st = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            TrainingShards.writeVersion(
              b.select($"doc_id", $"cents"), root, "seed42", 2,
              batchId = Some(s"b$id")): Unit
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val byBatch = TrainingShards.committedBatchVersions(s, root)
        val nVersions1 = TrainingShards.committedVersions(s, root).size
        def snap(v: Int) = TrainingShards.readVersion(s, root, Some(v))
        // snapshot identity compares as a DISTRIBUTED order-independent
        // fingerprint (count, cents total, hash-sum — q142's snapshot-
        // diff discipline): collecting 150k formatted rows to the
        // driver x4 was most of this query's wall, for the same check
        def fp(v: Int): Seq[Any] = snap(v)
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val v0 = byBatch("b0")
        val vSib = byBatch("b1")
        val v0Before = fp(v0)
        val sibBefore = fp(vSib)
        // the at-least-once replay: same batch id, identical rows
        val par0 = snap(v0).agg(min($"doc_id" % 2)).head().getLong(0)
        TrainingShards.writeVersion(
          o.filter($"doc_id" % 2 === par0), root, "seed42", 2,
          batchId = Some("b0"))
        val replayNoop =
          TrainingShards.committedVersions(s, root).size == nVersions1 &&
            nVersions1 == 2
        val replayRowsUnchanged = fp(v0) == v0Before
        val siblingUnchanged = fp(vSib) == sibBefore
        byBatch.values.toSeq.sorted.map { v =>
          val st = snap(v).agg(
            min($"doc_id" % 2).as("pmin"), max($"doc_id" % 2).as("pmax"),
            count(lit(1)).as("n"), sum($"cents").as("sc")).head()
          (st.getLong(0), st.getLong(2), st.getLong(3),
            st.getLong(0) == st.getLong(1), 2L,
            replayNoop, replayRowsUnchanged, siblingUnchanged)
        }.toDF("parity", "n_rows", "sum_cents", "split_homogeneous",
            "n_versions", "replay_noop", "replay_rows_unchanged",
            "sibling_unchanged")
          .orderBy($"parity")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)
        SELECT CAST(0 AS BIGINT) AS parity,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS split_homogeneous,
               CAST(2 AS BIGINT) AS n_versions,
               true AS replay_noop, true AS replay_rows_unchanged,
               true AS sibling_unchanged
        FROM o WHERE k % 2 = 0
        UNION ALL
        SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, CAST(2 AS BIGINT),
               true, true, true
        FROM o WHERE k % 2 = 1
        ORDER BY parity""")),

    Q(
      "q430_stream_bloom_maintenance",
      "STREAMING BLOOM-MANIFEST MAINTENANCE — q423's per-file bloom " +
        "manifest stops being a one-shot artifact and joins the " +
        "standing index loop (q313/q418's foreachBatch lifecycle): " +
        "each ADD micro-batch upserts bloom rows for exactly ITS new " +
        "files (a scan of that batch directory alone — new files " +
        "cannot collide with existing rows, so the upsert is a pure " +
        "append), and the SCHEDULED mid-stream compaction rebuilds " +
        "the manifest from the layout it just rewrote via a staged " +
        "write + rename swap (a crash mid-rebuild leaves the old " +
        "manifest intact). Without this, a standing ingest that " +
        "wants point-lookup skipping rescans the corpus per batch. " +
        "The feed is the %%10==0 embedding tranche range-split into " +
        "THREE arrival files (one per trigger); the fold fires " +
        "deterministically after the second add, so the final store " +
        "exercised BOTH maintenance verbs (rebuild over compacted " +
        "base + append of the post-fold batch). Graded: the drained " +
        "incremental manifest BIT-EQUALS a from-scratch q423-style " +
        "build over the same lists (count + order-independent hash " +
        "fingerprint), every probe's true home file passes its bloom " +
        "(no false negatives — the skipping contract), per-probe " +
        "containment counts (each vector lives in exactly ONE " +
        "inverted-list file; absent keys in none) recomputed " +
        "independently by the oracle. 100 TB: manifest maintenance " +
        "is one group-by over each micro-batch's OWN files (~512 B " +
        "of bitmap per file); the corpus-wide scan happens only " +
        "inside compactions that rewrote those bytes anyway.",
      (s, dir) => {
        import graft.operators.Similarity
        import graft.sink.{BloomManifest, Fs}
        import s.implicits._
        val e = Tables.t(s, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val root = graft.TempRoots
          .freshForDir("graft_ivf_bloom", dir).toString
        Similarity.writeIvfIndex(e.filter($"vec_id" % 10 =!= 0), root,
          nlist = 16, iters = 2)
        val store = s"$root/bloom_manifest"
        BloomManifest.rebuild(s, store,
          Similarity.ivfListsPath(s, root), "vec_id")
        val feed = graft.TempRoots
          .freshForDir("graft_ivf_bloom_feed", dir).toString
        e.filter($"vec_id" % 10 === 0)
          .repartitionByRange(3, $"vec_id")
          .write.mode("overwrite").parquet(feed)
        // the standing loop: add + manifest upsert per micro-batch,
        // one scheduled fold (fires after the SECOND add — gated on
        // the batch index, never on contents, q418's determinism
        // lesson) that compacts the lists and rebuilds the manifest
        var batches = 0
        var foldUsed = false
        val st = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            Similarity.addIvfBatch(b, root, s"a$id")
            val bdir =
              s"${Similarity.ivfListsPath(s, root)}/batch=a$id"
            if (Fs.exists(s, bdir))
              BloomManifest.append(s, store, bdir, "vec_id")
            batches += 1
            if (batches == 2) {
              Similarity.compactIvfLists(s, root): Unit
              BloomManifest.rebuild(s, store,
          Similarity.ivfListsPath(s, root), "vec_id")
              foldUsed = true
            }
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        // the from-scratch reference build over the same final layout
        val scratch = s"$root/bloom_scratch"
        BloomManifest.rebuild(s, scratch,
          Similarity.ivfListsPath(s, root), "vec_id")
        def fp(p: String): Seq[Any] = BloomManifest.read(s, p)
          .agg(count(lit(1)),
            sum(xxhash64($"f", $"b1", $"b2").cast("decimal(38,0)")))
          .head().toSeq
        val manifestBitexact = fp(store) == fp(scratch)
        // probe verdicts: bounded collects (manifest rows ~ file
        // count; containment pairs ~ one row per present probe)
        val man = BloomManifest.read(s, store).collect()
          .map(r => r.getAs[String]("f") ->
            (java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b1")),
              java.util.BitSet.valueOf(r.getAs[Array[Byte]]("b2"))))
          .toMap
        val maxId = e.agg(max($"vec_id")).head().getLong(0)
        val present = e.filter($"vec_id" % 50 === 7)
          .select($"vec_id").as[Long].collect().sorted
        val probes = present.map((_, 1L)) ++
          Seq(maxId + 1L, maxId + 2L, maxId + 3L).map((_, 0L))
        val probeDf = probes.map(_._1).toSeq.toDF("k")
        val contRows =
          s.read.parquet(Similarity.ivfListsPath(s, root))
          .select($"vec_id".cast("long").as("k"),
            input_file_name().as("f"))
          .join(broadcast(probeDf), Seq("k"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        val noFalseNeg = contRows.forall { case (k, f) =>
          man(f)._1.get(BloomManifest.h1Long(k)) &&
            man(f)._2.get(BloomManifest.h2Long(k)) }
        val nCont = contRows.groupBy(_._1).map { case (k, v) =>
          k -> v.size.toLong }
        probes.toSeq.map { case (k, pres) =>
          (k, pres, nCont.getOrElse(k, 0L), manifestBitexact,
            noFalseNeg, foldUsed && batches == 3)
        }.toDF("vec_id", "present", "files_containing",
            "manifest_bitexact", "no_false_negatives",
            "fold_and_append_paths_used")
          .orderBy($"vec_id")
      },
      Some("""
        WITH p AS (
          SELECT vec_id, CAST(1 AS BIGINT) AS present
          FROM embeddings WHERE vec_id % 50 = 7
          UNION ALL
          SELECT mx + i, CAST(0 AS BIGINT)
          FROM (SELECT max(vec_id) AS mx FROM embeddings)
          CROSS JOIN (SELECT unnest([1, 2, 3]) AS i))
        SELECT vec_id, present, present AS files_containing,
               true AS manifest_bitexact,
               true AS no_false_negatives,
               true AS fold_and_append_paths_used
        FROM p ORDER BY vec_id""")),

    Q(
      "q435_stream_cdc_merge",
      "STREAMING CDC MERGE — q432's upsert verb driven by a change " +
        "FEED through q426's exactly-once machinery, with the replay " +
        "semantics a MERGE actually needs: writeVersion's replay " +
        "rewrites identical bytes, but a merge re-derived against the " +
        "store's CURRENT latest would apply its change set TWICE once " +
        "later batches have advanced it — so a replayed change-batch " +
        "id is a PURE NO-OP (effect-once, not write-twice; the " +
        "committed manifest row is the dedup ledger). The feed is two " +
        "op-tagged arrival files consumed one per trigger — batch 0 " +
        "corrects the %%10==5 tranche by +7 cents and retracts " +
        "%%10==6; batch 1 corrects %%10==7 by +11 and inserts three " +
        "rows above the key domain (key-disjoint batches, so the " +
        "terminal state is order-free) — each micro-batch publishing " +
        "one snapshot version through mergeVersion(batchId=...). " +
        "Post-drain the query REPLAYS batch 0's exact change set with " +
        "its committed id and grades: version count unchanged, the " +
        "LATEST fingerprint untouched (the double-apply a naive " +
        "replay would cause is the specific bug graded away), every " +
        "intermediate version's rows and cents totals recomputed " +
        "independently by the oracle from the change algebra, and " +
        "the base pin still exact. 100 TB: a standing CDC consumer " +
        "publishes one version per micro-batch at delta cost; crash " +
        "replay costs a manifest lookup, never a corpus rewrite or a " +
        "double-applied correction.",
      (s, dir) => {
        import graft.sink.TrainingShards
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cdcstream", dir).toString
        val v1 = TrainingShards.writeVersion(o, root, "seed42", 2)
        val b0 = CdcFixture.toMerge(CdcFixture.batch0(of))
        val b1 = CdcFixture.toMerge(
          CdcFixture.batch1(of, CdcFixture.maxKey(of)))
        val feed = graft.TempRoots
          .freshForDir("graft_cdcfeed", dir).toString
        // two deterministic arrival files (the q426 pattern: separate
        // sequential writes -> mtime order -> one per trigger)
        b0.coalesce(1).write.mode("overwrite").parquet(feed)
        b1.coalesce(1).write.mode("append").parquet(feed)
        val st = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            TrainingShards.mergeVersion(s, root, b, "doc_id",
              "seed42", 2, batchId = Some(s"b$id")): Unit
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val byBatch = TrainingShards.committedBatchVersions(s, root)
        val (v2, v3) = (byBatch("b0"), byBatch("b1"))
        def snap(v: Int) = TrainingShards.readVersion(s, root, Some(v))
        def fp(v: Int): Seq[Any] = snap(v)
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val (fpV3, fpV2) = (fp(v3), fp(v2))
        // the at-least-once replay, POST-drain: same id, same change
        // rows — must be a pure no-op, never a re-derived double-apply
        TrainingShards.mergeVersion(s, root, b0, "doc_id", "seed42", 2,
          batchId = Some("b0"))
        val replayNoop =
          TrainingShards.committedVersions(s, root) == Seq(1, 2, 3) &&
            fp(v3) == fpV3 && fp(v2) == fpV2
        val ordered = v1 == 1 && v2 == 2 && v3 == 3
        def stats(v: Int, label: String) = snap(v)
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit(label).as("snapshot"), $"n_rows", $"sum_cents",
            lit(replayNoop).as("replay_pure_noop"),
            lit(ordered).as("versions_in_feed_order"))
        stats(v1, "v1_base").unionAll(stats(v2, "v2_after_b0"))
          .unionAll(stats(v3, "v3_after_b1"))
          .orderBy($"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleStateCte("fin0",
            b1 = false, withInserts = false, prio = false)}${
            graft.CdcFixture.oracleStateCte("fin1",
              b1 = true, withInserts = true, prio = false)}
        SELECT 'v1_base' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS replay_pure_noop,
               true AS versions_in_feed_order
        FROM o
        UNION ALL
        SELECT 'v2_after_b0', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true
        FROM fin0
        UNION ALL
        SELECT 'v3_after_b1', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true
        FROM fin1
        ORDER BY snapshot""")),

    Q(
      "q437_stream_view_maintenance",
      "STREAMING MATERIALIZED VIEW — q436's delta algebra run as a " +
        "standing consumer, completing the maintenance matrix (q435 " +
        "keeps the TABLE current from the change feed; this keeps the " +
        "VIEW current from the same feed): a persisted per-priority " +
        "(count, cents-total) state table absorbs each micro-batch's " +
        "before/after-image delta — insert +1/+new, delete -1/-old, " +
        "update 0/diff — published as GENERATION-COMMITTED snapshots " +
        "(GenDir: one one-winner rename per refresh, readers resolve " +
        "the newest committed generation, the previous one retained " +
        "until the NEXT publish — at EVERY crash point the public " +
        "path resolves to a complete state, closing the old " +
        "double-rename's visible-absence window), with the " +
        "APPLIED-BATCH LEDGER riding INSIDE each generation as " +
        "reader-hidden marker files so state and ledger commit in the " +
        "SAME rename — a replayed batch id hits the ledger and " +
        "touches nothing, and no crash point can leave a refreshed " +
        "view without its marker (the double-apply window a " +
        "separately-written ledger would reopen; like q435's merge, a " +
        "re-derived delta must never re-apply). Post-drain the query " +
        "replays batch 0's exact delta and grades: view fingerprint " +
        "untouched, ledger size unchanged, and the drained view " +
        "BIT-EQUAL to a full recompute over the snapshot store's " +
        "latest version (the store advanced through q435's merge of " +
        "the same feed — two independent consumers, one truth); " +
        "per-group rows and totals recomputed independently by the " +
        "oracle. 100 TB: the view refresh touches O(|delta| + " +
        "|domain|) per batch and the state table is domain-sized — " +
        "the standing alternative to a corpus-scan refresh cadence.",
      (s, dir) => {
        import graft.sink.{GenDir, TrainingShards}
        import graft.CdcFixture
        import s.implicits._
        val o = CdcFixture.orders(s, dir)
        val root = graft.TempRoots
          .freshForDir("graft_sview", dir).toString
        TrainingShards.writeVersion(o, root, "seed42", 2)
        val view = s"$root/view"
        def viewOf(df: org.apache.spark.sql.DataFrame) = df
          .groupBy($"prio")
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
        GenDir.publish(s, view, viewOf(o))
        val b0 = CdcFixture.batch0(o)
        val b1 = CdcFixture.batch1(o, CdcFixture.maxKey(o))
        val feed = graft.TempRoots
          .freshForDir("graft_sview_feed", dir).toString
        b0.coalesce(1).write.mode("overwrite").parquet(feed)
        b1.coalesce(1).write.mode("append").parquet(feed)
        // the applied-batch ledger rides INSIDE each view generation as
        // underscore-prefixed marker files (hidden from the parquet
        // reader), so view state and ledger commit in the SAME rename
        // — there is no window where a refreshed view exists without
        // its marker (the double-apply a separate ledger write would
        // reopen), and no crash point at which the public view path
        // fails to resolve a complete prior state (GenDir's guarantee)
        def appliedIds(): Set[String] = GenDir.listCurrent(s, view)
          .filter(_.startsWith("_applied_"))
          .map(_.stripPrefix("_applied_")).toSet
        def refresh(b: org.apache.spark.sql.DataFrame, id: String)
            : Unit = {
          val applied = appliedIds()
          if (applied.contains(id)) return
          val d = b.groupBy($"prio").agg(
            sum(when($"op" === "insert", 1L)
              .when($"op" === "delete", -1L).otherwise(0L)).as("dn"),
            sum(coalesce($"new_cents", lit(0L)) -
              coalesce($"old_cents", lit(0L))).as("dc"))
          val next = GenDir.read(s, view)
            .join(d, Seq("prio"), "full_outer")
            .select($"prio",
              (coalesce($"n_rows", lit(0L)) + coalesce($"dn", lit(0L)))
                .as("n_rows"),
              (coalesce($"sum_cents", lit(0L)) +
                coalesce($"dc", lit(0L))).as("sum_cents"))
            .filter($"n_rows" > 0)
          GenDir.publish(s, view, next,
            markers = (applied + id).toSeq.sorted.map(i => s"_applied_$i"))
        }
        val st = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            TrainingShards.mergeVersion(s, root,
              CdcFixture.toMerge(b.toDF(), withPrio = true),
              "doc_id", "seed42", 2, batchId = Some(s"b$id")): Unit
            refresh(b, s"b$id")
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        def fpView(): Seq[Any] = GenDir.read(s, view)
          .agg(count(lit(1)), sum(xxhash64($"prio", $"n_rows",
            $"sum_cents").cast("decimal(38,0)"))).head().toSeq
        val (fpBefore, nApplied) = (fpView(), appliedIds().size)
        // post-drain replay of batch 0: ledger hit, view untouched
        refresh(b0, "b0")
        val replayNoop = fpView() == fpBefore &&
          appliedIds().size == nApplied && nApplied == 2
        val recompute = viewOf(TrainingShards.readVersion(s, root))
        def rows(df: org.apache.spark.sql.DataFrame) = df
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2))).sortBy(_._1).toSeq
        val maintained = rows(GenDir.read(s, view)
          .select($"prio", $"n_rows", $"sum_cents"))
        val matches = maintained == rows(recompute)
        maintained.map { case (p, n, sc) =>
          (p, n, sc, matches, replayNoop)
        }.toDF("prio", "n_rows", "sum_cents",
            "view_equals_store_recompute", "replay_pure_noop")
          .orderBy($"prio")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                 o_orderpriority AS p
          FROM orders)${graft.CdcFixture.oracleStateCte("fin",
            b1 = true, withInserts = true, prio = true)}
        SELECT p AS prio, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS view_equals_store_recompute,
               true AS replay_pure_noop
        FROM fin GROUP BY p ORDER BY prio""")),

    Q(
      "q443_cow_stream_merge",
      "STREAMING COPY-ON-WRITE MERGE — q435's standing CDC consumer " +
        "re-pointed at the file-granular store, where the per-batch " +
        "economics finally match what a standing consumer needs: " +
        "each micro-batch's merge publishes one snapshot version that " +
        "REWRITES ONLY the shard groups its tiny delta routes to and " +
        "re-lists the parent's entries for the rest — so a day of " +
        "micro-batches costs O(sum of deltas), not O(batches x " +
        "corpus), which is the difference between a CDC consumer that " +
        "scales and one that rewrites a 100 TB corpus per trigger. " +
        "Effect-once replay rides the same committed-manifest ledger " +
        "(a replayed change-batch id is a PURE no-op — never a merge " +
        "re-derived against an advanced latest). Graded: every " +
        "version's rows and cents recomputed independently by the " +
        "oracle from the two-tiny-batch algebra, versions in feed " +
        "order, post-drain replay of batch 0 leaving version count " +
        "AND the latest fingerprint untouched, and PER-MICRO-BATCH " +
        "file reuse — each publication's manifest re-lists its " +
        "parent's entries for every shard its delta left untouched. " +
        "100 TB: the standing consumer's steady-state write volume " +
        "is the change feed's, amplified only by shard granularity.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_stream", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        val b0 = CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx))
        val b1 = CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx))
        val feed = graft.TempRoots
          .freshForDir("graft_cow_stream_feed", dir).toString
        b0.coalesce(1).write.mode("overwrite").parquet(feed)
        b1.coalesce(1).write.mode("append").parquet(feed)
        val st = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            CowSnapshots.mergeVersion(s, root, b.toDF(), "doc_id",
              "seed42", nSh, batchId = Some(s"b$id")): Unit
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val byBatch = CowSnapshots.committedBatchVersions(s, root)
        val (v2, v3) = (byBatch("b0"), byBatch("b1"))
        def snap(v: Int) = CowSnapshots.readVersion(s, root, Some(v))
        def fp(v: Int): Seq[Any] = snap(v)
          .agg(count(lit(1)), sum($"cents"),
            sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
          .head().toSeq
        val (fpV3, fpV2) = (fp(v3), fp(v2))
        // per-micro-batch reuse: each child re-lists its parent's
        // entries for every shard the batch's delta left untouched
        // (the shared predicate all three COW queries grade with)
        val perBatchReuse =
          CowSnapshots.reusesParentEntries(s, root, v1, v2, b0,
            "doc_id", "seed42", nSh) &&
            CowSnapshots.reusesParentEntries(s, root, v2, v3, b1,
              "doc_id", "seed42", nSh)
        // post-drain replay: pure no-op on versions AND bytes
        CowSnapshots.mergeVersion(s, root, b0, "doc_id", "seed42",
          nSh, batchId = Some("b0"))
        val replayNoop =
          CowSnapshots.committedVersions(s, root) == Seq(1, 2, 3) &&
            fp(v3) == fpV3 && fp(v2) == fpV2
        val ordered = v1 == 1 && v2 == 2 && v3 == 3
        def stats(v: Int, label: String) = snap(v)
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit(label).as("snapshot"), $"n_rows", $"sum_cents",
            lit(perBatchReuse).as("each_batch_reuses_parent_files"),
            lit(replayNoop).as("replay_pure_noop"),
            lit(ordered).as("versions_in_feed_order"))
        stats(v1, "v1_base").unionAll(stats(v2, "v2_after_b0"))
          .unionAll(stats(v3, "v3_after_b1"))
          .orderBy($"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin0",
            withSecond = false)}${graft.CdcFixture.oracleTinyStateCte(
            "fin1", withSecond = true)}
        SELECT 'v1_base' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS each_batch_reuses_parent_files,
               true AS replay_pure_noop,
               true AS versions_in_feed_order
        FROM o
        UNION ALL
        SELECT 'v2_after_b0', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true
        FROM fin0
        UNION ALL
        SELECT 'v3_after_b1', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true
        FROM fin1
        ORDER BY snapshot""")),

    Q(
      "q449_cow_stream_autocompact",
      "SELF-MAINTAINING MERGE-ON-READ LIFECYCLE — the q313/q430 " +
        "standing-maintenance discipline applied to the delta-chain " +
        "store: a streaming consumer publishes each micro-batch " +
        "through appendDeltasMaintained (O(|delta|)-byte writes, " +
        "q446's verb) and the SAME loop folds every chain back to " +
        "flat groups the moment any shard's chain reaches the length " +
        "threshold — so the read-side resolution rent a standing CDC " +
        "feed accrues is BOUNDED by construction, never by an " +
        "operator remembering to run maintenance. Graded: every " +
        "version's rows and cents recomputed independently by the " +
        "oracle from the two-tiny-batch algebra; the compaction " +
        "observed MID-STREAM from the manifest trail (the delta " +
        "versions carry chains, the auto-compacted version is flat, " +
        "and its batch id rides the compaction ledger); the end " +
        "state BIT-EQUAL to a copy-on-write twin fed the same " +
        "batches (q446's equivalence theorem surviving the " +
        "maintenance loop); and post-drain replay of both batch ids " +
        "a pure no-op — the replayed append resolves to its version " +
        "and the chain check finds nothing left to fold. 100 TB: a " +
        "standing CDC consumer whose write cost is the feed's bytes " +
        "and whose read tax is capped at maxChainLen window merges, " +
        "forever, unattended.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_autocompact", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        val b0 = CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx))
        val b1 = CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx))
        val feed = graft.TempRoots
          .freshForDir("graft_cow_autocompact_feed", dir).toString
        b0.coalesce(1).write.mode("overwrite").parquet(feed)
        b1.coalesce(1).write.mode("append").parquet(feed)
        val st = s.readStream
          .schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            CowSnapshots.appendDeltasMaintained(s, root, b.toDF(),
              "doc_id", "seed42", nSh, maxChainLen = 2,
              batchId = Some(s"b$id")): Unit
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val byBatch = CowSnapshots.committedBatchVersions(s, root)
        val (v2, v3) = (byBatch("b0"), byBatch("b1"))
        val v4 = byBatch("b1-compact")
        def chainLen(v: Int) = CowSnapshots.allEntries(s, root, v)
          .groupBy(_._1).valuesIterator.map(_.count(_._4 > 0))
          .maxOption.getOrElse(0)
        // the manifest trail proves the fold happened mid-stream:
        // deltas accrued to the threshold, then the very next version
        // is flat
        val trail = chainLen(v2) == 1 && chainLen(v3) == 2 &&
          chainLen(v4) == 0 && v4 == v3 + 1
        def fp(root0: String, v: Int): Seq[Any] =
          CowSnapshots.readVersion(s, root0, Some(v))
            .agg(count(lit(1)), sum($"cents"),
              sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
            .head().toSeq
        val fps = Map(v2 -> fp(root, v2), v3 -> fp(root, v3),
          v4 -> fp(root, v4))
        // the copy-on-write twin fed the same batches: the maintained
        // merge-on-read end state must be bit-identical
        val twin = graft.TempRoots
          .freshForDir("graft_cow_autocompact_twin", dir).toString
        CowSnapshots.writeVersion(o, twin, "doc_id", "seed42", nSh)
        CowSnapshots.mergeVersion(s, twin, b0, "doc_id", "seed42", nSh)
        val tv = CowSnapshots.mergeVersion(s, twin, b1, "doc_id",
          "seed42", nSh)
        val equalsTwin = fps(v4) == fp(twin, tv)
        // post-drain replay of BOTH ledgered ids: versions and bytes
        // untouched, and nothing re-folds
        val r0 = CowSnapshots.appendDeltasMaintained(s, root, b0,
          "doc_id", "seed42", nSh, maxChainLen = 2,
          batchId = Some("b0"))
        val r1 = CowSnapshots.appendDeltasMaintained(s, root, b1,
          "doc_id", "seed42", nSh, maxChainLen = 2,
          batchId = Some("b1"))
        val replayNoop = r0 == ((v2, None)) && r1 == ((v3, None)) &&
          CowSnapshots.committedVersions(s, root) ==
            Seq(v1, v2, v3, v4) && fp(root, v4) == fps(v4)
        val labels = Seq(v2 -> "v2_after_b0", v3 -> "v3_after_b1",
          v4 -> "v4_autocompacted")
        labels.map { case (v, label) =>
          (label, fps(v)(0).asInstanceOf[Long],
            fps(v)(1).asInstanceOf[Long], trail, equalsTwin,
            replayNoop)
        }.toDF("snapshot", "n_rows", "sum_cents",
            "compaction_observed_mid_stream",
            "end_state_equals_cow_twin_bitexact", "replay_pure_noop")
          .orderBy($"snapshot")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin0",
            withSecond = false)}${graft.CdcFixture.oracleTinyStateCte(
            "fin1", withSecond = true)}
        SELECT 'v2_after_b0' AS snapshot,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS compaction_observed_mid_stream,
               true AS end_state_equals_cow_twin_bitexact,
               true AS replay_pure_noop
        FROM fin0
        UNION ALL
        SELECT 'v3_after_b1', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true
        FROM fin1
        UNION ALL
        SELECT 'v4_autocompacted', CAST(count(*) AS BIGINT),
               CAST(sum(c) AS BIGINT), true, true, true
        FROM fin1
        ORDER BY snapshot""")),

    Q(
      "q454_stream_schema_evolution",
      "MID-STREAM SCHEMA EVOLUTION — the q444 dividend under a " +
        "STANDING consumer, the case a fixed-schema file stream " +
        "cannot even represent: the CDC feed arrives as JSON " +
        "payloads (the Kafka/Debezium shape), each micro-batch is " +
        "parsed against ITS OWN inferred schema inside foreachBatch, " +
        "and when batch 1 starts carrying a new `src` column the " +
        "merge simply publishes it — the feed's schema IS the new " +
        "version's schema, the added column lands only in the shards " +
        "batch 1 rewrites anyway (untouched groups null-fill through " +
        "the mergeSchema read), and the version pinned BEFORE the " +
        "evolution keeps its own shape with no conform logic because " +
        "the manifest's file list is the schema boundary. No stream " +
        "restart, no ALTER, no backfill job — the 100 TB corpus " +
        "gains a column mid-stream for the price of one batch's " +
        "delta write. Graded: v2's (pre-evolution) and v3's " +
        "(per-src-class) rows and cents recomputed independently by " +
        "the oracle from the two-tiny-batch algebra; the pinned v2 " +
        "read carries NO src column while v3 does (the mid-stream " +
        "boundary observed from the store alone); the evolved " +
        "version still REUSES the parent's untouched file groups; " +
        "and a post-drain replay of both ledgered batch ids is a " +
        "pure no-op.",
      (s, dir) => {
        import graft.sink.CowSnapshots
        import graft.CdcFixture
        import s.implicits._
        val of = CdcFixture.orders(s, dir)
        val o = of.drop("prio")
        val root = graft.TempRoots
          .freshForDir("graft_cow_sevo", dir).toString
        val nSh = 16
        val mx = CdcFixture.maxKey(of)
        val v1 = CowSnapshots.writeVersion(o, root, "doc_id",
          "seed42", nSh)
        val b0 = CdcFixture.toMerge(CdcFixture.tinyBatch(of, mx))
        val b1 = CdcFixture.toMerge(CdcFixture.tinyBatch2(of, mx))
          .withColumn("src", lit("corrected"))
        // the feed is JSON text — the only stream shape whose schema
        // CAN drift between micro-batches (a parquet stream pins its
        // schema at start)
        val feed = graft.TempRoots
          .freshForDir("graft_cow_sevo_feed", dir).toString
        b0.toJSON.coalesce(1).write.mode("overwrite").text(feed)
        b1.toJSON.coalesce(1).write.mode("append").text(feed)
        def parse(b: org.apache.spark.sql.DataFrame) =
          s.read.json(b.select($"value").as[String])
        val st = s.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.StringType))))
          .option("maxFilesPerTrigger", 1)
          .text(feed)
        val q = st.writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            CowSnapshots.mergeVersion(s, root, parse(b.toDF()),
              "doc_id", "seed42", nSh, batchId = Some(s"b$id")): Unit
        }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        val byBatch = CowSnapshots.committedBatchVersions(s, root)
        val (v2, v3) = (byBatch("b0"), byBatch("b1"))
        val pre = CowSnapshots.readVersion(s, root, Some(v2))
        val post = CowSnapshots.readVersion(s, root, Some(v3))
        val boundaryObserved = !pre.columns.contains("src") &&
          post.columns.contains("src")
        val reuses = CowSnapshots.reusesParentEntries(s, root, v2, v3,
          b1, "doc_id", "seed42", nSh)
        def fp(v: Int): Seq[Any] =
          CowSnapshots.readVersion(s, root, Some(v))
            .agg(count(lit(1)), sum($"cents"),
              sum(xxhash64($"doc_id", $"cents").cast("decimal(38,0)")))
            .head().toSeq
        val fp3 = fp(v3)
        val r0 = CowSnapshots.mergeVersion(s, root,
          parse(b0.toJSON.toDF("value")), "doc_id", "seed42", nSh,
          batchId = Some("b0"))
        val r1 = CowSnapshots.mergeVersion(s, root,
          parse(b1.toJSON.toDF("value")), "doc_id", "seed42", nSh,
          batchId = Some("b1"))
        val replayNoop = r0 == v2 && r1 == v3 &&
          CowSnapshots.committedVersions(s, root) == Seq(v1, v2, v3) &&
          fp(v3) == fp3
        val preRow = pre
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit("v2_after_b0").as("snapshot"),
            lit("none").as("src_class"), $"n_rows", $"sum_cents")
        val postRows = post
          .groupBy(coalesce($"src", lit("none")).as("src_class"))
          .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
          .select(lit("v3_after_b1").as("snapshot"), $"src_class",
            $"n_rows", $"sum_cents")
        preRow.unionByName(postRows)
          .select($"snapshot", $"src_class", $"n_rows", $"sum_cents",
            lit(boundaryObserved).as("evolution_boundary_observed"),
            lit(reuses).as("evolved_reuses_parent_groups"),
            lit(replayNoop).as("replay_pure_noop"))
          .orderBy($"snapshot", $"src_class")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS c
          FROM orders)${graft.CdcFixture.oracleTinyStateCte("fin0",
            withSecond = false)}${graft.CdcFixture.oracleTinyStateCte(
            "fin1", withSecond = true)}
        SELECT 'v2_after_b0' AS snapshot, 'none' AS src_class,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c) AS BIGINT) AS sum_cents,
               true AS evolution_boundary_observed,
               true AS evolved_reuses_parent_groups,
               true AS replay_pure_noop
        FROM fin0
        UNION ALL
        SELECT 'v3_after_b1', src_class,
               CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
               true, true, true
        FROM (
          SELECT CASE WHEN k IN (SELECT k FROM fin1_uk)
                        OR k > (SELECT mx FROM fin1_mx)
                      THEN 'corrected' ELSE 'none' END AS src_class, c
          FROM fin1)
        GROUP BY src_class
        ORDER BY snapshot, src_class"""))
  )
}
