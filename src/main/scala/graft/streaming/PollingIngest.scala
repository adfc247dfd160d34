package graft.streaming

import graft.config.IngestConfig
import graft.sink.{AppendSink, Fanout}
import graft.sources.{FlightState, OpenSky}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.slf4j.LoggerFactory

import java.util.concurrent.atomic.AtomicBoolean

/** A pollable ingest source (SURVEY §2A A1/A14): the Scala-trait
  * replacement for the reference's dlopen plugin registry
  * (registry.go:10-55). Returns raw response bodies; parsing happens in
  * the Spark pipeline. */
trait IngestSource {
  def name: String
  def tablePrefix: String
  /** Fetch one snapshot (HTTP GET in production; fixture for tests). */
  def fetch(): String
  /** Fail-fast credential/config validation (A16/A17). */
  def validate(): Unit = ()
}

/** Deterministic fixture source standing in for the HTTP endpoint. */
final class SyntheticOpenSkySource(statesPerTick: Int) extends IngestSource {
  private var tick = 0
  override def name = "opensky"
  override def tablePrefix = "flights"
  override def fetch(): String = {
    tick += 1
    OpenSky.sampleResponse(statesPerTick, 1700000000L + tick * 60L)
  }
}

/** The ingest control loop (SURVEY §2A A5-A7, §3.2), Spark-first:
  * every tick = fetch (driver; a single HTTP endpoint has nothing to
  * partition) → decode the body on the driver straight into typed rows
  * (`OpenSky.parseJson`: one streaming pass, a LocalRelation whose row
  * count is known; PlanSpec "ingest parse" pins it) → fan-out append to
  * all targets, whose only Spark job is the parquet write. A body that is
  * not a states document throws, so the tick fails and backs off instead
  * of writing an empty batch. Interval scheduling, 5s-class backoff on
  * fetch and parse errors, graceful stop, bounded run — the reference's
  * semantics (main.go:101-127) with the §1.3 fix-list applied.
  */
object PollingIngest {
  private val log = LoggerFactory.getLogger(getClass)

  final class Handle {
    private[PollingIngest] val stopFlag = new AtomicBoolean(false)
    @volatile var ticks: Int = 0
    @volatile var rowsIngested: Long = 0L
    /** Target appends that failed, summed over ticks (targets − written
      * per tick): a partial fan-out is warn-and-continue, never silent. */
    @volatile var failedAppends: Long = 0L
    /** Ticks that threw before completing (fetch, parse or fan-out) and
      * were backed off: a failed tick is counted, not only logged. */
    @volatile var failedTicks: Long = 0L
    /** Run-unique base for batch ids: ticks restart at 0 every run, and
      * an idempotent sink keyed by bare tick numbers would sweep a
      * PREVIOUS run's rows (each poll tick carries different live data —
      * deleting them is data loss, not dedup). Unlike streaming, this
      * loop has no checkpoint, so ids are unique-per-run rather than
      * replayable: delivery stays at-least-once, never destructive.
      * Bases are process-monotone (see nextRunBase), so two handles in
      * the same millisecond cannot collide; across processes a large
      * per-process entropy offset makes id-range overlap improbable
      * (not impossible — the quantified residual risk of a
      * checkpoint-free loop is at nextRunBase). */
    private[PollingIngest] val batchBase: Long = nextRunBase()
    def stop(): Unit = stopFlag.set(true)
  }

  // Monotone run bases: at least RunBaseStep apart within a process (so a
  // run may consume up to RunBaseStep ticks), and tracking µs wall time
  // across processes. A per-process entropy offset in [0, EntropySpan) is
  // mixed into the wall-clock component, so two CONCURRENTLY-started
  // processes (same millisecond, or around a clock step-back) get bases
  // separated by |Δentropy| — their id ranges overlap only if one run
  // consumes more ticks than that separation: P ≈ 2·N/EntropySpan for an
  // N-tick run (~2e-8 at N=10⁴), vs certain on same-ms starts without
  // the offset. SEQUENTIAL restarts on one host are not left to that
  // probability: the last issued base is persisted to a sidecar file
  // (best-effort, atomic-rename) and a new process floors its base at
  // persisted+RunBaseStep, so a restart can never regress into its
  // predecessor's id range however small an entropy it draws. Residual
  // risk is thus confined to (a) genuinely concurrent starts and
  // (b) restarts where the sidecar is unreadable/deleted — both remain
  // probabilistic-only, by design (checkpoint-free, parity with the
  // reference's loop); runs needing a hard guarantee use
  // StreamingIngest's checkpoint-derived batch ids.
  private val RunBaseStep = 10000000L
  private val EntropySpan = 1000000000000L // ~11 days of µs: dwarfs run lengths
  private val procEntropy: Long = {
    val pid = ProcessHandle.current().pid()
    math.floorMod(pid * 1000003L ^ System.nanoTime(), EntropySpan)
  }
  /** Sidecar recording the last issued base on this host (overridable for
    * tests / multi-daemon hosts via -Dgraft.ingest.baseFile=…). */
  private[streaming] def baseFile: java.nio.file.Path = java.nio.file.Paths.get(
    sys.props.getOrElse("graft.ingest.baseFile",
      sys.props("java.io.tmpdir") + "/graft-poll-run-base"))
  private def persistedBase(): Long =
    try new String(java.nio.file.Files.readAllBytes(baseFile),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    catch { case _: Exception => 0L } // absent/corrupt → no floor
  private def persistBase(b: Long): Unit =
    try {
      val dir = baseFile.toAbsolutePath.getParent
      val tmp = java.nio.file.Files.createTempFile(dir, ".graft-base", ".tmp")
      java.nio.file.Files.write(tmp,
        b.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, baseFile,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Exception => // availability over the stronger guarantee
        log.warn(s"could not persist run base to $baseFile: ${e.getMessage}; " +
          "sequential-restart monotonicity degrades to the entropy argument")
    }
  private val lastRunBase = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def nextRunBase(): Long = {
    val issued = lastRunBase.updateAndGet { prev =>
      math.max(math.max(prev, persistedBase()) + RunBaseStep,
        System.currentTimeMillis() * 1000L + procEntropy)
    }
    persistBase(issued)
    issued
  }

  /** Run the loop synchronously; returns the handle with counters.
    *
    * @param maxTicks stop after N successful ticks (<=0: until stop()/
    *                 runForSec); tests use this for determinism
    * @param sleepFn  injectable sleeper so tests run instantly
    */
  def run(spark: SparkSession, source: IngestSource, cfg: IngestConfig,
      sink: AppendSink, maxTicks: Int = -1,
      sleepFn: Long => Unit = Thread.sleep, handle: Handle = new Handle): Handle = {
    source.validate()
    val targets = cfg.targets(source.tablePrefix)
    targets.foreach { case (db, t) =>
      sink.ensure(db, t, OpenSky.createTableDdl(t))
    }
    val deadline =
      if (cfg.runForSec > 0) System.nanoTime() + cfg.runForSec * 1000000000L
      else Long.MaxValue

    while (!handle.stopFlag.get() && System.nanoTime() < deadline &&
        (maxTicks <= 0 || handle.ticks < maxTicks)) {
      try {
        val raw = source.fetch()
        val batch: Dataset[FlightState] =
          OpenSky.parseJson(spark, Seq(raw))
        val (written, rows) = Fanout.writeBatch(batch.toDF(), targets, sink,
          batchId = handle.batchBase + handle.ticks + 1) // run-unique id
        handle.ticks += 1
        handle.rowsIngested += rows
        handle.failedAppends += targets.size - written
        if (written < targets.size)
          log.warn(s"tick ${handle.ticks}: fanned out to only $written/${targets.size} targets")
        else log.info(s"tick ${handle.ticks}: fanned out to $written/${targets.size} targets")
        if (!(maxTicks > 0 && handle.ticks >= maxTicks))
          sleepFn(cfg.plugin.intervalSec * 1000L)
      } catch {
        case e: Exception =>
          // warn-and-continue with backoff — never fatal mid-stream
          handle.failedTicks += 1
          log.warn(s"ingest tick failed: ${e.getMessage}; backing off")
          sleepFn(cfg.backoffSec * 1000L)
      }
    }
    handle
  }
}
