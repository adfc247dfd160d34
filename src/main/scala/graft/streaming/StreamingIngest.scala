package graft.streaming

import graft.config.IngestConfig
import graft.sink.{AppendSink, Fanout}
import graft.sources.OpenSky
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.slf4j.LoggerFactory

/** The fully Spark-native ingest (SURVEY §7 M5 complete): DSv2 micro-batch
  * source → foreachBatch, which takes each micro-batch the way
  * `PollingIngest` takes a poll tick: the source admits one tick per
  * trigger, so the batch is one `raw_json` body; it is collected to the
  * driver, decoded by `OpenSky.parseJson` and handed to the same
  * `Fanout.writeBatch` multi-table fan-out — a body collect and one
  * parquet write per micro-batch with an [[graft.sink.IdempotentParquetSink]].
  *
  * This is the reference's whole product as one streaming query:
  *  - trigger interval  = plugin_spec.config.interval (A6)
  *  - fan-out           = foreachBatch → Fanout.writeBatch (A5, A8)
  *  - graceful stop     = StreamingQuery.stop / awaitTermination (A7)
  *  - DDL bootstrap     = sink.ensure before start (A9/A10)
  * vs PollingIngest (the M2 driver loop): here Spark owns scheduling,
  * offsets and restart semantics — on a cluster this query survives
  * driver restarts from the checkpoint, which the reference (and the M2
  * loop) cannot do.
  */
object StreamingIngest {
  private val log = LoggerFactory.getLogger(getClass)

  /** Start the ingest query; caller owns stop()/awaitTermination. */
  def start(spark: SparkSession, cfg: IngestConfig, sink: AppendSink,
      statesPerTick: Int = 100, checkpointDir: Option[String] = None,
      triggerMs: Long = -1): StreamingQuery = {
    import spark.implicits._
    val targets = cfg.targets("flights")
    targets.foreach { case (db, t) => sink.ensure(db, t, OpenSky.createTableDdl(t)) }
    val raw = spark.readStream
      .format("graft.sources.OpenSkyStreamSource")
      .option("statesPerTick", statesPerTick.toString)
      .load()
    val interval =
      if (triggerMs > 0) Trigger.ProcessingTime(s"$triggerMs milliseconds")
      else Trigger.ProcessingTime(s"${cfg.plugin.intervalSec} seconds")
    val writer = raw.writeStream
      .trigger(interval)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val bodies = batch.select($"raw_json").as[String].collect().toSeq
        val flights = OpenSky.parseJson(spark, bodies).toDF()
        val (ok, rows) = Fanout.writeBatch(flights, targets, sink, batchId = id)
        log.info(s"micro-batch $id: $rows rows to $ok/${targets.size} targets")
        // Fail the micro-batch on partial fan-out so Spark replays it from
        // the checkpoint: with an idempotent sink this gives
        // effectively-once per (batch, target); with a plain append sink
        // the replay is at-least-once (duplicates possible on already-
        // written targets) — either way no target silently loses a batch.
        if (ok < targets.size)
          throw new RuntimeException(
            s"micro-batch $id reached only $ok/${targets.size} targets; failing for replay")
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }
}
