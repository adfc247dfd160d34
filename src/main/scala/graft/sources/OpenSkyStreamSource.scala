package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 streaming source for the OpenSky poll (SURVEY §7 M5 —
  * the full-native form of the ingest source, replacing the driver loop):
  *
  * {{{
  *   spark.readStream.format("graft.sources.OpenSkyStreamSource")
  *     .option("statesPerTick", "100").load()
  * }}}
  *
  * Offsets are tick numbers: each micro-batch covers (start, end] ticks,
  * one generated snapshot per tick — so the source is replayable and
  * exactly-once *within* Spark's offset tracking (the HTTP endpoint itself
  * is a live snapshot; in production the un-replayability of the remote
  * API bounds the guarantee to at-least-once, same class as the
  * reference).
  *
  * Emits the raw envelope (`tick`, `raw_json`). A micro-batch is one
  * tick, so `StreamingIngest` collects its one body and decodes it on the
  * driver with `OpenSky.parseJson`, exactly as a poll tick is decoded. The
  * payload is always the deterministic `OpenSky.sampleResponse`
  * generator: this source has no HTTP read. A live HTTP fetch
  * (`OpenSkyHttpSource`) is read only by `graft.streaming.PollingIngest`;
  * putting any `IngestSource` behind this stream is still open (ROADMAP.md,
  * "One native ingest path").
  */
class OpenSkyStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OpenSkyStreamSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OpenSkyStreamTable(properties.getOrDefault("statesPerTick", "100").toInt)
}

object OpenSkyStreamSource {
  val schema: StructType = StructType(Seq(
    StructField("tick", LongType, nullable = false),
    StructField("raw_json", StringType, nullable = false)))
}

final class OpenSkyStreamTable(statesPerTick: Int) extends Table with SupportsRead {
  override def name(): String = "opensky_poll"
  override def schema(): StructType = OpenSkyStreamSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = OpenSkyStreamSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new OpenSkyMicroBatchStream(statesPerTick)
    }
}

final case class TickOffset(tick: Long) extends Offset {
  override def json(): String = tick.toString
}

/** One tick per trigger; each tick is a single-partition batch holding one
  * snapshot document (a single HTTP endpoint has nothing to partition —
  * the document is decoded on the driver downstream). */
final class OpenSkyMicroBatchStream(statesPerTick: Int)
    extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = TickOffset(0L)

  /** STATELESS availability via admission control: the engine passes the
    * last processed offset, and exactly one new tick is admitted past it.
    * Repeated calls within a trigger receive the same `start` and return
    * the same offset — no call pattern (Trigger.AvailableNow's
    * double-poll, retries) can fabricate ticks, unlike a call-counting
    * implementation. Restart recovery is free: `start` comes from the
    * checkpointed offset log, so the stream resumes exactly where it
    * committed, with no mutable state to fast-forward. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    TickOffset(start.asInstanceOf[TickOffset].tick + 1)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  /** Unreachable: Spark routes SupportsAdmissionControl sources through
    * latestOffset(start, limit). */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "use latestOffset(start, limit) — this source admits per trigger")

  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)
  override def commit(end: Offset): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TickOffset].tick
    val e = end.asInstanceOf[TickOffset].tick
    (s + 1 to e).map(t => TickPartition(t, statesPerTick): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[TickPartition]
      new PartitionReader[InternalRow] {
        private var done = false
        override def next(): Boolean = if (done) false else { done = true; true }
        override def get(): InternalRow = {
          val json = OpenSky.sampleResponse(p.statesPerTick, 1700000000L + p.tick * 60L)
          InternalRow(p.tick, UTF8String.fromString(json))
        }
        override def close(): Unit = ()
      }
    }

  override def stop(): Unit = ()
}

final case class TickPartition(tick: Long, statesPerTick: Int) extends InputPartition
