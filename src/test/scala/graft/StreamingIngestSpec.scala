package graft

import graft.config.{DatabasesConfig, IngestConfig, PluginSpec}
import graft.sink.ParquetSink
import graft.sources.OpenSky
import graft.streaming.StreamingIngest
import org.scalatest.funsuite.AnyFunSuite

/** Full-native streaming ingest end-to-end: DSv2 source → foreachBatch
  * fan-out, several micro-batches, checkpointed. */
class StreamingIngestSpec extends AnyFunSuite with TempDirs {
  import TestSession._

  test("streaming query fans ticks out to every target") {
    val root = tempDir("graft_sing")
    val ckpt = tempDir("graft_sing_ckpt")
    val cfg = IngestConfig(
      plugin = PluginSpec(intervalSec = 60),
      databases = DatabasesConfig(prefix = "sdb", copies = 2, extra = Map("y" -> 1)),
      runForSec = 0)
    val q = StreamingIngest.start(spark, cfg, new ParquetSink(root),
      statesPerTick = 20, checkpointDir = Some(ckpt), triggerMs = 100)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def rows = try spark.read.parquet(s"$root/sdb1/flights").count() catch { case _: Exception => 0L }
      while (rows < 60 && System.nanoTime() < deadline) Thread.sleep(200)
      assert(rows >= 60, s"expected >=3 ticks of 20 rows, got $rows")
    } finally q.stop()
    val targets = cfg.targets("flights")
    assert(targets.size === 3)
    val counts = targets.map { case (db, t) => spark.read.parquet(s"$root/$db/$t").count() }
    // Delivery is at-least-once per target per micro-batch (same guarantee
    // class as the reference): stop() mid-fan-out may leave the last batch
    // written to a prefix of the targets, so counts may differ by at most
    // one batch.
    assert(counts.forall(_ >= 60), s"got $counts")
    assert(counts.max - counts.min <= 20, s"fan-out skew beyond one batch: $counts")
    assert(counts.forall(_ % 20 === 0))
    val cols = spark.read.parquet(s"$root/sdb1/flights").columns.toSeq
    assert(cols === ("time" +: OpenSky.stateColumns.map(_._1)))
  }
}
