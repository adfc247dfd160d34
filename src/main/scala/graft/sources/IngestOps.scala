package graft.sources

import graft.{Q, QueryModule, TempRoots}
import org.apache.spark.sql.functions._

/** Ingest-pipeline corpus entries (SURVEY §2A capability surface as
  * runnable queries). Rows-only checks: these run on generated OpenSky-
  * shaped fixtures, not the sf tables, so there is no DuckDB oracle;
  * IngestSpec covers value-level assertions.
  */
object IngestOps extends QueryModule {

  override def queries: Seq[Q] = Seq(
    Q(
      "q80_ingest_parse",
      "OpenSky envelope → rows: one streaming decode per document with " +
        "Spark's positional casts (SURVEY A2-A4). Produces the typed 18-column flights schema in " +
        "canonical acc_init.sql order; aggregates per origin_country to " +
        "prove the full decode path.",
      (s, _) => {
        import s.implicits._
        val flights = OpenSky.parseJson(s,
          Seq(OpenSky.sampleResponse(500, 1700000000L),
            OpenSky.sampleResponse(300, 1700000060L)))
        flights.toDF()
          .groupBy($"origin_country")
          .agg(
            count(lit(1)).as("n_states"),
            countDistinct($"icao24").as("n_aircraft"),
            round(avg($"velocity"), 4).as("avg_velocity"),
            sum(when($"on_ground", 1L).otherwise(0L)).as("n_on_ground"),
            count($"sensors").as("n_with_sensors"))
          .orderBy($"origin_country")
      },
      None),

    Q(
      "q81_ingest_fanout",
      "End-to-end ingest tick: synthetic source → parse pipeline → " +
        "multi-table fan-out (3 copies + 2 extra = 5 targets, reference " +
        "topology semantics) into a scratch parquet layout, then read one " +
        "fanned-out table back and count per snapshot time.",
      (s, _) => {
        import graft.config.{DatabasesConfig, IngestConfig, PluginSpec}
        import graft.sink.ParquetSink
        import graft.streaming.{PollingIngest, SyntheticOpenSkySource}
        import s.implicits._
        // a new dir per run keeps an earlier run's lazy result readable;
        // TempRoots deletes the lot at JVM exit
        val root = java.nio.file.Files.createTempDirectory(
          TempRoots.root("graft_fanout"), "q81").toString
        val cfg = IngestConfig(
          plugin = PluginSpec(intervalSec = 1),
          databases = DatabasesConfig(prefix = "auto_", copies = 3, extra = Map("foo" -> 2)),
          runForSec = 0)
        PollingIngest.run(s, new SyntheticOpenSkySource(200), cfg,
          new ParquetSink(root), maxTicks = 2, sleepFn = _ => ())
        s.read.parquet(s"$root/auto_1/flights")
          .groupBy($"time").agg(count(lit(1)).as("n_rows"))
          .orderBy($"time")
      },
      None)
  )
}
