package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * Always read via `spark.read.parquet` so Catalyst owns pushdown: filters
  * and projections land in the scan (`PushedFilters` / `ReadSchema`), which
  * is the property that survives a 100 TB scale-up — never pre-collect.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoize per (session, dir, table): schema/footer discovery is pure
  // driver-side overhead that would otherwise be paid on every query.
  // Keyed by the session OBJECT (reference equality — unlike an identity
  // hash, two live sessions can never collide). Weak keys would not help
  // here: the cached DataFrames strongly reference their own session, so
  // eviction must be explicit — stopped sessions are pruned on access.
  private final class PerSession {
    val frames = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    val rawSchemas = new java.util.concurrent.ConcurrentHashMap[
      (String, String), org.apache.spark.sql.types.StructType]()
    val registeredDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  }
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, PerSession]()
  private def perSession(spark: SparkSession): PerSession = {
    sessions.keySet.removeIf(s => (s ne spark) && s.sparkContext.isStopped)
    sessions.computeIfAbsent(spark, _ => new PerSession)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    perSession(spark).frames.computeIfAbsent((dir, name), _ => load(spark, dir, name))

  /** The AS-STORED footer schema of a fixture file (pre-normalization) —
    * what a file streaming source must declare to be footer-true. Memoized
    * per (session, dir, table): the footer read costs a file listing +
    * parquet footer parse per call, pure driver overhead that a bench run
    * with ~40 stream constructions would otherwise pay ~40 times. */
  def rawSchema(spark: SparkSession, dir: String, name: String)
      : org.apache.spark.sql.types.StructType =
    perSession(spark).rawSchemas.computeIfAbsent((dir, name),
      _ => spark.read.parquet(s"$dir/$name.parquet").schema)

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(raw) else raw
  }

  /** Normalize the events table's `ts` to µs TIMESTAMP_NTZ regardless of
    * which encoding the fixture generation happened to write — the fixtures
    * have shipped both parquet TIMESTAMP(NANOS) (which Spark reads only as
    * a nanos LongType under spark.sql.legacy.parquet.nanosAsLong, set in
    * GraftSession) and TIMESTAMP(isAdjustedToUTC=0, unit=MICROS) (read
    * natively as TIMESTAMP_NTZ). Branching on the type the reader actually
    * produced makes the loader footer-true: an encoding it does not
    * recognize fails LOUDLY at analysis instead of silently reinterpreting
    * the scale (the µs-as-ns corruption class that collapsed 30 days of
    * events into 43 minutes in round 7). Works on batch and streaming
    * frames alike — both loaders share this one convention.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      // legacy TIMESTAMP(NANOS) fixtures (FixtureContractSpec pins it):
      // raw nanos int64 → truncate to µs, expose as NTZ
      case LongType =>
        df.withColumn(
          "ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      // current fixtures: already µs NTZ — use as-is
      case TimestampNTZType => df
      // instant-typed µs (isAdjustedToUTC=1): same wall clock under the
      // pinned UTC session timezone
      case TimestampType =>
        df.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other — fixture encoding " +
            "drifted again; teach Tables.normalizeEventsTs the new encoding " +
            "rather than letting a schema-on-read reinterpretation corrupt " +
            "every events query silently")
    }
  }

  /** Register every fixture table as a temp view (for spark.sql corpora).
    * Re-registering identical views per query is wasted driver work, so
    * each session tracks which dirs it has already registered. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (perSession(spark).registeredDirs.add(dir))
      all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
