package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.ColumnBridgeImpl
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Typed record for one flight state vector, in the canonical column order
  * of the reference's DDL (acc_init.sql:4-23). The reference's plugin map
  * (opensky_plugin.go:35-54) iterates in random order — a data-scrambling
  * bug per SURVEY §1.3-1; an ordered case class makes it unrepresentable.
  */
final case class FlightState(
    time: Option[Long],
    icao24: Option[String],
    callsign: Option[String],
    origin_country: Option[String],
    time_position: Option[Long],
    last_contact: Option[Long],
    longitude: Option[Float],
    latitude: Option[Float],
    baro_altitude: Option[Float],
    on_ground: Option[Boolean],
    velocity: Option[Float],
    true_track: Option[Float],
    vertical_rate: Option[Float],
    sensors: Option[Seq[Int]],
    geo_altitude: Option[Float],
    squawk: Option[String],
    spi: Option[Boolean],
    position_source: Option[Int])

/** The OpenSky states/all ingest parse (SURVEY §2A rows A2-A4): one
  * streaming decode of each response document straight into typed rows
  * ([[StatesDecoder]]), the positional casts done by Spark's own `Cast`.
  *
  * The reference's equivalent path is broken in production (type-switch
  * mismatch, main.go:137-146 vs opensky_plugin.go:107-114 — SURVEY
  * §1.3-2); this implements the evident intent: one row per state vector,
  * snapshot time attached from the envelope.
  */
object OpenSky {

  /** (name, sparkType) per state-vector position, acc_init.sql order.
    * Position 0 of the vector is icao24; the envelope `time` is prepended
    * as the first output column. Cells are read as strings and cast
    * positionally — explicit casts, never inference (the float64-vs-int
    * coercion that disabled the reference's own assertions,
    * opensky_plugin_test.go:104-115). */
  val stateColumns: Seq[(String, DataType)] = Seq(
    "icao24" -> StringType,
    "callsign" -> StringType,
    "origin_country" -> StringType,
    "time_position" -> LongType,
    "last_contact" -> LongType,
    "longitude" -> FloatType,
    "latitude" -> FloatType,
    "baro_altitude" -> FloatType,
    "on_ground" -> BooleanType,
    "velocity" -> FloatType,
    "true_track" -> FloatType,
    "vertical_rate" -> FloatType,
    "sensors" -> ArrayType(IntegerType),
    "geo_altitude" -> FloatType,
    "squawk" -> StringType,
    "spi" -> BooleanType,
    "position_source" -> IntegerType)

  /** MySQL DDL column types, verbatim semantics of acc_init.sql:4-23
    * (epochs as INT, floats as FLOAT, sensors as JSON). */
  val mysqlTypes: Seq[(String, String)] = Seq(
    "time" -> "INT", "icao24" -> "VARCHAR(10)", "callsign" -> "VARCHAR(10)",
    "origin_country" -> "VARCHAR(50)", "time_position" -> "INT",
    "last_contact" -> "INT", "longitude" -> "FLOAT", "latitude" -> "FLOAT",
    "baro_altitude" -> "FLOAT", "on_ground" -> "BOOLEAN", "velocity" -> "FLOAT",
    "true_track" -> "FLOAT", "vertical_rate" -> "FLOAT", "sensors" -> "JSON",
    "geo_altitude" -> "FLOAT", "squawk" -> "VARCHAR(10)", "spi" -> "BOOLEAN",
    "position_source" -> "INT")

  /** `CREATE TABLE IF NOT EXISTS` DDL for the flights table (A10). */
  def createTableDdl(table: String): String =
    mysqlTypes.map { case (n, t) => s"  $n $t" }
      .mkString(s"CREATE TABLE IF NOT EXISTS $table (\n", ",\n", "\n)")

  /** The flights table (FIXTURES.md §2): the envelope `time`, then the
    * state-vector columns; every column nullable. */
  val flightsSchema: StructType = StructType(StructField("time", LongType) +:
    stateColumns.map { case (name, dt) => StructField(name, dt) })

  /** Response bodies → typed rows, decoded on the driver into a local
    * frame (a `LocalRelation`: its row count is known without a job, and
    * `Fanout.writeBatch` writes it without caching). A poll tick is one
    * document, so there is nothing to distribute before the write. Throws
    * on a malformed body. */
  def parseJson(spark: SparkSession, jsons: Seq[String]): Dataset[FlightState] = {
    import spark.implicits._
    val decoder = StatesDecoder(spark)
    val rows = SQLConf.withExistingConf(ColumnBridgeImpl.sqlConf(spark)) {
      decoder.decode(jsons.iterator).map(_.copy()).toVector
    }
    ColumnBridgeImpl.localFrame(spark, flightsSchema, rows).as[FlightState]
  }

  /** Deterministic synthetic response for tests/demos (shape per
    * FIXTURES.md §1; values are generated, not copied). */
  def sampleResponse(nStates: Int, snapshotTime: Long = 1700000000L): String = {
    val states = (0 until nStates).map { i =>
      val lon = -180.0 + (i * 7919 % 3600) / 10.0
      val lat = -90.0 + (i * 104729 % 1800) / 10.0
      s"""["${f"icao$i%06d"}","CS$i","Country${i % 10}",${snapshotTime - i},${snapshotTime},""" +
        s"""$lon,$lat,${1000.0 + i},${i % 2 == 0},${200.0 + i % 50},${i % 360}.0,""" +
        s"""${if (i % 3 == 0) "null" else (i % 20) - 10 + ".5"},${if (i % 5 == 0) "[1,2]" else "null"},""" +
        s"""${1050.0 + i},"${7000 + i % 1000}",${i % 7 == 0},${i % 4}]"""
    }
    s"""{"time":$snapshotTime,"states":[${states.mkString(",")}]}"""
  }
}
