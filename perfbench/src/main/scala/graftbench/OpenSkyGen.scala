package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.util.Random

/** Seeded generator of OpenSky `states/all` bodies in the FIXTURES.md §1
  * shape: `{"time": T, "states": [[17 fields], ...]}`, each state vector
  * in the order graft's parser reads (icao24 first); together with the
  * envelope time a state becomes one 18-column row in FIXTURES.md §2
  * order.
  *
  * A body is a pure function of (seed, body index), so the expected rows
  * of any body can be rebuilt after the run without keeping them in
  * memory. Aircraft recur across bodies: each body draws `statesPerBody`
  * distinct aircraft from a fleet 25% larger than that, and an
  * aircraft's identity (icao24, callsign, country, squawk, sensors)
  * stays fixed while its position drifts from body to body.
  */
final class OpenSkyGen(seed: Long, val statesPerBody: Int) extends Serializable {
  import OpenSkyGen._

  private val fleet = statesPerBody + statesPerBody / 4

  private val aircraft: Array[Aircraft] = {
    val r = new Random(seed)
    Array.tabulate(fleet) { i =>
      Aircraft(
        icao24 = f"${(seed * 7919L + i * 104729L) & 0xffffffL}%06x",
        callsign = if (r.nextInt(20) == 0) null
          else s"${Airlines(r.nextInt(Airlines.length))}${100 + r.nextInt(9000)}",
        country = Countries(r.nextInt(Countries.length)),
        squawk = if (r.nextInt(10) < 3) null else f"${r.nextInt(7777)}%04d",
        sensors = if (r.nextInt(5) != 0) null
          else Seq.fill(1 + r.nextInt(3))(r.nextInt(500)).mkString("[", ",", "]"),
        source = r.nextInt(4),
        lon0 = -180.0 + r.nextDouble() * 360.0,
        lat0 = -80.0 + r.nextDouble() * 160.0,
        dLon = r.nextDouble() * 0.02 - 0.01,
        dLat = r.nextDouble() * 0.02 - 0.01)
    }
  }

  def snapshotTime(body: Int): Long = BaseTime + 10L * body

  /** Body index of a body this generator produced (the envelope time). */
  def bodyIndexOf(body: String): Int = {
    val start = body.indexOf("\"time\":") + 7
    var end = start
    while (end < body.length && body.charAt(end).isDigit) end += 1
    ((body.substring(start, end).toLong - BaseTime) / 10L).toInt
  }

  /** The state vectors of one body, each as its 17 JSON cell texts
    * (`null` for a JSON null). Cells are rendered once and then both
    * serialized into the body and decoded into the expected rows. */
  def states(body: Int): Array[Array[String]] = {
    val r = new Random(seed * 1000003L + body)
    val t = snapshotTime(body)
    val order = Array.range(0, fleet)
    var i = 0
    while (i < statesPerBody) { // partial Fisher-Yates: the body's aircraft
      val j = i + r.nextInt(fleet - i)
      val tmp = order(i); order(i) = order(j); order(j) = tmp
      i += 1
    }
    Array.tabulate(statesPerBody) { k =>
      val a = aircraft(order(k))
      val onGround = r.nextInt(10) == 0
      val lon = wrap(a.lon0 + a.dLon * body, 180.0)
      val lat = math.max(-89.9, math.min(89.9, a.lat0 + a.dLat * body))
      val baro = if (onGround) 0.0 else 300.0 + r.nextInt(12000)
      Array(
        quote(a.icao24),
        quote(a.callsign),
        quote(a.country),
        if (r.nextInt(30) == 0) null else (t - r.nextInt(15)).toString,
        (t - r.nextInt(3)).toString,
        fmt(lon, 4),
        fmt(lat, 4),
        if (r.nextInt(25) == 0) null else fmt(baro, 2),
        onGround.toString,
        fmt(if (onGround) r.nextInt(30) else 80.0 + r.nextInt(200), 2),
        fmt(r.nextInt(3600) / 10.0, 1),
        if (r.nextInt(10) == 0) null else fmt(r.nextInt(400) / 10.0 - 20.0, 2),
        a.sensors,
        if (r.nextInt(7) == 0) null else fmt(baro + r.nextInt(200), 2),
        quote(a.squawk),
        (r.nextInt(50) == 0).toString,
        a.source.toString)
    }
  }

  /** The JSON body served for `body`. */
  def render(body: Int): String = {
    val sb = new java.lang.StringBuilder(statesPerBody * 160)
    sb.append("{\"time\":").append(snapshotTime(body)).append(",\"states\":[")
    val ss = states(body)
    var k = 0
    while (k < ss.length) {
      if (k > 0) sb.append(',')
      sb.append('[')
      var c = 0
      while (c < ss(k).length) {
        if (c > 0) sb.append(',')
        sb.append(if (ss(k)(c) == null) "null" else ss(k)(c))
        c += 1
      }
      sb.append(']')
      k += 1
    }
    sb.append("]}").toString
  }

  /** Expected typed rows of one body, FIXTURES.md §2 column order,
    * decoded from the same cell texts the body carries. */
  def expectedRows(body: Int): Iterator[Row] = {
    val t = snapshotTime(body)
    states(body).iterator.map { s =>
      require(s.length == StateFields, s"state has ${s.length} fields")
      def str(i: Int): Any = if (s(i) == null) null else s(i).substring(1, s(i).length - 1)
      def lng(i: Int): Any = if (s(i) == null) null else java.lang.Long.valueOf(s(i))
      def flt(i: Int): Any = if (s(i) == null) null else java.lang.Float.valueOf(s(i))
      def bool(i: Int): Any = if (s(i) == null) null else java.lang.Boolean.valueOf(s(i))
      val sensors: Any = if (s(12) == null) null
        else s(12).stripPrefix("[").stripSuffix("]").split(',').map(_.toInt).toSeq
      Row(t, str(0), str(1), str(2), lng(3), lng(4), flt(5), flt(6), flt(7),
        bool(8), flt(9), flt(10), flt(11), sensors, flt(13), str(14), bool(15),
        s(16).toInt)
    }
  }
}

object OpenSkyGen {
  /** One aircraft's fixed identity and its drift per body. */
  private final case class Aircraft(icao24: String, callsign: String,
      country: String, squawk: String, sensors: String, source: Int,
      lon0: Double, lat0: Double, dLon: Double, dLat: Double)

  val BaseTime = 1700000000L
  /** Fields of one state vector; with the envelope time, a row has 18. */
  val StateFields = 17

  /** FIXTURES.md §2: the flights table, canonical column order. */
  val rowSchema: StructType = StructType(Seq(
    "time" -> LongType, "icao24" -> StringType, "callsign" -> StringType,
    "origin_country" -> StringType, "time_position" -> LongType,
    "last_contact" -> LongType, "longitude" -> FloatType,
    "latitude" -> FloatType, "baro_altitude" -> FloatType,
    "on_ground" -> BooleanType, "velocity" -> FloatType,
    "true_track" -> FloatType, "vertical_rate" -> FloatType,
    "sensors" -> ArrayType(IntegerType), "geo_altitude" -> FloatType,
    "squawk" -> StringType, "spi" -> BooleanType,
    "position_source" -> IntegerType).map { case (n, t) => StructField(n, t) })

  private val Airlines = Array("DLH", "BAW", "AFR", "UAL", "KLM", "RYR", "EZY",
    "SWR", "AAL", "DAL", "THY", "QTR", "UAE", "SAS", "IBE", "AUA")
  private val Countries = Array("Germany", "United Kingdom", "France",
    "United States", "Netherlands", "Ireland", "Switzerland", "Turkey",
    "Qatar", "United Arab Emirates", "Sweden", "Spain", "Austria", "Italy",
    "Poland", "Canada", "Japan", "Brazil", "India", "Australia")

  private def quote(s: String): String = if (s == null) null else "\"" + s + "\""
  private def wrap(v: Double, lim: Double): Double =
    ((v + lim) % (2 * lim) + 2 * lim) % (2 * lim) - lim
  private def fmt(v: Double, decimals: Int): String =
    java.math.BigDecimal.valueOf(v).setScale(decimals,
      java.math.RoundingMode.HALF_EVEN).toPlainString
}
