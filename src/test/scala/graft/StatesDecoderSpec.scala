package graft

import graft.sources.OpenSky
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Random, Try}

/** The ingest decoder against the `from_json` → `posexplode_outer` →
  * positional-cast pipeline it replaced, which lives on here as the oracle
  * only: on every input the two give the same rows, float bits included,
  * or both throw. */
class StatesDecoderSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** The replaced parse, verbatim apart from the envelope schema's home. */
  private def oracle(docs: Seq[String]): DataFrame = {
    val envelope = StructType(Seq(StructField("time", LongType),
      StructField("states", ArrayType(ArrayType(StringType)))))
    val env = spark.createDataset(docs).toDF("value")
      .select(from_json($"value", envelope).as("r"))
      .select($"r.time".as("snapshot_time"), $"r.states".as("states"))
    val parsed = env.select($"snapshot_time", posexplode_outer($"states").as(Seq("pos", "state")))
      .where($"pos".isNotNull)
    val cols = col("snapshot_time").as("time") +:
      OpenSky.stateColumns.zipWithIndex.map { case ((name, dt), i) =>
        val v = element_at(col("state"), i + 1)
        (dt match {
          case ArrayType(IntegerType, _) => from_json(v, ArrayType(IntegerType))
          case other => v.cast(other)
        }).as(name)
      }
    parsed.select(cols: _*)
  }

  private def local(docs: Seq[String]): DataFrame = OpenSky.parseJson(spark, docs).toDF()

  /** Rows as sorted strings in which a float is its raw bits. */
  private def bits(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).sorted

  /** The error condition of the first Spark error in `t`'s cause chain. */
  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  private def outcome(df: => DataFrame): Either[Throwable, Seq[String]] =
    Try(bits(df.collect().toSeq)).toEither

  /** A valid 17-cell state vector, as JSON cell texts. */
  private val base = Seq("\"abc123\"", "\"CS1\"", "\"Testland\"", "1700000100", "1700000120",
    "10.5", "20.25", "1000.0", "false", "250.5", "90.0", "null", "[3,7]", "1050.0",
    "\"7700\"", "true", "1")
  private def state(cells: Seq[String]): String = cells.mkString("[", ",", "]")
  private def doc(states: String*): String =
    s"""{"time": 1700000123, "states": [${states.mkString(",")}]}"""

  /** Bodies in the shape of the benchmark's generator: 4- and 2-decimal
    * floats, nulls in most columns, `sensors` arrays, quoted strings. */
  private def generated(seed: Long, n: Int): String = {
    val r = new Random(seed)
    def fmt(v: Double, d: Int) = java.math.BigDecimal.valueOf(v)
      .setScale(d, java.math.RoundingMode.HALF_EVEN).toPlainString
    def orNull(p: Int)(v: => String) = if (r.nextInt(p) == 0) "null" else v
    val t = 1700000000L + seed
    (0 until n).map { i =>
      state(Seq(f"\"${r.nextInt(0xffffff)}%06x\"", orNull(20)(s"\"DLH${r.nextInt(9000)}\""),
        "\"Germany\"", orNull(30)((t - r.nextInt(15)).toString), (t - r.nextInt(3)).toString,
        fmt(r.nextDouble() * 360 - 180, 4), fmt(r.nextDouble() * 160 - 80, 4),
        orNull(25)(fmt(300.0 + r.nextInt(12000), 2)), (r.nextInt(10) == 0).toString,
        fmt(80.0 + r.nextInt(200), 2), fmt(r.nextInt(3600) / 10.0, 1),
        orNull(10)(fmt(r.nextInt(400) / 10.0 - 20.0, 2)),
        if (r.nextInt(5) != 0) "null" else Seq.fill(1 + r.nextInt(3))(r.nextInt(500)).mkString("[", ",", "]"),
        orNull(7)(fmt(1000.0 + r.nextInt(200), 2)), orNull(3)(f"\"${r.nextInt(7777)}%04d\""),
        (r.nextInt(50) == 0).toString, r.nextInt(4).toString))
    }.mkString(s"""{"time":$t,"states":[""", ",", "]}")
  }

  private val fixtures: Seq[(String, String)] = Seq(
    // FIXTURES.md §1 verbatim: 18 cells, a leading timestamp
    "fixtures §1" -> """{"time": 1234567890, "states": [[1234567890, "abc123", "CALLSIGN",
      "Country", 1234567890, 1234567890, 10.0, 20.0, 30.0, true, 40.0, 50.0, 60.0, null,
      70.0, "SQUAWK", true, 1]]}""",
    "sample" -> OpenSky.sampleResponse(50),
    "generated 1" -> generated(1, 300),
    "generated 2" -> generated(2, 300),
    "nulls" -> doc(state(base), state(Seq("\"def456\"", "null", "\"Otherland\"", "null",
      "1700000121") ++ Seq.fill(7)("null") ++ Seq("null", "null", "null", "false", "0"))),
    "states []" -> """{"time": 5, "states": []}""",
    "states null" -> """{"time": 5, "states": null}""",
    "states absent" -> """{"time": 5}""",
    "time absent" -> s"""{"states": [${state(base)}]}""",
    "time null" -> s"""{"time": null, "states": [${state(base)}]}""",
    "time after states" -> s"""{"states": [${state(base)}], "time": 7}""",
    "null state" -> doc("null", state(base)),
    "other fields" -> s"""{"time": 1, "extra": {"a": [1, {"b": null}]}, "states": [${state(base)}]}""",
    "sensors" -> doc(Seq("[]", "[1, null]", "[ 4,5 ]", "\"[6,7]\"", "[1.5]", "[2147483648]",
      "{\"a\":1}", "\"x\"").map(s => state(base.updated(12, s))): _*),
    "18 cells" -> doc(state(base :+ "\"extra\"")),
    "16 cells" -> doc(state(base.dropRight(1))))

  /** Cells Spark's cast treats specially, as JSON strings and as JSON
    * numbers, each put in a string, long, float, boolean, sensors and int
    * column. */
  private val cells = Seq("\"1e3\"", "\" 12 \"", "\"NaN\"", "\"Infinity\"", "\"TRUE\"",
    "1e3", "-0.0", "-0", "123456789012345678901234567890")
  private val special: Seq[(String, String)] = for {
    c <- cells
    pos <- Seq(0, 3, 5, 8, 12, 16)
  } yield s"$c at ${OpenSky.stateColumns(pos)._1}" -> doc(state(base.updated(pos, c)))

  test("decoder parity: the from_json pipeline's rows, float bits included, or its error") {
    val ok = (fixtures ++ special).filter { case (name, body) =>
      val want = outcome(oracle(Seq(body)))
      val got = outcome(local(Seq(body)))
      (want, got) match {
        case (Right(w), Right(g)) => assert(g === w, name)
        case (Left(w), Left(g)) =>
          assert(condition(g) === condition(w), s"$name: $g\nvs the oracle's $w")
        case _ => fail(s"$name: $got, the oracle $want")
      }
      want.isRight
    }.map(_._2)
    assert(ok.size > fixtures.size) // the oracle throws on only part of the inputs
    // across all of them at once too, as the set comparison the ingest checks use
    val want = oracle(ok)
    val got = local(ok)
    assert(got.schema === want.schema)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("decoder: a body that is not a states document throws") {
    val truncated = OpenSky.sampleResponse(20)
    Seq("<html><body>502 Bad Gateway</body></html>", truncated.take(truncated.length / 2),
      """{"time": 1""", "", "null", "[]", """{"time": "x", "states": []}""", """{"time": 1.5, "states": []}""",
      """{"time": 1, "states": {}}""", """{"time": 1, "states": [1]}""",
      """{"time": 1, "states": []} {"time": 2, "states": []}""").foreach { body =>
      val e = intercept[IllegalArgumentException](local(Seq(body)))
      assert(e.getMessage.startsWith("malformed OpenSky states document"), body)
    }
  }
}
