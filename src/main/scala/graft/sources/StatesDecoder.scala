package graft.sources

import com.fasterxml.jackson.core.{JsonEncoding, JsonParser, JsonProcessingException}
import com.fasterxml.jackson.core.JsonToken._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridgeImpl
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.ByteArrayOutputStream
import scala.collection.mutable.ArrayBuffer

/** One streaming pass from an OpenSky states/all document
  * (`{"time": T, "states": [[17 cells], ...]}`, FIXTURES.md §1) to rows
  * in the flights schema ([[OpenSky.flightsSchema]]).
  *
  * Each cell converts exactly as `from_json` into
  * `ARRAY<ARRAY<STRING>>`, `element_at` and a positional cast would: a
  * JSON string becomes its text, a JSON `null` becomes null, and any other
  * token becomes the text Spark's `JacksonParser` gives a string field (the
  * token re-serialized by a generator of the same factory). The typed
  * value then comes from Spark's own `ElementAt` and `Cast` (`JsonToStructs`
  * for `sensors`), built here under the session's `SQLConf`, so ANSI errors
  * — an invalid cast, a state shorter than 17 cells — are Spark's. Cells
  * past the 17th are ignored, and a `null` state is a row of nulls beside
  * the envelope time.
  *
  * The document itself is strict: a body that is not one JSON object,
  * whose `time` is not an integer or whose `states` is not an array of
  * arrays (either may be null or absent) throws
  * [[IllegalArgumentException]], so a malformed poll body fails its tick
  * instead of ingesting 0 rows.
  *
  * Serializable: the expressions are built once on the driver and shipped
  * to tasks; each [[decode]] call compiles (or reuses from Spark's cache)
  * the projection and builds its parser state, so one decoder serves
  * concurrent callers.
  */
final class StatesDecoder private (json: JSONOptions, columns: Seq[Expression])
    extends Serializable {

  /** Rows of `bodies` in order, as one reused [[UnsafeRow]]: copy a row
    * to keep it. Each document is read whole before its first row. */
  def decode(bodies: Iterator[String]): Iterator[InternalRow] = {
    val run = new Run
    bodies.flatMap(run.document)
  }

  /** Parser state of one [[decode]] call. */
  private final class Run {
    private val factory = json.buildJsonFactory()
    private val project = UnsafeProjection.create(columns)
    private val cells = ArrayBuffer.empty[Any]
    // re-serializes non-string cells as JacksonParser's string converter
    // does; no separator between the root-level values it writes
    private val copied = new ByteArrayOutputStream(64)
    private val copier = factory.createGenerator(copied, JsonEncoding.UTF8)
    copier.setRootValueSeparator(null)

    def document(body: String): Iterator[InternalRow] = {
      // both fields are read before any row is made: "time" may follow
      // "states", and a repeated field replaces the earlier one
      var time: java.lang.Long = null
      var states = ArrayBuffer.empty[ArrayData]
      val p = factory.createParser(body)
      try {
        if (p.nextToken() != START_OBJECT) malformed(p, "a JSON object")
        while (p.nextToken() == FIELD_NAME) {
          val field = p.currentName
          p.nextToken()
          field match {
            case "time" => time = p.currentToken match {
              case VALUE_NUMBER_INT => java.lang.Long.valueOf(p.getLongValue)
              case VALUE_NULL => null
              case _ => malformed(p, "an integer \"time\"")
            }
            case "states" => states = readStates(p)
            case _ => p.skipChildren()
          }
        }
        if (p.nextToken() != null) malformed(p, "one JSON object")
      } catch {
        case e: JsonProcessingException =>
          throw new IllegalArgumentException(
            s"malformed OpenSky states document: ${e.getOriginalMessage}", e)
      } finally p.close()
      val input = new GenericInternalRow(Array[Any](time, null))
      states.iterator.map { s => input.update(1, s); project(input) }
    }

    private def readStates(p: JsonParser): ArrayBuffer[ArrayData] = {
      val states = ArrayBuffer.empty[ArrayData]
      p.currentToken match {
        case VALUE_NULL =>
        case START_ARRAY =>
          while (p.nextToken() != END_ARRAY) p.currentToken match {
            case START_ARRAY => states += readCells(p)
            case VALUE_NULL => states += null
            case _ => malformed(p, "\"states\" of arrays")
          }
        case _ => malformed(p, "an array \"states\"")
      }
      states
    }

    private def readCells(p: JsonParser): ArrayData = {
      cells.clear()
      while (p.nextToken() != END_ARRAY) cells += (p.currentToken match {
        case VALUE_STRING => UTF8String.fromString(p.getText)
        case VALUE_NULL => null
        case _ =>
          copier.copyCurrentStructure(p)
          copier.flush()
          val text = UTF8String.fromBytes(copied.toByteArray)
          copied.reset()
          text
      })
      new GenericArrayData(cells.toArray)
    }

    private def malformed(p: JsonParser, expected: String): Nothing =
      throw new IllegalArgumentException(
        s"malformed OpenSky states document: expected $expected, found " +
          s"${p.currentToken} at ${p.currentTokenLocation}")
  }
}

object StatesDecoder {
  /** A decoder whose casts follow `spark`'s current SQLConf (ANSI mode,
    * session time zone). */
  def apply(spark: SparkSession): StatesDecoder = {
    val conf = ColumnBridgeImpl.sqlConf(spark)
    SQLConf.withExistingConf(conf) {
      val tz = Some(conf.sessionLocalTimeZone)
      val state = BoundReference(1, ArrayType(StringType), nullable = true)
      val columns = BoundReference(0, LongType, nullable = true) +:
        OpenSky.stateColumns.zipWithIndex.map { case ((_, dt), i) =>
          val cell = ElementAt(state, Literal(i + 1), None, conf.ansiEnabled)
          dt match {
            case StringType => cell
            // sensors arrives as a JSON array literal inside a string cell
            case ArrayType(IntegerType, _) => JsonToStructs(dt, Map.empty, cell, tz)
            case other => Cast(cell, other, tz, EvalMode.fromSQLConf(conf))
          }
        }
      new StatesDecoder(new JSONOptions(Map.empty[String, String],
        conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord), columns)
    }
  }
}
