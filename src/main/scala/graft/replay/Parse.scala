package graft.replay

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, Expression, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** R5–R7 — projection, malformed-row drop and seek.
  *
  * The reference parses each line with Jackson but reads exactly one
  * attribute (JsonEvent.java:81-100); a missing/unparseable timestamp is
  * dropped with a warning (JsonEventS3Iterator.java:187-193). The payload is
  * passed through byte-for-byte with a trailing '\n' force-appended
  * (JsonEvent.java:43-49).
  *
  * The event time of a line is defined as Spark's
  * `try_to_timestamp(get_json_object(value, "$['name']"))`, and [[EventTime]]
  * is the one place that computes it. `get_json_object` builds a
  * Reader-based Jackson parser per row, reads the whole document through
  * it and writes the match out through a `JsonGenerator`. [[EventTime]]
  * finds the same value in one byte-level Jackson pass per line and
  * evaluates the Spark expression itself only for the lines where the two
  * parsers could disagree. A line without an event time is dropped.
  */
object Parse {

  /** The attribute is addressed with the bracket-quoted JSON path form —
    * `$.name` would re-interpret a key containing '.' as nesting (the
    * reference's Jackson `node.get(name)` is a flat lookup). Spark's
    * JsonPathParser named-field rule is `[^\'\?]+`: nonempty, no quotes,
    * no '?', and a backslash is not an escape. A name outside it cannot be
    * expressed as a JSON path at all, and would drop every row, so it
    * fails here, before any job runs. */
  def requireAddressable(timestampAttributeName: String): Unit = {
    require(timestampAttributeName.nonEmpty,
      "timestamp attribute name must be non-empty")
    require(!timestampAttributeName.exists(c =>
        c == '\'' || c == '"' || c == '\\' || c == '?'),
      "timestamp attribute name contains a quote, backslash or '?', which " +
        s"Spark's JSON path syntax cannot address: $timestampAttributeName")
  }

  /** lines(value) -> (payload, timestamp), rows without an event time
    * dropped. Works on streaming relations too. */
  def parsed(lines: DataFrame, timestampAttributeName: String): DataFrame = {
    val time = EventTime(lines, timestampAttributeName)
    lines
      .select(
        // text source strips the line terminator, so append exactly one.
        concat(col("value"), lit("\n")).as("payload"),
        GraftBridge.column(EventTimeOf(GraftBridge.expression(col("value")), time))
          .as("timestamp"))
      .filter(col("timestamp").isNotNull)
  }

  /** The replay record, the one format both replay paths send:
    * `(event ms, payload bytes)` per line of `lines` that has an event
    * time at or after `seekTo`, in one pass over the scanned rows.
    *
    * R7: the seek is exact. The reference's version is a sampled skip-scan
    * (10k-line hops, JsonEventS3Iterator.java:79-101) and therefore
    * approximate. It compares microseconds with the value that
    * `lit(java.sql.Timestamp.from(seekTo))` holds, and the event ms is the
    * floor of the event microseconds, as `unix_millis` gives.
    *
    * The payload of an ASCII line is its bytes plus '\n'. A line with other
    * bytes is encoded as UTF-8 from its Java string, so an invalid UTF-8
    * sequence in the input is sent as U+FFFD (EF BF BD), as the reference
    * does through Java strings. */
  def records(lines: DataFrame, timestampAttributeName: String,
      seekTo: Option[java.time.Instant]): RDD[(Long, Array[Byte])] = {
    val time = EventTime(lines, timestampAttributeName)
    val fromUs = seekTo.fold(Long.MinValue)(i =>
      Literal(java.sql.Timestamp.from(i)).value.asInstanceOf[Long])
    val value = lines.schema.fieldIndex("value")
    lines.queryExecution.toRdd.mapPartitions { rows =>
      val reader = time.reader()
      rows.map(r => reader.record(r.getUTF8String(value), fromUs)).filter(_ != null)
    }
  }
}

/** The event-time rule of both replay paths: the microseconds of
  * `try_to_timestamp(get_json_object(value, "$['name']"))` in the session
  * time zone, or none.
  *
  * A [[EventTime.Reader]] parses a line once with a Jackson byte parser
  * built like Spark's JSON-expression parser factory (unescaped control
  * characters and single quotes allowed). It walks the top-level object,
  * skips every non-matching value and takes the first non-null match, as
  * `get_json_object` does, then reads on to the object's end, so a
  * malformed tail still drops the line. A string match is converted with
  * `DateTimeUtils.stringToTimestamp`, the string-to-timestamp cast that
  * `try_to_timestamp` applies.
  *
  * `get_json_object` reads through a `java.io.Reader`, and Jackson's
  * Reader and byte parsers differ on some input: the byte parser rejects
  * an unescaped control character inside a single-quoted string, which the
  * Reader parser accepts, and it skips a leading byte-order mark, which the
  * Reader parser rejects. So a line goes through the byte parser only when
  * every byte is printable ASCII (0x20–0x7E), the parse throws nothing and
  * the first match is a string whose text is printable ASCII. Any other
  * line is read by `exact`, the Spark expression itself, evaluated
  * interpreted on that line. PropertySpec checks the two against each
  * other on generated lines. */
private[graft] final class EventTime private (name: String, zoneId: String,
    exact: Expression) extends Serializable {
  import EventTime._

  def reader(): Reader = new Reader

  /** One task's reader: not thread-safe. */
  final class Reader private[EventTime] {
    private val zone = DateTimeUtils.getZoneId(zoneId)
    private var us = 0L

    /** `(event ms, value bytes + '\n')` when the line has an event time at
      * or after `fromUs`, else null. */
    def record(value: UTF8String, fromUs: Long): (Long, Array[Byte]) = {
      val n = value.numBytes
      val line = new Array[Byte](n + 1)
      value.writeToMemory(line, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      line(n) = '\n'.toByte
      val ascii = allPrintable(line, n)
      if (!read(value, line, n, ascii) || us < fromUs) null
      else (Math.floorDiv(us, 1000L),
        if (ascii) line else UTF8String.concat(value, Newline).toString.getBytes(UTF_8))
    }

    /** The event microseconds as a `TimestampType` value, or null. */
    def timestamp(value: UTF8String): Any = {
      val line = value.getBytes
      if (read(value, line, line.length, allPrintable(line, line.length))) us else null
    }

    private def allPrintable(line: Array[Byte], n: Int): Boolean = {
      var i = 0
      while (i < n) { if (!printable(line(i))) return false; i += 1 }
      true
    }

    /** Sets `us` and returns true when `value` (`line(0 until n)`) has an
      * event time. */
    private def read(value: UTF8String, line: Array[Byte], n: Int, ascii: Boolean): Boolean =
      (if (ascii) scan(line, n) else Undecided) match {
        case Found => true
        case Absent => false
        case _ =>
          exact.eval(InternalRow(value)) match {
            case null => false
            case t: Long => us = t; true
          }
      }

    /** The byte-parser pass over a printable-ASCII line. */
    private def scan(line: Array[Byte], n: Int): Int = {
      val p = factory.createParser(line, 0, n)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return Absent
        var text: String = null
        var t = p.nextToken()
        while (t == JsonToken.FIELD_NAME) {
          val v = p.nextToken()
          if (text == null && v != JsonToken.VALUE_NULL && p.currentName == name) {
            // get_json_object re-serializes any other value type
            if (v != JsonToken.VALUE_STRING) return Undecided
            text = p.getText
          } else p.skipChildren()
          t = p.nextToken()
        }
        if (t != JsonToken.END_OBJECT) Undecided
        else if (text == null) Absent
        else if (!text.forall(c => printable(c))) Undecided
        else DateTimeUtils.stringToTimestamp(UTF8String.fromString(text), zone) match {
          case Some(v) => us = v; Found
          case None => Absent
        }
      } catch {
        case _: Exception => Undecided
      } finally p.close()
    }
  }
}

private[graft] object EventTime {

  /** The rule for `lines`' `value` column, in its session's time zone. */
  def apply(lines: DataFrame, name: String): EventTime = {
    Parse.requireAddressable(name)
    val analyzed = lines
      .select(try_to_timestamp(get_json_object(col("value"), s"$$['$name']")))
      .queryExecution.analyzed.expressions.head
    def replace(e: Expression): Expression =
      e.transformDown { case r: RuntimeReplaceable => replace(r.replacement) }
    val exact = replace(analyzed).transformUp {
      case Alias(child, _) => child
      case a: AttributeReference => BoundReference(0, a.dataType, a.nullable)
    }
    new EventTime(name, lines.sparkSession.conf.get("spark.sql.session.timeZone"), exact)
  }

  private val factory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  private final val Absent = 0
  private final val Found = 1
  private final val Undecided = 2

  private def printable(b: Int): Boolean = b >= 0x20 && b <= 0x7e

  private val Newline = UTF8String.fromString("\n")
}

/** [[EventTime]] as a column: the `timestamp` of [[Parse.parsed]]. */
private[replay] final case class EventTimeOf(child: Expression, time: EventTime)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val reader = time.reader()
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override protected def nullSafeEval(value: Any): Any =
    reader.timestamp(value.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): EventTimeOf =
    copy(child = newChild)
}
