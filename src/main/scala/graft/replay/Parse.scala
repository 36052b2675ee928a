package graft.replay

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** R5–R6 — projection + malformed-row drop.
  *
  * The reference parses each line with Jackson but reads exactly one
  * attribute (JsonEvent.java:81-100); a missing/unparseable timestamp is
  * dropped with a warning (JsonEventS3Iterator.java:187-193). The payload is
  * passed through byte-for-byte with a trailing '\n' force-appended
  * (JsonEvent.java:43-49).
  *
  * Spark-first: `get_json_object` extracts the one attribute without
  * materializing the full document; a failed ISO-8601 cast yields NULL,
  * and the null-filter reproduces drop-and-continue semantics exactly.
  */
object Parse {

  /** lines(value) -> (payload, timestamp), malformed rows dropped.
    * The attribute is addressed with the bracket-quoted JSON path form —
    * `$.name` would re-interpret a key containing '.' as nesting (the
    * reference's Jackson `node.get(name)` is a flat lookup), silently
    * extracting null from every row.
    *
    * Spark's JsonPathParser disallows quote characters inside $['...']
    * entirely (a backslash is not an escape there either), so a name
    * containing one cannot be expressed as a JSON path at all — emitting it
    * anyway would make get_json_object return NULL for every row and the
    * malformed-row filter would then silently drop the whole input. Fail
    * loudly at plan-build time instead. */
  def parsed(lines: DataFrame, timestampAttributeName: String): DataFrame = {
    // Spark's JsonPathParser named-field rule is `[^\'\?]+` — nonempty,
    // no quotes, no '?' (and a backslash is not an escape) — so any name
    // outside it is inexpressible and would NULL-out every row
    require(timestampAttributeName.nonEmpty,
      "timestamp attribute name must be non-empty")
    require(!timestampAttributeName.exists(c =>
        c == '\'' || c == '"' || c == '\\' || c == '?'),
      "timestamp attribute name contains a quote, backslash or '?', which " +
        s"Spark's JSON path syntax cannot address: $timestampAttributeName")
    val escaped = timestampAttributeName
    lines
      .select(
        // text source strips the line terminator, so append exactly one.
        concat(col("value"), lit("\n")).as("payload"),
        try_to_timestamp(
          get_json_object(col("value"), s"$$['$escaped']"))
          .as("timestamp"))
      .filter(col("timestamp").isNotNull)
  }

  /** R7 — exact seek: replay only events at/after `seekTo`. The reference's
    * version is a sampled skip-scan (10k-line hops,
    * JsonEventS3Iterator.java:79-101) and therefore approximate; a pushed
    * predicate is exact and becomes partition/row-group pruning on
    * sorted/partitioned data. */
  def seek(df: DataFrame, seekTo: Option[java.time.Instant]): DataFrame =
    seekTo.fold(df)(i =>
      df.filter(col("timestamp") >= lit(java.sql.Timestamp.from(i))))

  /** The replay record, the one format both replay paths send:
    * `(event ms, payload bytes)` per row of a [[parsed]] relation. The
    * payload is encoded as UTF-8 from its Java string, so an invalid
    * UTF-8 sequence in the input is sent as U+FFFD (EF BF BD), as the
    * reference does through Java strings. */
  def records(events: DataFrame): RDD[(Long, Array[Byte])] =
    events.select(unix_millis(col("timestamp")), col("payload"))
      .queryExecution.toRdd
      .map(r => (r.getLong(0), r.getUTF8String(1).toString.getBytes(UTF_8)))
}
