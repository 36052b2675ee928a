package graft.replay

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** R6/R9 — the simulated-ingestion-time schedule.
  *
  * Reference semantics (JsonEvent.java:95-97): each event's ingestion time
  * is `ingestionStart + round((eventTime − firstEventTime) / speedupFactor)`
  * — `Math.round` of the scaled delta at millisecond precision
  * (JsonEvent.java:96 `toMillis`), with a *fractional* speedup factor
  * accepted (DEFAULT_SPEEDUP_FACTOR is a float, RePlayer.java:23).
  *
  * We therefore take `speedupFactor: Double` and round half-up. For the
  * common integral-speedup case the division is done in exact integer
  * space — `floor((2Δ + s) / 2s)` is identical to `Math.round(Δ/s)` in
  * exact arithmetic — with no libm in the loop. [[ingestionMs]] is the one
  * place this rule lives: both replay paths call it per record in their
  * sink task ([[Sink.replay]]), and [[withIngestionTime]] calls it as a UDF.
  *
  * The reference anchors `firstEventTime` statefully on the first parsed
  * event (JsonEvent.java:91-93); declaratively that anchor is `min(ts)`,
  * computed once and broadcast — one tiny scalar exchanged, no shuffle of
  * the event stream itself.
  */
object Schedule {

  /** Integral speedups small enough that `2Δ + s` / `2s` cannot overflow. */
  private def integralSpeedup(s: Double): Option[Long] =
    if (s.isWhole && s >= 1.0 && s <= (Long.MaxValue / 4).toDouble)
      Some(s.toLong)
    else None

  /** `2Δ + s` is overflow-safe only while |Δ| stays under this bound; larger
    * deltas (pathological timestamps) fall back to the double path, which is
    * exact to well under 1 ms at that magnitude. */
  private[replay] val MaxExactDeltaMs: Long = Long.MaxValue / 4

  /** Adds `ingestion_time` (timestamp) + `ingestion_ms` (epoch millis),
    * anchored at the relation's earliest event. */
  def withIngestionTime(events: DataFrame, speedupFactor: Double,
      ingestionStartMs: Long): DataFrame = {
    val anchor = events.agg(min(unix_millis(col("timestamp"))).as("first_ms"))
    val due = udf((eventMs: Long, firstMs: Long) =>
      ingestionMs(eventMs, firstMs, ingestionStartMs, speedupFactor))
    events
      .crossJoin(broadcast(anchor))
      .withColumn("ingestion_ms", due(unix_millis(col("timestamp")), col("first_ms")))
      .withColumn("ingestion_time", timestamp_millis(col("ingestion_ms")))
      .drop("first_ms")
  }

  /** An event's due time: exact integer half-up for integral speedups,
    * `Math.round` (the reference's operator) otherwise. */
  def ingestionMs(eventMs: Long, firstEventMs: Long, ingestionStartMs: Long,
      speedupFactor: Double): Long = {
    val delta = eventMs - firstEventMs
    integralSpeedup(speedupFactor) match {
      // explicit two-sided bound (abs(Long.MinValue) is negative)
      case Some(s) if delta >= -MaxExactDeltaMs && delta <= MaxExactDeltaMs =>
        ingestionStartMs + Math.floorDiv(2 * delta + s, 2 * s)
      case _ => ingestionStartMs + Math.round(delta / speedupFactor)
    }
  }
}
