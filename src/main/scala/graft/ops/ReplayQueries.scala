package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Batch-queryable forms of the reference's replay dataflow operators
  * (SURVEY.md §2A), expressed on the driver's `events` table so each has a
  * DuckDB oracle. The live streaming forms live in `graft.replay`.
  *
  * Reference semantics reproduced here:
  *  - r01: the affine event-time → wall-clock schedule
  *    `ingestion = start + round((ts - first_ts)/speedup)`
  *    (JsonEvent.java:95-97, Math.round at ms precision per
  *    JsonEvent.java:96), with start pinned to 0 so the result is
  *    deterministic.
  *  - r02: the seek — exact `ts >= target` predicate-pushdown form of the
  *    reference's sampled skip-scan (JsonEventS3Iterator.java:79-101).
  *  - r03: the bounded reorder buffer's output order — a total order by
  *    (ts, event_id) (JsonEventBufferedReader.java:39-47 orders by event
  *    timestamp; we add the unique key for a deterministic tiebreak).
  *  - r04: the sink's ≤500-record micro-batching (KinesisProducer.java:25).
  *  - r05: the 20s-tumbling statistics window generalized to event-time
  *    (RePlayer.java:145-162) — count, rate, high-water-mark.
  */
object ReplayQueries {

  val SpeedupFactor = 6480L // RePlayer.java:23 default

  /** R6/R9 — simulated ingestion schedule at speedup 6480, anchored at 0.
    * Round-half-up like the reference's `Math.round` (JsonEvent.java:95),
    * done in exact integer space — `(2Δ+s) div 2s` — so both engines agree
    * with no floating point in the loop (delta ≥ 0 ⇒ div == floor). */
  def r01Schedule(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val first = ev.agg(min(col("ts")).as("first_ts"))
    ev.crossJoin(broadcast(first))
      .withColumn("delta", tsMs(col("ts")) - tsMs(col("first_ts")))
      .select(
        col("event_id"),
        tsMs(col("ts")).as("ts_ms"),
        expr(s"(2 * delta + $SpeedupFactor) div ${2 * SpeedupFactor}")
          .as("ingest_ms"))
      .orderBy(col("event_id"))
  }

  /** R7 — exact seek: everything at/after the target instant. */
  def r02Seek(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp"))
      .select(col("event_id"), tsMs(col("ts")).as("ts_ms"), col("event_type"))
      .orderBy(col("event_id"))

  /** Scalable global dense sequence in (ts, event_id) order — the two-pass
    * shape: (1) one pass computes approximate ts quantiles ONCE on the
    * driver and freezes them as literal bucket boundaries; (2) rows are
    * bucketed by those literals (a pure row function — deterministic
    * across every recomputation and independent of exchange reuse, which
    * a `repartitionByRange`-based variant silently depends on, since its
    * sampled boundaries differ per materialization), ranked inside each
    * bucket by a PARTITIONED window (no single-task funnel), and offset
    * by the cumulative bucket counts — a triangular self-join over the
    * ≤nBuckets-row count relation, not a global window.
    *
    * Global order holds because the bucket id is monotone in ts and ties
    * on ts share a bucket; in-bucket rank is deterministic on the unique
    * (ts, event_id) key. Skew bound: a single ts value held by a huge
    * fraction of rows would collapse into one bucket — for replay data ts
    * is near-unique; heavier duplication warrants sub-bucket salting. */
  // boundary sets are tiny (≤ nBuckets-1 doubles) and identical for every
  // query over the same SF dir — pay the pass-1 scan once per process
  @transient private val boundsCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Double]]

  // r03 and r04 rank the SAME (event_id, ts) relation: persist the ranked
  // result per app/dir so the second query reuses the first's sequence —
  // the same PerAppCache keying as the dedup shingle/pair relations.
  private def persistEmitRank(s: SparkSession, d: String): DataFrame =
    PerAppCache.cachedPerApp("ReplayQueries.emitRank", s, d)(
      withEmitRank(t(s, d, "events").select(col("event_id"), col("ts")), d)
        .select(col("event_id"), col("ts"), col("emit_rank"))
        .persist())

  private def withEmitRank(ev: DataFrame, dir: String): DataFrame = {
    // capped like TrainingData.packSequences: 1024-way is ample rank
    // parallelism; the native binary-search bucketizer (BucketIndex)
    // keeps per-row cost and plan size independent of the cap
    val nBuckets = math.min(1024,
      ev.sparkSession.sessionState.conf.numShufflePartitions)
    // pass 1: boundary scan (the only driver-visible data: nBuckets-1 longs)
    val bounds = boundsCache.getOrElseUpdate(dir, {
      val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      // nBuckets == 1 (a 1-partition session) needs no boundaries — skip
      // the quantile pass rather than scanning the corpus for zero
      // quantiles (the packSequences twin carries the same guard)
      if (probs.isEmpty) Array.empty[Double]
      else ev.select(tsMs(col("ts")).as("v"))
        .stat.approxQuantile("v", probs, 0.001).distinct.sorted
    })
    val bucket = graft.functions.RangeFunctions.bucket_index(
      tsMs(col("ts")).cast("double"), bounds.toSeq)
    // pass 2: per-bucket rank + broadcast cumulative offsets (counts come
    // from the pre-window relation — the count branch never sorts)
    val bucketed = ev.withColumn("bkt", bucket)
    val ranked = bucketed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("ts"), col("event_id"))))
    val counts = bucketed.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
    val offsets = counts.as("a")
      .join(counts.select(col("bkt").as("b_bkt"), col("cnt").as("b_cnt")),
        col("b_bkt") < col("a.bkt"), "left")
      .groupBy(col("a.bkt"))
      .agg(coalesce(sum(col("b_cnt")), lit(0L)).as("offset"))
      .select(col("bkt"), col("offset"))
    // emit_rank stays LONG: past 2^31 rows an int cast throws under ANSI
    // (the whole point of this form is surviving that scale)
    ranked.join(broadcast(offsets), "bkt")
      .withColumn("emit_rank", col("offset") + col("rn"))
  }

  /** R8 — emission order of the reorder stage: rank in (ts, event_id)
    * order, via the range-partitioned two-pass sequence (no global-window
    * single-partition funnel — would not survive a 100× scale-up). */
  def r03Reorder(s: SparkSession, d: String): DataFrame =
    persistEmitRank(s, d)
      .select(col("event_id"), col("emit_rank"))
      .orderBy(col("event_id"))

  /** R10 — sink micro-batching: batch id + per-batch size, all ≤500.
    * Same scalable sequence; batch ids derive from the global rank. */
  def r04Batches(s: SparkSession, d: String): DataFrame =
    persistEmitRank(s, d)
      .withColumn("batch_id", floor((col("emit_rank") - 1) / lit(500.0)))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_records"))
      .orderBy(col("batch_id"))

  /** R12 — monitoring aggregation as an event-time tumbling window:
    * per-hour event count, summed value (exact cents), high-water mark. */
  def r05Stats(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("sum_value"),
        max(tsMs(col("ts"))).as("high_water_ms"))
      .select(tsMs(col("window_start")).as("window_start_ms"),
        col("n_events"), col("sum_value"), col("high_water_ms"))
      .orderBy(col("window_start_ms"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r01_schedule" -> (r01Schedule _),
    "r02_seek" -> (r02Seek _),
    "r03_reorder" -> (r03Reorder _),
    "r04_batches" -> (r04Batches _),
    "r05_stats_window" -> (r05Stats _))

  val oracles: Map[String, String] = Map(
    "r01_schedule" ->
      """SELECT event_id,
        | epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        | (2 * (epoch_ms(CAST(ts AS TIMESTAMP)) - (SELECT min(epoch_ms(CAST(ts AS TIMESTAMP))) FROM events)) + 6480) // 12960 AS ingest_ms
        |FROM events ORDER BY event_id""".stripMargin,
    "r02_seek" ->
      """SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, event_type
        |FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "r03_reorder" ->
      """SELECT event_id,
        | row_number() OVER (ORDER BY ts, event_id) AS emit_rank
        |FROM events ORDER BY event_id""".stripMargin,
    "r04_batches" ->
      """SELECT batch_id, count(*) AS n_records FROM (
        |  SELECT CAST(floor((row_number() OVER (ORDER BY ts, event_id) - 1) / 500.0) AS BIGINT) AS batch_id
        |  FROM events
        |) GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    "r05_stats_window" ->
      """SELECT epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start_ms,
        | count(*) AS n_events,
        | sum(CAST(round(value*100,0) AS BIGINT))/100.0 AS sum_value,
        | max(epoch_ms(CAST(ts AS TIMESTAMP))) AS high_water_ms
        |FROM events GROUP BY 1 ORDER BY window_start_ms""".stripMargin)
}
