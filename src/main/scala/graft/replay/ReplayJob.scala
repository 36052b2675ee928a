package graft.replay

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The whole replay pipeline, wired like RePlayer.main (SURVEY.md §3.1) but
  * as one declarative plan + a paced sink:
  *
  *   source (R1–R4) → parse (R5–R6) → seek (R7) → order (R8)
  *     → schedule (R6/R9) → paced batched sink (R9–R11) → stats (R12)
  *
  * Ordering contract: total event-time order within each sink partition;
  * cross-partition order is best-effort — same as the reference, whose 4
  * sender threads and random partition keys already destroy global order on
  * the wire (KinesisProducer.java:197-199, SURVEY.md §8.6).
  *
  * Termination (R14): a batch job ends at end-of-input — the semantics of
  * `Trigger.AvailableNow` — with none of the reference's `fill()` hang
  * (SURVEY.md §8.1): "buffer full or source exhausted" is implicit here.
  */
object ReplayJob {

  /** source → parse → seek: the events relation both entry points build on
    * (one definition, so plan() and run() cannot drift apart). */
  private[replay] def parsedEvents(spark: SparkSession, cfg: ReplayConfig): DataFrame = {
    val lines = Source.jsonLines(spark, cfg)
    Parse.seek(Parse.parsed(lines, cfg.timestampAttributeName), cfg.seek)
  }

  /** Scheduled events, unordered (ordering is applied by the consumer —
    * one sort, chosen to match its partitioning). `events` lets run() pass
    * the same relation persisted. */
  private[replay] def scheduled(cfg: ReplayConfig, events: DataFrame): DataFrame = {
    val startMs = cfg.ingestionStartMs.getOrElse(System.currentTimeMillis())
    Schedule.withIngestionTime(events, cfg.speedupFactor, startMs)
  }

  private[replay] def scheduled(spark: SparkSession, cfg: ReplayConfig): DataFrame =
    scheduled(cfg, parsedEvents(spark, cfg))

  /** The declarative part: everything up to the sink, as one DataFrame. */
  def plan(spark: SparkSession, cfg: ReplayConfig): DataFrame =
    scheduled(spark, cfg)
      .orderBy(col("timestamp")) // R8: total sort ≥ the reference's bounded reorder

  /** Run the replay: pace each event to its simulated ingestion time and
    * push through the sender in requests of ≤500 records and ≤5 MiB.
    * Sender parallelism = sink partitions (reference: 4 sender threads,
    * RePlayer.java:28).
    *
    * Pacing sleeps inside sink tasks; with senderParallelism ≪ cores this
    * holds few cores, and at high speedup the sleeps vanish — the
    * reference has the same behavior on its main thread.
    * Returns total records sent. */
  def run(spark: SparkSession, cfg: ReplayConfig, sender: RecordSender,
      nowMs: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep): Long = {
    // the schedule anchor (min event time) is its own aggregation over the
    // same source: without a persist the whole input would be listed,
    // decompressed, and parsed TWICE — the dominant cost on a multi-GB
    // non-splittable .lz4 dataset. Cache the parsed relation for the run.
    val events = parsedEvents(spark, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val df = scheduled(cfg, events)
      val sentAcc = spark.sparkContext.longAccumulator("records_sent")
      val retryAcc = spark.sparkContext.longAccumulator("send_retries")
      // executor JVMs never see the driver's configureShared call — ship
      // the frequency in the closure so per-executor stats lines emit on a
      // real cluster too (no-op in local mode, where shared is configured)
      val statsFreq = cfg.statisticsFrequencyMillis
      df.select(col("payload"), col("ingestion_ms"),
          unix_millis(col("timestamp")).as("ts_ms"))
        // range-partition by schedule so each sink task replays a
        // contiguous slice of simulated time (order preserved within
        // partition); ts_ms tie-breaks inside one scheduled millisecond —
        // at speedup 6480 one ingestion_ms covers 6.48 s of event time,
        // and schedule-only sorting would leave that span unordered
        .repartitionByRange(cfg.senderParallelism, col("ingestion_ms"))
        .sortWithinPartitions(col("ingestion_ms"), col("ts_ms"))
        .foreachPartition { (it: Iterator[Row]) =>
          ReplayStats.ensureConfigured(statsFreq)
          // high-water of the record the pacer just admitted: the iterator
          // is pulled (setting lastTsMs) before onPaced fires for it
          var lastTsMs = 0L
          val scheduledRecords = it.map { r =>
            lastTsMs = r.getLong(2)
            (r.getLong(1),
              r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          val (sent, retries) = Sink.sendScheduled(scheduledRecords, sender,
            nowMs, sleeper,
            onPaced = lag => ReplayStats.shared.record(lag, lastTsMs)) // R12
          sentAcc.add(sent)
          retryAcc.add(retries)
        }
      sentAcc.value
    } finally events.unpersist()
  }
}
