package graft.replay

import org.apache.spark.FutureAction
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Structured Streaming form of the replay pipeline (SURVEY.md §2A R8/R14
  * mapping): `readStream` text source → parse and seek → bounded reorder
  * → paced sink. The source carries raw lines; `foreachBatch` parses and
  * seeks each micro-batch with [[Parse.records]], the batch path's
  * one-pass-per-line parse, so both paths share one event-time rule.
  *
  * The reference's 100k-event priority-queue reorder buffer
  * (JsonEventBufferedReader.java:39-47) becomes a [[ReorderBuffer]] fed by
  * `foreachBatch`: events are held until the disorder horizon (max event
  * time seen − tolerance) passes them, then released in event-time order
  * and paced out — so cross-micro-batch disorder up to the tolerance is
  * repaired, not just disorder within one batch. The buffer enforces the
  * reference's HARD capacity too (readerBufferSize, RePlayer.java:26):
  * when full, the oldest events are force-released — bounded memory wins
  * over reorder completeness, the same trade the reference's bounded queue
  * makes by refusing further reads. At end of input
  * (`Trigger.AvailableNow` — the reference's drain-termination protocol,
  * RePlayer.java:132-164, without its fill() hang, SURVEY.md §8.1) the
  * buffer drains in order, exactly like the reference's final drain.
  *
  * Architecture note (deliberate, documented boundary): this single shared
  * buffer reproduces the reference's single-node architecture — one ordered
  * stream, N parallel sender lanes pulling contiguous time slices. Pacing
  * rate-limits replay to the simulated clock, so the buffer — not the
  * cluster — is never the throughput bound. The horizontally-scalable form
  * of replay is the batch path ([[ReplayJob]]): one shuffle into lanes
  * hashed on event time, each sorted and paced in its own task, with no
  * driver-side state.
  *
  * Driver memory: each micro-batch is collected as [[Parse.records]],
  * `(event ms, payload bytes)`, the batch path's record format, one
  * partition per job, with up to `defaultParallelism` jobs running at
  * once, and fed to the buffer in partition-index order, the order a
  * sequential scan would give, so ties in event time keep their scan
  * order. The driver holds at most `defaultParallelism` collected
  * partitions plus the buffer's `readerBufferSize` records (see [[run]]).
  * It computes no due times: each emit ships its records with the
  * schedule anchor to sink tasks that run [[Sink.replay]], the batch
  * path's sink task.
  *
  * Durability contract: `run()` is SINGLE-SHOT, like the reference's
  * in-process queue. Micro-batches commit to the (ephemeral, default)
  * checkpoint after `foreachBatch` returns, while unreleased events live
  * only in the driver-side buffer — restarting from a DURABLE checkpoint
  * would skip committed batches and drop whatever the buffer still held
  * (at-most-once). Run to completion or re-run from scratch; do not point
  * `checkpointLocation` at a reused durable path.
  */
object StreamingReplay {

  /** Bounded reorder buffer — the streaming-side equivalent of the
    * reference's capacity-bounded priority queue
    * (JsonEventBufferedReader.java:39-47, capacity RePlayer.java:26).
    *
    * Two release triggers, mirroring the reference's two bounds:
    *  - the disorder horizon: `release()` pops everything at or below
    *    (max event time seen − tolerance), in (event-time, arrival-seq)
    *    order — the time-bound on held state;
    *  - hard capacity: anything beyond `capacity` force-releases oldest
    *    first — the size-bound, so a dense or short-spanned input can
    *    never grow driver memory without limit.
    * `drain()` pops the rest at end of input. */
  final class ReorderBuffer(toleranceMs: Long, capacity: Int = 100000) {
    require(capacity > 0, s"capacity must be > 0, got $capacity")
    require(toleranceMs >= 0, s"toleranceMs must be >= 0, got $toleranceMs")
    // (top-level shape avoids the unchecked-outer-reference pattern-match
    // warning a nested case class triggers)
    private val pq = new java.util.PriorityQueue[ReorderBuffer.E](
      (a: ReorderBuffer.E, b: ReorderBuffer.E) =>
        if (a.ms != b.ms) java.lang.Long.compare(a.ms, b.ms)
        else java.lang.Long.compare(a.seq, b.seq))
    private var maxMs = Long.MinValue
    private var seq = 0L
    private var forced = 0L

    def add(ms: Long, payload: Array[Byte]): Unit = synchronized {
      pq.add(ReorderBuffer.E(ms, seq, payload)); seq += 1
      if (ms > maxMs) maxMs = ms
    }
    /** Events passed by the horizon, plus capacity overflow — in order.
      * An over-capacity buffer sheds down to half capacity (hysteresis:
      * a saturated buffer releases chunks, never one event per add). */
    def release(): Vector[(Long, Array[Byte])] = synchronized {
      val b = Vector.newBuilder[(Long, Array[Byte])]
      if (maxMs != Long.MinValue) {
        // saturating subtraction: a huge tolerance against negative-epoch
        // event times must clamp to "never", not wrap around positive
        val h = maxMs - toleranceMs
        val horizon = if (h > maxMs) Long.MinValue else h
        val target = if (pq.size > capacity) capacity / 2 else capacity
        while (!pq.isEmpty && (pq.peek().ms <= horizon || pq.size > target)) {
          val e = pq.poll()
          // a pop still inside the horizon is capacity pressure: a later,
          // earlier-timestamped event may now be emitted out of order —
          // counted so operators can see ordering degraded and size
          // readerBufferSize accordingly (otherwise the violation is
          // invisible at runtime)
          if (e.ms > horizon) forced += 1
          b += ((e.ms, e.payload))
        }
      }
      b.result()
    }
    /** Events force-released by capacity pressure BEFORE their disorder
      * horizon passed (each one a potential event-time order violation). */
    def forceReleasedCount: Long = synchronized(forced)
    /** End-of-input: everything left, in order. */
    def drain(): Vector[(Long, Array[Byte])] = synchronized {
      val b = Vector.newBuilder[(Long, Array[Byte])]
      while (!pq.isEmpty) { val e = pq.poll(); b += ((e.ms, e.payload)) }
      b.result()
    }
    def size: Int = synchronized(pq.size)
  }

  object ReorderBuffer {
    private final case class E(ms: Long, seq: Long, payload: Array[Byte])
  }

  /** The input lines as a stream: the `text` source with the suffix
    * anti-filter (R4) applied via input_file_name — readStream has no
    * file-list form, and pathGlobFilter is positive-only — and unreadable
    * objects skipped (R5) like the batch path. Each micro-batch is parsed
    * by [[Parse.records]], as the batch path's scan is. */
  private def lines(spark: SparkSession, cfg: ReplayConfig,
      maxFilesPerTrigger: Int): DataFrame = {
    FramedLz4Codec.register(spark.sparkContext.hadoopConfiguration)
    // Suffix anti-filter semantics match the batch path (Source.listFiles):
    // the DECODED full path, like the reference's key.endsWith.
    // input_file_name() is URI-ENCODED (a space is %20), so match the
    // decoded form too — the encoded disjunct keeps a literal '+' in a
    // file name matchable (url_decode is form-decoding: '+' → space).
    // Empty suffix skips nothing (endsWith("") would match every file).
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("ignoreCorruptFiles", "true")
      .text(cfg.inputPath)
    if (cfg.objectSuffixToSkip.isEmpty) raw
    else raw.filter(
      !(input_file_name().endsWith(cfg.objectSuffixToSkip) ||
        url_decode(input_file_name()).endsWith(cfg.objectSuffixToSkip)))
  }

  /** Paced replay to a [[RecordSender]]. Blocks until the input is drained
    * (AvailableNow) and the reorder buffer is flushed; returns records
    * sent. Events are released from the buffer once the disorder horizon
    * passes them (or capacity forces them), and sent over
    * `senderParallelism` lanes, each a contiguous time slice (per-lane
    * event-time order, like the batch path). Each lane is one
    * [[Sink.replay]] task, paced against the affine schedule anchored at
    * the first released (earliest) event.
    *
    * Driver-memory bound: the driver holds at most `defaultParallelism`
    * collected partitions of rows (never the whole batch; a partition is
    * at most one `spark.sql.files.maxPartitionBytes` split, or one whole
    * unsplittable compressed file) plus the buffer's
    * `cfg.readerBufferSize` `(event ms, payload bytes)` records, past
    * which it force-releases — one oversized input file cannot grow the
    * buffer without limit. Each collect job returns one partition, so
    * `spark.driver.maxResultSize` applies per partition, never to several
    * at once. See the class scaladoc for the parallel collect and the
    * single-shot durability contract. */
  def run(spark: SparkSession, cfg: ReplayConfig, sender: RecordSender,
      nowMs: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep,
      disorderToleranceMs: Long = 600000L,
      maxFilesPerTrigger: Int = 16): Long = {
    Parse.requireAddressable(cfg.timestampAttributeName)
    val startMs = cfg.ingestionStartMs.getOrElse(System.currentTimeMillis())
    val buffer = new ReorderBuffer(disorderToleranceMs, cfg.readerBufferSize)
    // anchor is stateful across micro-batches, like the reference's parser
    val anchorMs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    val sentAcc = spark.sparkContext.longAccumulator("streaming_records_sent")

    val statsFreq = cfg.statisticsFrequencyMillis
    val speedup = cfg.speedupFactor
    def emit(slice: Vector[(Long, Array[Byte])]): Unit = if (slice.nonEmpty) {
      anchorMs.compareAndSet(Long.MinValue, slice.head._1)
      val firstMs = anchorMs.get()
      // contiguous slices per lane: parallelize preserves element order
      // within each partition → per-lane event-time order holds
      spark.sparkContext
        .parallelize(slice, math.min(cfg.senderParallelism, slice.size))
        .foreachPartition { it =>
          sentAcc.add(Sink.replay(it, firstMs, startMs, speedup, statsFreq,
            sender, nowMs, sleeper)._1)
        }
    }

    try {
      // R12 parity: the stats line reports this buffer's capacity/occupancy
      // (installed inside the try so the finally always un-installs it)
      ReplayStats.shared.queueGauge = () => buffer.size
      ReplayStats.shared.queueCapacity = cfg.readerBufferSize
      ReplayStats.shared.forcedGauge = () => buffer.forceReleasedCount
      val query = lines(spark, cfg, maxFilesPerTrigger)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // one single-task job per partition, as a per-partition iterator
          // would run, but up to defaultParallelism of them in flight at
          // once instead of one at a time. A job's result is one partition,
          // so spark.driver.maxResultSize still bounds a partition, not a
          // batch. Partitions are consumed in index order, so rows reach the
          // buffer in the order of a sequential scan: the (ms, seq)
          // tie-break is unchanged, and the buffer's capacity still releases
          // mid-batch on overflow.
          val sc = spark.sparkContext
          val rdd = Parse.records(batch, cfg.timestampAttributeName, cfg.seek)
          def collect(p: Int): FutureAction[Array[(Long, Array[Byte])]] = {
            var got: Array[(Long, Array[Byte])] = null
            sc.submitJob(rdd, (it: Iterator[(Long, Array[Byte])]) => it.toArray,
              Seq(p), (_: Int, part: Array[(Long, Array[Byte])]) => got = part, got)
          }
          val parts = rdd.getNumPartitions
          val inFlight = scala.collection.mutable.Queue.empty[FutureAction[Array[(Long, Array[Byte])]]]
          var next = 0
          try {
            while (next < parts || inFlight.nonEmpty) {
              while (next < parts && inFlight.size < sc.defaultParallelism) {
                inFlight.enqueue(collect(next)); next += 1
              }
              val part = Await.result(inFlight.head, Duration.Inf)
              inFlight.dequeue()
              for ((ms, payload) <- part) {
                buffer.add(ms, payload)
                if (buffer.size > cfg.readerBufferSize) emit(buffer.release())
              }
            }
          } finally inFlight.foreach(_.cancel()) // a failed batch leaves no jobs behind
          emit(buffer.release())
          ()
        }
        .start()
      query.awaitTermination()
      emit(buffer.drain()) // R14: end-of-input buffer drain, in order
      sentAcc.value
    } finally {
      // un-install the gauge: later (batch) runs in this JVM must report
      // 0/0, not this run's dead buffer — and must not retain it
      ReplayStats.shared.queueGauge = () => 0
      ReplayStats.shared.queueCapacity = 0
      ReplayStats.shared.forcedGauge = () => 0L
    }
  }
}
