package graft.replay

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

/** R10–R11 — the micro-batched, retried record sink.
  *
  * Reference shape (KinesisProducer.java): a bounded queue feeds sender
  * threads; each drains ≤500 records (PutRecords API cap,
  * KinesisProducer.java:25,112), sends, re-queues partial failures with
  * exponential backoff `min(2000 ms, 2^attempt·100 ms)` up to 100 attempts
  * (KinesisProducer.java:26-28,139-169,187-195).
  *
  * Spark-first: sender threads become `senderParallelism` sink tasks,
  * each one [[Sink.replay]] on both replay paths; the bounded queue's
  * backpressure becomes trigger limits. The transport is abstracted
  * behind [[RecordSender]] because the AWS SDK is not on the offline
  * classpath — a Kinesis implementation is a thin `putRecords` adapter with
  * exactly this retry contract; tests inject [[CollectingSender]].
  */
trait RecordSender extends Serializable {
  /** Send one batch; return the 0-based indices that failed (to retry).
    *
    * Failure contract: RETRYABLE failures (throttle, transient transport)
    * must be REPORTED as failed indices — returning `records.indices`
    * engages [[Sink]]'s exponential backoff for the whole batch. A THROWN
    * exception means non-retryable (misconfiguration, auth, closed
    * transport) and fails the task immediately: the reference has no
    * request-level retry either — a thrown `putRecords` kills its process
    * outright (KinesisProducer.java:124-126 `System.exit(1)`) — and
    * blind-retrying a non-retryable error would stall the sink for
    * `100 · backoff` before surfacing the real cause. */
  def send(records: Seq[Array[Byte]]): Seq[Int]
}

/** Production dry-run sender: counts and DISCARDS payloads. The collecting
  * sender below retains every payload byte-array JVM-wide — fine for specs
  * asserting content, an OOM on a realistic dataset — so `-dryRun` wires
  * this one. */
class DiscardingSender extends RecordSender {
  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    DiscardingSender.count.addAndGet(records.size); Nil
  }
}
object DiscardingSender {
  val count = new AtomicLong(0)
  def reset(): Unit = count.set(0)
}

/** Test/local sender collecting into a JVM-wide queue (local[n] = one JVM). */
class CollectingSender(failFirstNAttempts: Int = 0) extends RecordSender {
  private val attempts = new AtomicInteger(0)
  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    if (attempts.getAndIncrement() < failFirstNAttempts) records.indices
    else { records.foreach(CollectingSender.received.add); Nil }
  }
}
object CollectingSender {
  val received = new ConcurrentLinkedQueue[Array[Byte]]()
  def clear(): Unit = received.clear()
  def payloads: Seq[String] = {
    val it = received.iterator(); val b = Seq.newBuilder[String]
    while (it.hasNext) b += new String(it.next(), StandardCharsets.UTF_8)
    b.result()
  }
}

object Sink {
  val MaxEntriesPerRequest = 500 // KinesisProducer.java:25
  val MaxBackoffMillis = 2000L // KinesisProducer.java:26
  val MaxRetryCount = 100 // KinesisProducer.java:27
  // PutRecords limits (https://docs.aws.amazon.com/kinesis/latest/APIReference/API_PutRecords.html):
  // a record's data blob is at most 1 MiB, and a request at most 5 MiB
  // including partition keys. A partition key is at most 256 characters;
  // requests are sized as if every key were that long, so the limit holds
  // whatever key a RecordSender picks.
  val MaxRecordBytes = 1024 * 1024
  val MaxRequestBytes = 5L * 1024 * 1024
  val PartitionKeyBytes = 256

  /** `min(2000, 2^attempt * 100)` ms — 200, 400, 800, 1600, 2000, 2000…
    * (KinesisProducer.java:143-156). The shift is clamped first: beyond
    * attempt 5 the cap has already won, and 1L << 57+ would overflow. */
  def backoffMs(attempt: Int): Long =
    math.min(MaxBackoffMillis, (1L << math.min(attempt, 5)) * 100L)

  /** One batch through the reference's retry protocol; returns retries.
    * Partial failures re-send only the failed subset, like
    * KinesisProducer.java:187-195. Request/retry totals flow into the
    * shared stats (reference: totalRequestCount/totalRetryCount,
    * RePlayer.java:152-155). */
  private def sendWithRetry(batch: Seq[Array[Byte]], sender: RecordSender,
      sleeper: Long => Unit): Long = {
    var pending = batch
    var attempt = 0
    var retries = 0L
    while (pending.nonEmpty) {
      if (attempt > MaxRetryCount)
        throw new IllegalStateException(
          s"records failed to send after $MaxRetryCount retries") // KinesisProducer.java:140-142
      if (attempt > 0) { sleeper(backoffMs(attempt)); retries += 1 }
      val failed = sender.send(pending)
      pending = failed.map(pending)
      attempt += 1
    }
    ReplayStats.shared.recordRequests(attempt.toLong, retries)
    retries
  }

  /** A record Kinesis would reject fails the task before it is sent: no
    * retry can make it fit. */
  private def requireSendable(payload: Array[Byte]): Unit =
    require(payload.length <= MaxRecordBytes,
      s"record payload of ${payload.length} bytes exceeds the PutRecords " +
        s"limit of $MaxRecordBytes bytes per record")

  /** The pending request: flushed before it would pass 500 records or
    * 5 MiB. Counts the records it sent and the retries it made. */
  private final class Request(sender: RecordSender, sleeper: Long => Unit) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    private var bytes = 0L
    var sent = 0L
    var retries = 0L

    def add(payload: Array[Byte]): Unit = {
      val cost = payload.length.toLong + PartitionKeyBytes
      if (bytes + cost > MaxRequestBytes) flush()
      buf += payload
      bytes += cost
      if (buf.size >= MaxEntriesPerRequest) flush()
    }

    def flush(): Unit = if (buf.nonEmpty) {
      retries += sendWithRetry(buf.toSeq, sender, sleeper)
      sent += buf.size
      buf.clear()
      bytes = 0L
    }
  }

  /** Drain an iterator through the sender in requests of ≤500 records and
    * ≤5 MiB with the reference's retry protocol. Returns (records sent,
    * retries performed). */
  def sendAll(records: Iterator[Array[Byte]], sender: RecordSender,
      sleeper: Long => Unit = Thread.sleep): (Long, Long) =
    // every record due at 0 against a clock fixed at 0: none ever waits
    sendScheduled(records.map(p => (0L, p)), sender, () => 0L, sleeper)

  /** R9+R10 — paced, batched drain: each record is paced to its simulated
    * due time, and the pending batch is FLUSHED BEFORE any pacing sleep —
    * already-due records are never held back behind a not-yet-due one, the
    * way the reference's senders drain partial batches immediately
    * (KinesisProducer.java:112-120). At high speedup no sleeps occur and
    * batches fill to the 500-record or 5 MiB cap; at low speedup this
    * degrades gracefully to per-record sends instead of holding the head
    * of a batch up to a 500-record schedule span.
    *
    * `onPaced(gapMs)` fires once per record with its replay lag (now − due,
    * negative = slept), for stats. Returns (records sent, retries). */
  def sendScheduled(records: Iterator[(Long, Array[Byte])], sender: RecordSender,
      nowMs: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep,
      onPaced: Long => Unit = _ => ()): (Long, Long) = {
    val request = new Request(sender, sleeper)
    records.foreach { case (dueMs, payload) =>
      requireSendable(payload)
      // flush BEFORE any pacing sleep, then pace against a FRESH clock
      // read: the flush itself can take arbitrarily long (network, retry
      // backoff), and sleeping a gap computed before it would add the
      // flush duration on top of the schedule, delivering late and
      // reporting the stale pre-flush gap as an on-time sleep
      if (nowMs() < dueMs) request.flush()
      val gap = Pace.paceTo(dueMs, nowMs, sleeper)
      onPaced(gap)
      request.add(payload)
    }
    request.flush()
    (request.sent, request.retries)
  }

  /** One sink task of either replay path (R9–R12): schedules each
    * `(event ms, payload)` record with [[Schedule.ingestionMs]] against
    * the anchor `firstMs`, then paces and sends the records in the order
    * given through [[sendScheduled]], recording each record's lag and the
    * event-time high-water mark in [[ReplayStats.shared]]. `statsFreq` is
    * the driver's stats frequency, so an executor JVM that never saw
    * `configureShared` still logs stats. Returns (records sent, retries). */
  def replay(records: Iterator[(Long, Array[Byte])], firstMs: Long, startMs: Long,
      speedup: Double, statsFreq: Long, sender: RecordSender,
      nowMs: () => Long, sleeper: Long => Unit): (Long, Long) = {
    ReplayStats.ensureConfigured(statsFreq)
    // high-water of the record the pacer just admitted: the iterator is
    // pulled (setting lastTsMs) before onPaced fires for it
    var lastTsMs = 0L
    val scheduled = records.map { case (tsMs, payload) =>
      lastTsMs = tsMs
      (Schedule.ingestionMs(tsMs, firstMs, startMs, speedup), payload)
    }
    sendScheduled(scheduled, sender, nowMs, sleeper,
      onPaced = lag => ReplayStats.shared.record(lag, lastTsMs))
  }
}

/** R9 — event-time pacing: sleep until an event's simulated ingestion time
  * (RePlayer.java:135-140). Injectable clock/sleeper for fast tests. */
object Pace {
  /** Returns replay lag in ms (now − due; negative means we slept). */
  def paceTo(ingestionMs: Long, nowMs: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep): Long = {
    val gap = nowMs() - ingestionMs
    if (gap < 0) sleeper(-gap)
    gap
  }
}

/** R12 — running replay statistics (RePlayer.java:114-162): total/windowed
  * counts, emitted every statisticsFrequencyMillis with rate, replay lag,
  * sink-buffer occupancy, and PutRecords request/retry totals — the full
  * field set of the reference's debug stats line (RePlayer.java:152-155).
  *
  * State lives in the JVM-wide [[ReplayStats.shared]] instance so that
  * task-deserialized closures all accumulate into the same counters —
  * per-process totals, the same scope as the reference's counters (on a
  * cluster that means per-executor progress lines in executor logs). */
final class ReplayStats(@volatile var frequencyMillis: Long,
    @volatile var log: String => Unit) extends Serializable {
  private val total = new AtomicLong(0)
  private val windowStart = new AtomicLong(System.currentTimeMillis())
  private val window = new AtomicLong(0)
  private val requests = new AtomicLong(0)
  private val retries = new AtomicLong(0)
  /** Reorder/sink buffer occupancy (reference: bufferedEventCount); wired
    * by the streaming path, 0/0 where there is no in-process buffer. */
  @volatile var queueGauge: () => Int = () => 0
  @volatile var queueCapacity: Int = 0
  /** Events the reorder buffer force-released before their horizon
    * (capacity pressure → possible order violations); 0 when unwired. */
  @volatile var forcedGauge: () => Long = () => 0L

  /** One PutRecords-equivalent exchange: `n` send calls, `r` of them
    * retries (KinesisProducer.java totalRequestCount/totalRetryCount). */
  def recordRequests(n: Long, r: Long): Unit = {
    requests.addAndGet(n)
    retries.addAndGet(r)
  }

  // Pacing-fidelity histogram: per-record lag-vs-schedule, two-tier —
  // 1 ms buckets for 0..1999 ms, then 100 ms buckets for 2 s..61.9 s,
  // then one overflow bucket (read "≥62 s"). Bounded memory (~21 KB),
  // lock-free, shared across sink partitions like the counters. On-time
  // records (the pacer slept; gap ≤ 0) land in bucket 0, so percentiles
  // read directly as "how far behind schedule delivery ran". The coarse
  // tier exists because the r13 artifact read p50=p99=p999=2000 — a
  // saturated 2 s cap was indistinguishable from a real constant 2 s
  // slip; now a constant slip reads as its actual magnitude.
  private val FineBuckets = 2000 // 1 ms grain
  private val CoarseBuckets = 600 // 100 ms grain, 2 000..61 999 ms
  private val NBuckets = FineBuckets + CoarseBuckets
  private val lagHist =
    new java.util.concurrent.atomic.AtomicLongArray(NBuckets + 1)

  private def bucketOf(lagMs: Long): Int = {
    val l = math.max(lagMs, 0L)
    if (l < FineBuckets) l.toInt
    else {
      val c = (l - FineBuckets) / 100L
      if (c < CoarseBuckets) FineBuckets + c.toInt else NBuckets
    }
  }

  /** Lower edge of bucket `i` in ms (the value a percentile reports). */
  private def bucketLoMs(i: Int): Long =
    if (i < FineBuckets) i.toLong
    else if (i < NBuckets) FineBuckets + (i - FineBuckets) * 100L
    else FineBuckets + CoarseBuckets * 100L // overflow: "≥62 000"

  /** `p` ∈ (0, 1] percentile of recorded lags, ms (bucket lower edge;
    * ≥62 000 means the overflow bucket). −1 when nothing recorded. */
  def lagPercentileMs(p: Double): Long = {
    var n = 0L
    var i = 0
    while (i <= NBuckets) { n += lagHist.get(i); i += 1 }
    if (n == 0) return -1L
    val target = math.ceil(p * n).toLong
    var seen = 0L
    i = 0
    while (i <= NBuckets) {
      seen += lagHist.get(i)
      if (seen >= target) return bucketLoMs(i)
      i += 1
    }
    bucketLoMs(NBuckets)
  }

  /** Compact log₂-spaced dump of the lag histogram for the bench
    * artifact: [lo_ms, count] per nonempty range over [0,1), [1,2),
    * [2,4), … [65536,∞) — at most 18 entries, so the one-line JSON
    * contract survives, while cap-vs-real-slip stays distinguishable. */
  def lagHistogramLog2: Seq[(Long, Long)] = {
    val edges = 0L +: (0 to 16).map(1L << _) // 0,1,2,4,...,65536
    val counts = new Array[Long](edges.size)
    var i = 0
    while (i <= NBuckets) {
      val c = lagHist.get(i)
      if (c > 0) {
        val lo = bucketLoMs(i)
        var j = edges.size - 1
        while (edges(j) > lo) j -= 1
        counts(j) += c
      }
      i += 1
    }
    edges.zip(counts).filter(_._2 > 0)
  }

  def record(lagMs: Long, highWaterMs: Long): Unit = {
    lagHist.incrementAndGet(bucketOf(lagMs))
    total.incrementAndGet()
    window.incrementAndGet()
    val now = System.currentTimeMillis()
    val ws = windowStart.get()
    // CAS makes the rollover atomic: with concurrent sink partitions only
    // one task wins the window, so stats lines are never duplicated and
    // the window counter is reset exactly once per elapsed window.
    if (now - ws >= frequencyMillis && windowStart.compareAndSet(ws, now)) {
      val n = window.getAndSet(0)
      val rate = math.round(1000.0 * n / frequencyMillis) // RePlayer.java:150
      log(f"replayed ${total.get()} events (rate $rate/s, lag ${lagMs}ms, " +
        f"high-water ${java.time.Instant.ofEpochMilli(highWaterMs)}, " +
        f"buffer $queueCapacity/${queueGauge()} capacity/used, " +
        f"${forcedGauge()} force-released, " +
        f"${requests.get()}/${retries.get()} requests/retries)")
    }
  }
  def requestCount: Long = requests.get()
  def retryCount: Long = retries.get()
  def reset(): Unit = {
    total.set(0); window.set(0); windowStart.set(System.currentTimeMillis())
    requests.set(0); retries.set(0)
    queueGauge = () => 0; queueCapacity = 0; forcedGauge = () => 0L
    var i = 0
    while (i <= NBuckets) { lagHist.set(i, 0L); i += 1 }
  }
}

object ReplayStats {
  /** Per-JVM shared instance; disabled (silent) until configured. */
  val shared: ReplayStats = new ReplayStats(Long.MaxValue, _ => ())
  def configureShared(frequencyMillis: Long, log: String => Unit): Unit = {
    shared.frequencyMillis = frequencyMillis
    shared.log = log
    shared.reset()
  }

  /** Executor-side adoption: `shared` is a per-JVM object that is never
    * serialized, so on a real cluster the driver's [[configureShared]]
    * only configures the driver. Sink closures call this with the
    * driver's frequency (shipped as a captured Long); the first call in a
    * still-default executor JVM enables stats with a stdout logger (the
    * executor-log analog of the reference's stderr stats line). No-op
    * wherever configureShared already ran — local mode keeps its logger. */
  def ensureConfigured(frequencyMillis: Long): Unit = {
    if (shared.frequencyMillis == Long.MaxValue &&
        frequencyMillis != Long.MaxValue) {
      shared.frequencyMillis = frequencyMillis
      shared.log = m => println(s"[replay-stats] $m")
    }
  }
}
