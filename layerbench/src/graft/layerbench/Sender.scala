package graft.layerbench

import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import graft.replay.{RecordSender, Schedule}

/** The output checks on what reached the sender, against the fixture. */
object Delivery {
  /** (name, ok, detail) for: every good line delivered once and every
    * malformed line dropped; the payload checksum; per-task event order. */
  def checks(sent: Long, e: Expected): Seq[(String, Boolean, String)] = {
    val got = SendTally.records.get
    Seq(
      ("sent_plus_malformed_eq_generated", sent + e.malformed == e.generated && got == sent,
        s"sent=$sent received=$got malformed=${e.malformed} generated=${e.generated}"),
      ("payload_checksum", SendTally.checksum.get == e.checksum,
        s"got ${SendTally.checksum.get} want ${e.checksum}"),
      ("event_time_order_per_task", SendTally.violations.get == 0,
        s"${SendTally.violations.get} records earlier than their predecessor"))
  }
}

/** The schedule a paced pass was asked to keep, so the sender can compute
  * each record's due time with the public [[Schedule.ingestionMs]]. */
final case class PaceSpec(firstMs: Long, startMs: Long, speedup: Double)

/** JVM-wide totals of what reached the sender (local mode: one JVM). */
object SendTally {
  val records, requests, bytes, checksum, violations, busyUs = new AtomicLong(0)
  val sleeps, sleepUs = new AtomicLong(0)
  val firstSendUs = new AtomicLong(Long.MaxValue)
  val lag = new LagHistogram

  def reset(): Unit = {
    Seq(records, requests, bytes, checksum, violations, busyUs, sleeps, sleepUs)
      .foreach(_.set(0))
    firstSendUs.set(Long.MaxValue)
    lag.reset()
  }

  /** Pacing sleeper handed to the replay: sleeps, counts, and traces. */
  val sleeper: Long => Unit = (ms: Long) => {
    val t0 = Trace.nowUs
    Thread.sleep(ms)
    val t1 = Trace.nowUs
    sleeps.incrementAndGet()
    sleepUs.addAndGet(t1 - t0)
    Trace.add(Span(Trace.nextId("p"), Trace.taskParent, "pace.sleep", t0, t1))
  }
}

/** Lateness histogram in 10 µs buckets up to 5 s, plus one overflow bucket. */
final class LagHistogram {
  private val BucketUs = 10L
  private val n = 500000
  private val h = new AtomicLongArray(n + 1)
  def record(lagUs: Long): Unit =
    h.incrementAndGet(math.min(n.toLong, math.max(0L, lagUs) / BucketUs).toInt)
  def total: Long = { var s = 0L; var i = 0; while (i <= n) { s += h.get(i); i += 1 }; s }
  /** Share of records later than `limitUs`. */
  def fracOver(limitUs: Long): Double = {
    val t = total
    if (t == 0) 0.0
    else {
      var s = 0L
      var i = (limitUs / BucketUs).toInt + 1
      while (i <= n) { s += h.get(i); i += 1 }
      s.toDouble / t
    }
  }
  /** `p`-quantile in ms (upper edge of its bucket). */
  def quantileMs(p: Double): Double = {
    val t = total
    val target = math.ceil(p * t).toLong
    var seen = 0L
    var i = 0
    while (i <= n) {
      seen += h.get(i)
      if (seen >= target && t > 0) return (i + 1) * BucketUs / 1000.0
      i += 1
    }
    Double.NaN
  }
  def reset(): Unit = { var i = 0; while (i <= n) { h.set(i, 0); i += 1 } }
}

/** A [[RecordSender]] that checks what it receives instead of sending it.
  *
  * For every record it adds the payload's hash to an order-independent
  * checksum, and reads the event time from the payload's fixed-width prefix
  * to check that event time never decreases within one sender task. When a
  * [[PaceSpec]] is given it also records how late each record was: the time
  * of the `send` call minus the record's due time. Nothing ever fails, so
  * the sink performs no retries. */
final class CheckingSender(pace: Option[PaceSpec] = None) extends RecordSender {
  @transient private var task = Long.MinValue
  @transient private var lastMs = Long.MinValue

  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    val t0 = Trace.nowUs
    SendTally.firstSendUs.accumulateAndGet(t0, math.min)
    val tc = org.apache.spark.TaskContext.get()
    val tid = if (tc == null) -1L else tc.taskAttemptId()
    if (tid != task) { task = tid; lastMs = Long.MinValue }
    var sum, bytes, bad = 0L
    records.foreach { b =>
      val ms = Fixtures.eventMs(b)
      if (ms < lastMs) bad += 1
      lastMs = ms
      sum += Fixtures.payloadHash(b)
      bytes += b.length
      pace.foreach { p =>
        val due = Schedule.ingestionMs(ms, p.firstMs, p.startMs, p.speedup)
        SendTally.lag.record(t0 - due * 1000)
      }
    }
    SendTally.records.addAndGet(records.size)
    SendTally.requests.incrementAndGet()
    SendTally.bytes.addAndGet(bytes)
    SendTally.checksum.addAndGet(sum)
    SendTally.violations.addAndGet(bad)
    val t1 = Trace.nowUs
    SendTally.busyUs.addAndGet(t1 - t0)
    Trace.add(Span(Trace.nextId("x"), Trace.taskParent, "sink.send", t0, t1,
      s"""{"records":${records.size}}"""))
    Nil
  }
}
