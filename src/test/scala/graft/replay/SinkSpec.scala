package graft.replay

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

class SinkSpec extends AnyFunSuite {

  private def bytes(s: String) = s.getBytes(UTF_8)

  test("backoff series matches reference: 200,400,800,1600,2000 capped") {
    assert((1 to 7).map(Sink.backoffMs) == Seq(200L, 400L, 800L, 1600L, 2000L, 2000L, 2000L))
  }

  test("batches are at most 500 records (PutRecords cap)") {
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val sender = new RecordSender {
      def send(records: Seq[Array[Byte]]): Seq[Int] = { seen += records.size; Nil }
    }
    val (sent, retries) = Sink.sendAll((1 to 1203).iterator.map(i => bytes(i.toString)), sender)
    assert(sent == 1203 && retries == 0)
    assert(seen.toSeq == Seq(500, 500, 203))
  }

  /** Both drains over the same payloads, paced never to sleep. */
  private def drains(payloads: () => Iterator[Array[Byte]], sender: RecordSender) = Seq(
    "sendAll" -> (() => Sink.sendAll(payloads(), sender)),
    "sendScheduled" -> (() => Sink.sendScheduled(payloads().map(0L -> _), sender,
      nowMs = () => Long.MaxValue, sleeper = _ => ())))

  test("requests stay within 5 MiB, counting a 256-byte partition key per record") {
    val seen = scala.collection.mutable.ArrayBuffer[Seq[Array[Byte]]]()
    val sender = new RecordSender {
      def send(records: Seq[Array[Byte]]): Seq[Int] = { seen += records; Nil }
    }
    for ((name, drain) <- drains(() => Iterator.fill(500)(new Array[Byte](11 * 1024)), sender)) {
      seen.clear()
      val (sent, retries) = drain()
      assert(sent == 500 && retries == 0, name)
      // 500 × (11 KiB + 256 B) = 5.5 MiB: 455 records fill the first request
      assert(seen.map(_.size).toSeq == Seq(455, 45), name)
      assert(seen.forall(_.map(_.length.toLong + Sink.PartitionKeyBytes).sum <=
        Sink.MaxRequestBytes), name)
    }
  }

  test("a payload over 1 MiB fails the task before anything is sent, naming its size") {
    var sends = 0
    val sender = new RecordSender {
      def send(records: Seq[Array[Byte]]): Seq[Int] = { sends += records.size; Nil }
    }
    val oversized = () => Iterator(bytes("a"), new Array[Byte](Sink.MaxRecordBytes + 1))
    for ((name, drain) <- drains(oversized, sender)) {
      val e = intercept[IllegalArgumentException](drain())
      assert(e.getMessage.contains(s"${1024 * 1024 + 1} bytes"), name)
      assert(sends == 0, name)
    }
    // exactly 1 MiB is within the limit
    for ((name, drain) <- drains(() => Iterator(new Array[Byte](Sink.MaxRecordBytes)), sender))
      assert(drain() == ((1L, 0L)), name)
  }

  test("partial failures are retried with backoff, only failed subset resent") {
    val sends = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var call = 0
    val sender = new RecordSender {
      def send(records: Seq[Array[Byte]]): Seq[Int] = {
        sends += records.map(new String(_, UTF_8))
        call += 1
        if (call == 1) Seq(1, 3) // fail b and d once
        else Nil
      }
    }
    val (sent, retries) =
      Sink.sendAll(Seq("a", "b", "c", "d").iterator.map(bytes), sender, sleeps += _)
    assert(sent == 4 && retries == 1)
    assert(sends.toSeq == Seq(Seq("a", "b", "c", "d"), Seq("b", "d")))
    assert(sleeps.toSeq == Seq(200L))
  }

  test("gives up after MaxRetryCount with backoff capped at 2000ms") {
    val sender = new RecordSender {
      def send(records: Seq[Array[Byte]]): Seq[Int] = records.indices
    }
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val e = intercept[IllegalStateException] {
      Sink.sendAll(Iterator(bytes("x")), sender, sleeps += _)
    }
    assert(e.getMessage.contains("100"))
    assert(sleeps.size == Sink.MaxRetryCount)
    assert(sleeps.max == 2000L && sleeps.head == 200L)
  }

  test("pace sleeps only when ahead of schedule") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val lag1 = Pace.paceTo(1000L, () => 400L, sleeps += _) // due later: sleep 600
    val lag2 = Pace.paceTo(1000L, () => 1500L, sleeps += _) // already late
    assert(sleeps.toSeq == Seq(600L))
    assert(lag1 == -600L && lag2 == 500L)
  }

  test("ARN validation and region extraction (R11)") {
    val arn = "arn:aws:kinesis:eu-west-1:123456789012:stream/my-stream_1.x"
    assert(StreamArn.validate(arn))
    assert(StreamArn.extractRegion(arn) == "eu-west-1")
    assert(StreamArn.streamName(arn) == "my-stream_1.x")
    assert(!StreamArn.validate("arn:aws:kinesis:eu-west-1:12345:stream/s"))
    assert(!StreamArn.validate("arn:aws:sqs:eu-west-1:123456789012:queue/q"))
    intercept[IllegalArgumentException](StreamArn.extractRegion("nope"))
  }

  private val TestArn = "arn:aws:kinesis:eu-west-1:123456789012:stream/replay-test"

  test("reflective Kinesis sender: full PutRecords contract against the stub SDK") {
    import graft.replay.fakesdk.services.kinesis.model.FakeKinesisClient
    // call 1 (the 500-batch) partially fails records 1 and 3 → Sink must
    // resend exactly those two; later calls succeed
    val client = new FakeKinesisClient(Seq(Seq(1, 3)))
    val sender = new KinesisRecordSender(TestArn,
      sdkRoot = "graft.replay.fakesdk", clientFactory = Some(() => client))
    val (sent, retries) = Sink.sendAll(
      (0 until 700).iterator.map(i => bytes(s"r$i")), sender, _ => ())
    assert(sent == 700 && retries == 1)
    // batches: 500 (2 failed) → the 2 retried → 200
    assert(client.batches.map(_.size).toSeq == Seq(500, 2, 200))
    assert(client.batches(1) == Seq("r1", "r3")) // failed subset only, in order
    assert(client.arns.forall(_ == TestArn)) // streamARN on every request
    // random partition keys, one per record incl. retries, all distinct
    assert(client.partitionKeys.size == 702)
    assert(client.partitionKeys.distinct.size == 702)
  }

  test("request-level retryable SDK exception engages the backoff loop, not task death") {
    // the whole putRecords THROWS (request-level throttle/transient) with
    // the SDK's retryable verdict true: the sender reports the whole batch
    // as failed indices, Sink backs off and resends, and the records land
    // exactly once — no exception escapes to the task
    import graft.replay.fakesdk.services.kinesis.model.FakeKinesisClient
    import graft.replay.fakesdk.core.exception.SdkException
    val client = new FakeKinesisClient(Nil,
      throwPlan = Map(0 -> new SdkException("throttled", true)))
    val sender = new KinesisRecordSender(TestArn,
      sdkRoot = "graft.replay.fakesdk", clientFactory = Some(() => client))
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val (sent, retries) = Sink.sendAll(
      Seq("a", "b").iterator.map(bytes), sender, sleeps += _)
    assert(sent == 2 && retries == 1)
    assert(sleeps.toSeq == Seq(200L)) // the documented backoff engaged
    assert(client.batches.map(_.size).toSeq == Seq(2)) // one successful resend, full batch
  }

  test("non-retryable SDK exception fails fast as ITSELF, not a reflection wrapper") {
    // ResourceNotFound-shaped misconfiguration must surface immediately
    // (not spin 100 backoffs), and as the REAL exception — Method.invoke
    // wraps causes in InvocationTargetException, which the sender must unwrap
    // or instanceof-based handling and operator logs see reflection noise
    import graft.replay.fakesdk.services.kinesis.model.FakeKinesisClient
    import graft.replay.fakesdk.core.exception.SdkException
    val boom = new SdkException("Stream not found: arn:...", false)
    val client = new FakeKinesisClient(Nil, throwPlan = Map(0 -> boom))
    val sender = new KinesisRecordSender(TestArn,
      sdkRoot = "graft.replay.fakesdk", clientFactory = Some(() => client))
    val e = intercept[SdkException] {
      Sink.sendAll(Iterator(bytes("x")), sender, _ => ())
    }
    assert(e eq boom) // the actual SDK exception, unwrapped
  }

  test("a dry run discards payloads instead of retaining them JVM-wide") {
    DiscardingSender.reset()
    val sender = new DiscardingSender()
    val (sent, _) = Sink.sendAll((1 to 1000).iterator.map(i => bytes(i.toString)), sender)
    assert(sent == 1000 && DiscardingSender.count.get() == 1000)
  }

  test("pacing gap is recomputed after a slow flush, never slept stale") {
    // the record due at t=5000 arrives while a batch is pending; the flush
    // takes 30 s (retry backoff): the stale pre-flush gap must NOT be
    // slept on top — after the flush the record is already late, so no
    // sleep at all, and the reported lag reflects the post-flush clock
    var now = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val lags = scala.collection.mutable.ArrayBuffer[Long]()
    val sender = new RecordSender {
      def send(records: Seq[Array[Byte]]): Seq[Int] = { now += 30000L; Nil }
    }
    val recs = Iterator((0L, bytes("a")), (5000L, bytes("b")))
    val (sent, _) = Sink.sendScheduled(recs, sender, () => now,
      ms => { sleeps += ms; now += ms }, lags += _)
    assert(sent == 2)
    assert(sleeps.isEmpty) // old behavior slept the stale 5000 ms here
    assert(lags.toSeq == Seq(0L, 25000L)) // true post-flush lag, not -5000
  }

  test("statisticsFrequency 0 is rejected at construction (div-by-zero log storm)") {
    intercept[IllegalArgumentException](ReplayConfig(statisticsFrequencyMillis = 0L))
    intercept[IllegalArgumentException](ReplayConfig(statisticsFrequencyMillis = -5L))
  }

  test("reflective sender activation: stub root present, real SDK root absent") {
    assert(KinesisRecordSender.sdkPresent("graft.replay.fakesdk"))
    assert(!KinesisRecordSender.sdkPresent()) // offline classpath: no AWS SDK
    intercept[IllegalArgumentException](new KinesisRecordSender("not-an-arn"))
  }

  test("failedIndices reads errorCode entries duck-typed") {
    import graft.replay.fakesdk.services.kinesis.model.PutRecordsResponse
    val sdk = new KinesisRecordSender.Sdk("graft.replay.fakesdk")
    assert(sdk.failedIndices(new PutRecordsResponse(Nil, 5)) == Nil)
    assert(sdk.failedIndices(new PutRecordsResponse(Seq(0, 4), 5)) == Seq(0, 4))
  }

  test("reorder buffer enforces hard capacity, shedding oldest first with hysteresis") {
    val buf = new StreamingReplay.ReorderBuffer(toleranceMs = Long.MaxValue / 2, capacity = 4)
    // tolerance so large the horizon never releases — only capacity can
    Seq(50L, 10L, 40L, 20L, 30L).foreach(ms => buf.add(ms, bytes(s"e$ms")))
    assert(buf.size == 5)
    val shed = buf.release()
    // over capacity → shed to capacity/2 = 2, oldest first, in order
    assert(shed.map(_._1) == Seq(10L, 20L, 30L))
    assert(buf.size == 2)
    // all 3 were inside the horizon → every one counts as force-released
    // (the ordering-degradation signal ADVICE asked to surface)
    assert(buf.forceReleasedCount == 3)
    assert(buf.release().isEmpty) // back under capacity, horizon still far
    assert(buf.drain().map(_._1) == Seq(40L, 50L))
    assert(buf.forceReleasedCount == 3) // drain is end-of-input, not forced
  }

  test("horizon-passed releases do not count as force-released") {
    val buf = new StreamingReplay.ReorderBuffer(toleranceMs = 5L, capacity = 100)
    Seq(10L, 20L, 100L).foreach(ms => buf.add(ms, bytes(s"e$ms")))
    // horizon = 100 - 5 = 95 → 10 and 20 release normally
    assert(buf.release().map(_._1) == Seq(10L, 20L))
    assert(buf.forceReleasedCount == 0)
  }

  test("reorder buffer horizon saturates: huge tolerance + negative event times never wraps") {
    val buf = new StreamingReplay.ReorderBuffer(Long.MaxValue, capacity = 100)
    buf.add(-10L, bytes("a")); buf.add(-5L, bytes("b")) // pre-epoch event times
    assert(buf.release().isEmpty) // an unwrapped horizon would release both
    assert(buf.drain().map(e => new String(e._2, UTF_8)) == Seq("a", "b"))
    intercept[IllegalArgumentException](
      new StreamingReplay.ReorderBuffer(toleranceMs = -1L, capacity = 10))
  }

  test("stats line carries buffer occupancy and request/retry totals (R12 parity)") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    ReplayStats.configureShared(0L, lines += _) // freq 0: log on every record
    ReplayStats.shared.queueCapacity = 100
    ReplayStats.shared.queueGauge = () => 7
    try {
      // one batch that fails once then succeeds: 2 requests, 1 retry
      val sender = new CollectingSender(failFirstNAttempts = 1)
      CollectingSender.clear()
      val (sent, retries) = Sink.sendScheduled(
        Iterator((0L, bytes("a")), (0L, bytes("b"))), sender,
        nowMs = () => Long.MaxValue, sleeper = _ => (),
        onPaced = lag => ReplayStats.shared.record(lag, 42L))
      assert(sent == 2 && retries == 1)
      assert(ReplayStats.shared.requestCount == 2)
      assert(ReplayStats.shared.retryCount == 1)
      // per-record lines precede the final flush; one more record reports
      // the settled request totals
      ReplayStats.shared.record(0L, 42L)
      assert(lines.nonEmpty)
      assert(lines.last.contains("buffer 100/7 capacity/used"))
      assert(lines.last.contains("2/1 requests/retries"))
      // force-release counter surfaces in the same line once wired
      ReplayStats.shared.forcedGauge = () => 5L
      ReplayStats.shared.record(0L, 42L)
      assert(lines.last.contains("5 force-released"))
    } finally ReplayStats.configureShared(Long.MaxValue, _ => ())
  }

  test("lag histogram percentiles: on-time clamps to 0, overflow saturates, reset clears") {
    val st = new ReplayStats(Long.MaxValue, _ => ())
    assert(st.lagPercentileMs(0.5) == -1L) // empty
    // 50 on-time (negative gap = the pacer slept), 49 at 10 ms, 1 wild
    (1 to 50).foreach(_ => st.record(-3L, 0L))
    (1 to 49).foreach(_ => st.record(10L, 0L))
    st.record(999999L, 0L)
    assert(st.lagPercentileMs(0.50) == 0L) // half delivered on schedule
    assert(st.lagPercentileMs(0.99) == 10L)
    assert(st.lagPercentileMs(1.0) == 62000L) // saturated overflow bucket
    st.reset()
    assert(st.lagPercentileMs(0.5) == -1L)
  }

  test("lag histogram coarse tier: a constant multi-second slip reads as its magnitude, not a 2 s cap") {
    val st = new ReplayStats(Long.MaxValue, _ => ())
    // the r13 failure shape: every record ~27.3 s behind schedule —
    // the old 2 s-capped histogram reported p50=p99=p999=2000
    (1 to 100).foreach(_ => st.record(27310L, 0L))
    // coarse tier is 100 ms grain: lower edge of [27300, 27400)
    assert(st.lagPercentileMs(0.50) == 27300L)
    assert(st.lagPercentileMs(0.999) == 27300L)
    // log2 dump: all mass in the [16384, 32768) range
    assert(st.lagHistogramLog2 == Seq((16384L, 100L)))
    // mixed: fine-tier lags keep 1 ms resolution alongside coarse ones
    st.reset()
    (1 to 99).foreach(_ => st.record(7L, 0L))
    st.record(3456L, 0L)
    assert(st.lagPercentileMs(0.50) == 7L)
    assert(st.lagPercentileMs(1.0) == 3400L) // [3400,3500) lower edge
    assert(st.lagHistogramLog2 == Seq((4L, 99L), (2048L, 1L)))
  }

  test("the sender binds records(Collection) among the stub SDK's records overloads") {
    import graft.replay.fakesdk.services.kinesis.model.PutRecordsRequest
    // the stub declares the SDK's overloads (collection, varargs entries,
    // varargs consumers); the binding is by exact signature, so nothing is
    // left to resolve at send time
    val params = classOf[PutRecordsRequest.Builder].getMethods.toSeq
      .filter(_.getName == "records").map(_.getParameterTypes.toSeq)
    assert(params.contains(Seq(classOf[java.util.Collection[_]])))
    assert(params.exists(p => p.size == 1 && p.head.isArray))
    assert(params.contains(Seq(classOf[java.util.function.Consumer[_]])))
    val bound = new KinesisRecordSender.Sdk("graft.replay.fakesdk").requestRecords
    assert(bound.getDeclaringClass == classOf[PutRecordsRequest.Builder])
    assert(bound.getParameterTypes.toSeq == Seq(classOf[java.util.Collection[_]]))
  }

  test("a Method bound on a public interface invokes on a JDK package-private impl") {
    import KinesisRecordSender.invoke
    // Collections.unmodifiableList returns a package-private class, the
    // shape of the AWS SDK's BuilderImpl / DefaultKinesisClient: a Method
    // taken from the public List interface invokes on it, and what the
    // target throws surfaces unwrapped
    val l = java.util.Collections.unmodifiableList(new java.util.ArrayList[AnyRef]())
    assert(!java.lang.reflect.Modifier.isPublic(l.getClass.getModifiers))
    val list = classOf[java.util.List[_]]
    assert(invoke(list.getMethod("size"), l).asInstanceOf[Integer] == 0)
    assert(invoke(list.getMethod("isEmpty"), l) == java.lang.Boolean.TRUE)
    intercept[UnsupportedOperationException](
      invoke(list.getMethod("add", classOf[Object]), l, "x"))
  }

  test("the bound SDK table is resolved once per sender, not per request or record") {
    import graft.replay.fakesdk.services.kinesis.model.FakeKinesisClient
    val client = new FakeKinesisClient(Nil)
    val sender = new KinesisRecordSender(TestArn,
      sdkRoot = "graft.replay.fakesdk", clientFactory = Some(() => client))
    val before = KinesisRecordSender.bindings.get()
    val (sent, _) = Sink.sendAll(
      (0 until 1500).iterator.map(i => bytes(s"r$i")), sender, _ => ())
    assert(sent == 1500)
    assert(client.batches.map(_.size).toSeq == Seq(500, 500, 500))
    assert(KinesisRecordSender.bindings.get() - before == 1)
  }

  test("the default client is KinesisClient.builder().region(<ARN region>).build(), one per region") {
    import graft.replay.fakesdk.services.kinesis.KinesisClient
    def clients(region: String) = KinesisClient.built.synchronized(
      KinesisClient.built.filter(_._1 == region).map(_._2).toSeq)
    val euArn = "arn:aws:kinesis:eu-north-1:123456789012:stream/default-chain"
    val usArn = "arn:aws:kinesis:us-east-2:123456789012:stream/default-chain"
    val senders = Seq(euArn, euArn, usArn).map(arn =>
      new KinesisRecordSender(arn, sdkRoot = "graft.replay.fakesdk"))
    senders.zipWithIndex.foreach { case (s, i) =>
      assert(Sink.sendAll(Iterator(bytes(s"d$i")), s, _ => ())._1 == 1) }
    // the two eu-north-1 senders share one JVM-wide client
    val eu = clients("eu-north-1")
    assert(eu.size == 1)
    assert(eu.head.batches.toSeq == Seq(Seq("d0"), Seq("d1")))
    assert(eu.head.arns.toSeq == Seq(euArn, euArn))
    val us = clients("us-east-2")
    assert(us.size == 1 && us.head.batches.toSeq == Seq(Seq("d2")))
  }

  test("affine schedule arithmetic (R6): deltas divided by speedup, round-half-up") {
    assert(Schedule.ingestionMs(eventMs = 6480000, firstEventMs = 0,
      ingestionStartMs = 5000, speedupFactor = 6480) == 6000)
    assert(Schedule.ingestionMs(1000, 1000, 99, 6480) == 99)
    assert(Schedule.ingestionMs(1999, 1000, 0, 1000) == 1) // 0.999 rounds up
    assert(Schedule.ingestionMs(1500, 1000, 0, 1000) == 1) // half rounds up
    assert(Schedule.ingestionMs(1499, 1000, 0, 1000) == 0)
    // fractional speedups are legal (reference takes a float)
    assert(Schedule.ingestionMs(1001, 1000, 0, 0.5) == 2)
    assert(Schedule.ingestionMs(1003, 1000, 0, 2.5) == 1)
  }
}
