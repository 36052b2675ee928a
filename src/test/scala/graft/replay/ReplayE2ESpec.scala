package graft.replay

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end replay without AWS (SURVEY.md §5.2): a local JSON-lines
  * fixture through the full pipeline into the collecting sender. Asserts
  * ordering, payload byte-equality (incl. forced trailing '\n'),
  * malformed-row drop, suffix skip, seek, and the pacing schedule. */
/** JVM-static sleep recorder: Spark serializes task closures even in local
  * mode, so a captured ArrayBuffer would be mutated on a copy. */
object SleepRecorder {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val record: Long => Unit = (ms: Long) => { q.add(ms); () }
  def clear(): Unit = q.clear()
  def all: Seq[Long] = {
    val it = q.iterator(); val b = Seq.newBuilder[Long]
    while (it.hasNext) b += it.next().longValue()
    b.result()
  }
}

/** Collects like [[CollectingSender]] and notes, at every send, whether the
  * SQL cache manager holds a relation (local mode: sink tasks run in the
  * driver's JVM, next to its session). */
class CacheProbeSender extends CollectingSender {
  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    CacheProbeSender.sqlCacheEmpty.add(SparkSpec.session.sharedState.cacheManager.isEmpty)
    super.send(records)
  }
}
object CacheProbeSender {
  val sqlCacheEmpty = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Boolean]()
}

/** Records each payload with the sink partition that sent it, in send
  * order (one task per partition, so a partition's order is its task's). */
class LaneRecordingSender extends RecordSender {
  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    val lane = org.apache.spark.TaskContext.get().partitionId()
    records.foreach(r => LaneRecordingSender.received.add((lane, new String(r, UTF_8))))
    Nil
  }
}
object LaneRecordingSender {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
}

/** Fails every send the way a misconfigured transport does: by throwing. */
class ThrowingSender extends RecordSender {
  override def send(records: Seq[Array[Byte]]): Seq[Int] =
    throw new IllegalStateException("stream not found: replay-test")
}

class ReplayE2ESpec extends SparkSpec {

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("replay_fixture")
    // deliberately out of order within a file + across files; one malformed
    // row; one row missing the attribute; a README.md that must be skipped
    Files.write(dir.resolve("part-b.jsonl"), Seq(
      """{"id":4,"dropoff_datetime":"2024-01-01T00:03:00Z","fare":7.5}""",
      """{"id":3,"dropoff_datetime":"2024-01-01T00:02:00Z"}""",
      """not json at all""",
      """{"id":6,"dropoff_datetime":"2024-01-01T00:05:00Z"}""").mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve("part-a.jsonl"), Seq(
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""",
      """{"id":0,"no_ts_here":true}""",
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":5,"dropoff_datetime":"2024-01-01T00:04:00Z"}""").mkString("\n").getBytes(UTF_8))
    // a VALID event row inside the suffix-skipped file: if the R4 filter
    // ever breaks, this row WOULD parse and change the counts
    Files.write(dir.resolve("README.md"),
      """{"id":99,"dropoff_datetime":"2024-01-01T00:06:00Z"}""".getBytes(UTF_8))
    dir.toString
  }

  private def ids(payloads: Seq[String]): Seq[Int] =
    payloads.map(p => """"id":(\d+)""".r.findFirstMatchIn(p).get.group(1).toInt)

  test("batch replay: order, byte-exact payloads, drops, skip, pacing") {
    val dir = writeFixture()
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    SleepRecorder.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => 0L, sleeper = SleepRecorder.record)

    val payloads = CollectingSender.payloads
    assert(sent == 6 && payloads.size == 6) // 8 lines - 2 malformed; README skipped
    assert(ids(payloads) == Seq(1, 2, 3, 4, 5, 6)) // event-time order repaired
    assert(payloads.forall(_.endsWith("\n"))) // JsonEvent.java:43-49 semantics
    assert(payloads.head == """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""" + "\n")
    // schedule: events 1 min apart at speedup 60000 → due at 0,1,2,3,4,5 ms
    // from a start of 0; with now pinned at 0 the pacer sleeps exactly that
    assert(SleepRecorder.all == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("seek filters exactly at the boundary (R7, exact not sampled)") {
    val dir = writeFixture()
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1,
      seek = Some(java.time.Instant.parse("2024-01-01T00:02:00Z")))
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 4)
    assert(ids(CollectingSender.payloads) == Seq(3, 4, 5, 6))
  }

  test("streaming seek filters exactly at the boundary (R7)") {
    val cfg = ReplayConfig(inputPath = writeFixture(), speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1,
      seek = Some(java.time.Instant.parse("2024-01-01T00:02:00Z")))
    CollectingSender.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 4)
    assert(ids(CollectingSender.payloads) == Seq(3, 4, 5, 6))
  }

  test("seek keeps an event exactly at the seek time and drops one 1 µs before it, on both paths") {
    val dir = Files.createTempDirectory("replay_seek_us")
    Files.write(dir.resolve("events.jsonl"), Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:01:59.999999Z"}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:02:00Z"}""",
      """{"id":3,"dropoff_datetime":"2024-01-01T00:02:00.000001Z"}""",
      """{"id":4,"dropoff_datetime":"2024-01-01T00:01:59.9999995Z"}""").mkString("\n").getBytes(UTF_8))
    // id 4 truncates to 1 µs before the seek time, as try_to_timestamp does
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1,
      seek = Some(java.time.Instant.parse("2024-01-01T00:02:00Z")))
    for (run <- Seq[RecordSender => Long](
        s => ReplayJob.run(spark, cfg, s, nowMs = () => Long.MaxValue, sleeper = _ => ()),
        s => StreamingReplay.run(spark, cfg, s, nowMs = () => Long.MaxValue, sleeper = _ => ()))) {
      CollectingSender.clear()
      assert(run(new CollectingSender()) == 2)
      assert(ids(CollectingSender.payloads) == Seq(2, 3))
    }
  }

  test("both replay paths reject an unaddressable attribute name before any job runs") {
    val dir = writeFixture()
    for (bad <- Seq("it's", "a\"b", "a\\b", "drop?off")) {
      val cfg = ReplayConfig(inputPath = dir, timestampAttributeName = bad,
        speedupFactor = 60000L, ingestionStartMs = Some(0L), senderParallelism = 1)
      for (run <- Seq[() => Long](
          () => ReplayJob.run(spark, cfg, new CollectingSender()),
          () => StreamingReplay.run(spark, cfg, new CollectingSender()))) {
        val (ex, jobs) = withJobCount(intercept[IllegalArgumentException](run()))
        assert(ex.getMessage.contains("cannot address"))
        assert(jobs == 0, s"$jobs Spark jobs ran before the name check")
      }
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * submitted. Jobs are counted by a job group set on this thread, so
    * jobs from other threads never count. */
  private def withJobCount[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"replay-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-done" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job's start is
      // seen, every job of `body` has been counted
      sc.setJobGroup(s"$group-done", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `files` JSON-lines files of seeded events over `distinctTimes` event
    * times (minutes 0.. of 2024-01-01), plus one malformed line per file.
    * Returns the directory and every good line with its forced '\n'. */
  private def laneFixture(files: Int, perFile: Int, distinctTimes: Int,
      seed: Long): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("replay_lanes")
    val rng = new scala.util.Random(seed)
    val good = (0 until files).map { k =>
      val lines = (0 until perFile).map { l =>
        val minute = rng.nextInt(distinctTimes)
        f"""{"id":${k * 1000 + l},"dropoff_datetime":"2024-01-01T00:$minute%02d:00Z"}"""
      }
      Files.write(dir.resolve(f"part-$k%02d.jsonl"),
        (lines :+ "not json").mkString("\n").getBytes(UTF_8))
      lines
    }
    (dir.toString, good.flatten.map(_ + "\n"))
  }

  private def eventMs(payload: String): Long = java.time.Instant.parse(
    """"dropoff_datetime":"([^"]+)"""".r.findFirstMatchIn(payload).get.group(1)).toEpochMilli

  test("batch replay is at most 3 Spark jobs and leaves no cache behind") {
    val sc = spark.sparkContext
    val (dir, expected) = laneFixture(files = 6, perFile = 50, distinctTimes = 40, seed = 11)
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 4)
    CollectingSender.clear()
    CacheProbeSender.sqlCacheEmpty.clear()
    val (sent, jobs) = withJobCount(onePartitionPerFile(
      ReplayJob.run(spark, cfg, new CacheProbeSender(),
        nowMs = () => Long.MaxValue, sleeper = _ => ())))
    assert(sent == expected.size)
    assert(CollectingSender.payloads.sorted == expected.sorted)
    // scan+parse+anchor, range sample, shuffle+sink
    assert(jobs <= 3, s"$jobs Spark jobs for one replay pass")
    assert(sc.getPersistentRDDs.isEmpty, s"left persisted: ${sc.getPersistentRDDs}")
    assert(spark.sharedState.cacheManager.isEmpty)
    // no DataFrame cache while the sink runs either
    val probes = CacheProbeSender.sqlCacheEmpty.toArray(Array.empty[java.lang.Boolean]).toSeq
    assert(probes.nonEmpty && probes.forall(_.booleanValue), s"SQL cache empty at send: $probes")
  }

  test("the replay shuffle encoding round-trips event ms and payloads, then ends") {
    val records = Seq(
      (Long.MinValue, Array.empty[Byte]),
      (-1L, "{\"a\":1}\n".getBytes(UTF_8)),
      (1704067200000L, Array.tabulate[Byte](Sink.MaxRecordBytes)(i => (i % 251).toByte)),
      (Long.MaxValue, Array[Byte](0, -1, 10)))
    val ser = RecordShuffleSerializer.newInstance()
    val buf = new java.io.ByteArrayOutputStream()
    val out = ser.serializeStream(buf)
    records.foreach { case (ms, payload) => out.writeKey(ms); out.writeValue(payload) }
    out.close()
    val back = ser.deserializeStream(new java.io.ByteArrayInputStream(buf.toByteArray))
      .asKeyValueIterator.toSeq
      .map { case (ms, payload) => (ms.asInstanceOf[Long], payload.asInstanceOf[Array[Byte]].toSeq) }
    assert(back == records.map { case (ms, payload) => (ms, payload.toSeq) })
  }

  test("batch replay of no events returns 0, sends nothing and persists nothing") {
    val sc = spark.sparkContext
    val malformed = Files.createTempDirectory("replay_all_malformed")
    Files.write(malformed.resolve("part-a.jsonl"), Seq(
      """not json at all""",
      """{"id":1,"no_ts_here":true}""",
      """{"id":2,"dropoff_datetime":"not a time"}""").mkString("\n").getBytes(UTF_8))
    Files.write(malformed.resolve("part-b.jsonl"), "{".getBytes(UTF_8))
    val allMalformed = ReplayConfig(inputPath = malformed.toString,
      speedupFactor = 60000L, ingestionStartMs = Some(0L), senderParallelism = 4)
    // every fixture event falls before the seek point
    val allBeforeSeek = ReplayConfig(inputPath = writeFixture(),
      speedupFactor = 60000L, ingestionStartMs = Some(0L), senderParallelism = 4,
      seek = Some(java.time.Instant.parse("2025-01-01T00:00:00Z")))
    for (cfg <- Seq(allMalformed, allBeforeSeek)) {
      CollectingSender.clear()
      val (sent, jobs) = withJobCount(ReplayJob.run(spark, cfg, new CollectingSender(),
        nowMs = () => Long.MaxValue, sleeper = _ => ()))
      assert(sent == 0 && CollectingSender.payloads.isEmpty, cfg.inputPath)
      assert(jobs <= 1, s"$jobs jobs: nothing to partition after the anchor fold")
      assert(sc.getPersistentRDDs.isEmpty, s"left persisted: ${sc.getPersistentRDDs}")
    }
  }

  test("batch replay rethrows a non-retryable send failure and persists nothing") {
    val cfg = ReplayConfig(inputPath = writeFixture(), speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 2)
    val e = intercept[Exception](ReplayJob.run(spark, cfg, new ThrowingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ()))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("stream not found: replay-test"))),
      s"sender failure lost: $e")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"left persisted: ${spark.sparkContext.getPersistentRDDs}")
  }

  test("batch replay over 3 lanes delivers every good line once, each lane in event-time order") {
    // 8 distinct event times over 600 events: every range boundary falls
    // on a run of equal event times
    val (dir, expected) = laneFixture(files = 5, perFile = 120, distinctTimes = 8, seed = 23)
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 3)
    LaneRecordingSender.received.clear()
    val sent = onePartitionPerFile(ReplayJob.run(spark, cfg, new LaneRecordingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ()))
    val got = LaneRecordingSender.received.toArray(Array.empty[(Int, String)]).toSeq
    assert(sent == expected.size)
    assert(got.map(_._2).sorted == expected.sorted) // each good line exactly once
    val lanes = got.groupBy(_._1).map { case (lane, rs) => (lane, rs.map(r => eventMs(r._2))) }
    assert(lanes.size > 1, s"one lane only: ${lanes.keys}")
    lanes.foreach { case (lane, ms) =>
      assert(ms == ms.sorted, s"lane $lane out of event-time order")
    }
    // lanes are contiguous, disjoint slices of event time: equal event
    // times never straddle two lanes
    val spans = lanes.toSeq.sortBy(_._1).map { case (_, ms) => (ms.head, ms.last) }
    spans.zip(spans.drop(1)).foreach { case ((_, hi), (lo, _)) => assert(hi < lo, s"$spans") }
  }

  test("streaming replay with AvailableNow drains everything then stops (R14)") {
    val dir = writeFixture()
    // whole directory: the README.md suffix-skip must work in streaming too
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    val payloads = CollectingSender.payloads
    assert(sent == 6 && payloads.size == 6)
    assert(payloads.forall(_.endsWith("\n")))
  }

  test("streaming replay repairs cross-micro-batch disorder (R8 watermark reorder)") {
    // one file per micro-batch (maxFilesPerTrigger=1); the lexically-first
    // file holds the LATEST timestamps, so per-batch sorting alone would
    // emit 4,6 before 1,2,3,5 — the reorder buffer must hold them back
    // until the watermark (or the end-of-input drain) passes them
    val dir = Files.createTempDirectory("replay_disorder")
    Files.write(dir.resolve("a-late.jsonl"), Seq(
      """{"id":4,"dropoff_datetime":"2024-01-01T00:03:00Z"}""",
      """{"id":6,"dropoff_datetime":"2024-01-01T00:05:00Z"}""").mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve("b-early.jsonl"), Seq(
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""",
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":5,"dropoff_datetime":"2024-01-01T00:04:00Z"}""").mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve("c-mid.jsonl"), Seq(
      """{"id":3,"dropoff_datetime":"2024-01-01T00:02:00Z"}""").mkString("\n").getBytes(UTF_8))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => (),
      disorderToleranceMs = 600000L, maxFilesPerTrigger = 1)
    assert(sent == 6)
    assert(ids(CollectingSender.payloads) == Seq(1, 2, 3, 4, 5, 6))

    // with a tolerance SMALLER than the actual disorder, events later than
    // the declared horizon may emit out of order (the watermark contract)
    // but are still DELIVERED, never dropped — and each release batch is
    // internally ordered
    CollectingSender.clear()
    val sent2 = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => (),
      disorderToleranceMs = 60000L, maxFilesPerTrigger = 1)
    assert(sent2 == 6)
    assert(ids(CollectingSender.payloads).sorted == Seq(1, 2, 3, 4, 5, 6))
  }

  /** The cross-micro-batch disorder fixture of the reorder test above:
    * with maxFilesPerTrigger=1 the first micro-batch holds the LATEST
    * timestamps. */
  private def disorderFixture(): String = {
    val dir = Files.createTempDirectory("replay_disorder")
    Files.write(dir.resolve("a-late.jsonl"), Seq(
      """{"id":4,"dropoff_datetime":"2024-01-01T00:03:00Z"}""",
      """{"id":6,"dropoff_datetime":"2024-01-01T00:05:00Z"}""").mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve("b-early.jsonl"), Seq(
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""",
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":5,"dropoff_datetime":"2024-01-01T00:04:00Z"}""").mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve("c-mid.jsonl"), Seq(
      """{"id":3,"dropoff_datetime":"2024-01-01T00:02:00Z"}""").mkString("\n").getBytes(UTF_8))
    dir.toString
  }

  test("streaming replay paces each released event on the schedule anchored at the first one") {
    val cfg = ReplayConfig(inputPath = disorderFixture(), speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    SleepRecorder.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => 0L, sleeper = SleepRecorder.record,
      disorderToleranceMs = 600000L, maxFilesPerTrigger = 1)
    assert(sent == 6)
    assert(ids(CollectingSender.payloads) == Seq(1, 2, 3, 4, 5, 6))
    // events 1 min apart at speedup 60000, anchored at the first released
    // event (id 1, from the second file): due at 0,1,2,3,4,5 ms from a
    // start of 0; with now pinned at 0 the pacer sleeps exactly that
    assert(SleepRecorder.all == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("batch and streaming replay send byte-identical payloads (4-byte UTF-8, CRLF, invalid UTF-8)") {
    val dir = Files.createTempDirectory("replay_bytes")
    def line(id: Int, extra: String) =
      s"""{"id":$id,"dropoff_datetime":"2024-01-01T00:0$id:00Z","s":"$extra"}""".getBytes(UTF_8)
    val astral = line(1, "\uD83D\uDE00") // U+1F600: F0 9F 98 80
    val crlf = line(2, "crlf")
    val invalid = line(3, "b?d") // the '?' becomes 0xFF, never valid in UTF-8
    invalid(invalid.indexOf('?'.toByte)) = 0xFF.toByte
    val nl = "\n".getBytes(UTF_8)
    Files.write(dir.resolve("mixed.jsonl"),
      Array.concat(astral, nl, crlf, "\r\n".getBytes(UTF_8), invalid, nl))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    def sent(run: => Long): Seq[Seq[Byte]] = {
      CollectingSender.clear()
      assert(run == 3)
      val it = CollectingSender.received.iterator()
      val b = Seq.newBuilder[Seq[Byte]]
      while (it.hasNext) b += it.next().toSeq
      b.result()
    }
    val batch = sent(ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ()))
    val streaming = sent(StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ()))
    val replaced = line(3, "b\uFFFDd") // the invalid byte as EF BF BD
    assert(batch == Seq(astral ++ nl, crlf ++ nl, replaced ++ nl).map(_.toSeq))
    assert(streaming == batch)
  }

  test("compressed input (gzip) decodes by extension (R2)") {
    val dir = Files.createTempDirectory("replay_gz")
    val lines = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""").mkString("\n")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("events.jsonl.gz")))
    gz.write(lines.getBytes(UTF_8)); gz.close()
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 2)
    assert(ids(CollectingSender.payloads) == Seq(1, 2))
  }

  test("pass-through of an over-ceiling block-LZ4 header is flagged; plain text is not") {
    def buf(bytes: Array[Byte]) =
      new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(bytes))
    def be(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val ceiling = 64L * 1024 * 1024
    // internally consistent block-LZ4 lengths, orig just above the ceiling
    val overCeiling = be(ceiling + 1) ++ be(ceiling / 2)
    val b1 = buf(overCeiling)
    assert(FramedLz4Codec.warnIfPlausibleOverCeiling(b1, ceiling))
    // the sniff must not consume the stream (pass-through still replays it)
    assert(b1.readNBytes(8).toSeq == overCeiling.toSeq)
    // plain JSON text: both words decode ~2e9, comp >> orig's bound → quiet
    assert(!FramedLz4Codec.warnIfPlausibleOverCeiling(
      buf("""{"type":"trip"}""".getBytes(UTF_8)), ceiling))
  }

  test("a timestamp attribute name containing a quote fails loudly, not silently") {
    // Spark's JSON path syntax cannot address such a key at all; emitting
    // the path anyway would NULL every extraction and the malformed-row
    // filter would drop the whole input without a trace
    import spark.implicits._
    val lines = Seq("""{"it's":"2024-01-01T00:00:00Z"}""").toDF("value")
    for (bad <- Seq("it's", "a\"b", "a\\b", "drop?off")) {
      val ex = intercept[IllegalArgumentException](Parse.parsed(lines, bad))
      assert(ex.getMessage.contains("cannot address"))
    }
    // the empty name is rejected too — JsonPathParser's field rule is
    // `[^\'\?]+` (nonempty), so $[''] never parses and every row would drop
    intercept[IllegalArgumentException](Parse.parsed(lines, ""))
    // ordinary names (including dots, which bracket form keeps flat) still parse
    assert(Parse.parsed(Seq("""{"a.b":"2024-01-01T00:00:00Z"}""").toDF("value"),
      "a.b").count() == 1)
  }

  test("streaming aggregation recovers from a checkpoint without data loss") {
    // checkpointed windowed counts over the fixture: run, stop mid-way is
    // not forced (AvailableNow drains), so instead restart AFTER new data
    // lands and assert the checkpoint carries state across runs
    val dir = Files.createTempDirectory("ckpt_src")
    val ckpt = Files.createTempDirectory("ckpt_state").toString
    def writeBatch(name: String, ids: Range): Unit =
      Files.write(dir.resolve(name), ids.map(i =>
        s"""{"id":$i,"dropoff_datetime":"2024-01-01T00:0$i:00Z"}""").mkString("\n").getBytes(UTF_8))
    writeBatch("a.jsonl", 0 to 4)

    import org.apache.spark.sql.functions._
    def start() = {
      val lines = spark.readStream.text(dir.toString)
      Parse.parsed(lines, "dropoff_datetime")
        .withWatermark("timestamp", "10 minutes")
        .groupBy(window(col("timestamp"), "10 minutes"))
        .agg(count(lit(1)).as("n"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("complete").format("memory").queryName("ckpt_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val q1 = start(); q1.awaitTermination(60000)
    assert(spark.table("ckpt_out").agg(sum("n")).first().getLong(0) == 5)

    writeBatch("b.jsonl", 5 to 8) // new data after the first run stopped
    val q2 = start(); q2.awaitTermination(60000)
    // restart resumed from the checkpoint: old + new rows counted once
    assert(spark.table("ckpt_out").agg(sum("n")).first().getLong(0) == 9)
  }

  test("streaming replay: one oversized file completes under a hard buffer capacity") {
    // 500 shuffled events in a SINGLE file — maxFilesPerTrigger can't bound
    // this; the buffer's hard capacity (readerBufferSize=10) must: rows
    // are fed to the buffer one at a time and it force-releases oldest
    // past the cap, so the buffer holds ~10 events at any moment
    val dir = Files.createTempDirectory("replay_fat")
    val rng = new scala.util.Random(7)
    val rows = rng.shuffle((1 to 500).toList).map { i =>
      f"""{"id":$i,"dropoff_datetime":"2024-01-01T${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d.000Z"}"""
    }
    Files.write(dir.resolve("fat.jsonl"), rows.mkString("\n").getBytes(UTF_8))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 3600000L,
      ingestionStartMs = Some(0L), senderParallelism = 2,
      readerBufferSize = 10)
    CollectingSender.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => (),
      disorderToleranceMs = Long.MaxValue / 2) // horizon never fires: capacity must
    assert(sent == 500)
    // forced releases may reorder beyond the 10-event horizon, but nothing
    // is ever dropped
    assert(ids(CollectingSender.payloads).sorted == (1 to 500).toList)
  }

  /** `files` plain JSON-lines files, all events at ONE event time. File k
    * holds `files + 2 - k` lines, so sizes fall strictly with k; the file
    * source orders a batch's partitions by size (largest first), so with
    * one file per partition, partition index k is file k. */
  private def sameTimeFiles(files: Int): (String, Seq[String]) = {
    val dir = Files.createTempDirectory("replay_same_time")
    val byFile = (0 until files).map { k =>
      (0 until files + 2 - k).map(l =>
        f"""{"id":${k * 100 + l},"dropoff_datetime":"2024-01-01T00:00:00Z"}""")
    }
    byFile.zipWithIndex.foreach { case (lines, k) =>
      Files.write(dir.resolve(f"part-$k%02d.jsonl"), lines.mkString("\n").getBytes(UTF_8))
    }
    (dir.toString, byFile.flatten.map(_ + "\n"))
  }

  /** Runs `body` with every small file in a partition of its own: below
    * the 4 MiB open cost, a split size of 1 MiB never packs two files. */
  private def onePartitionPerFile[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1m")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming replay collects a micro-batch one partition per job, up to defaultParallelism at once, in partition order") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val files = 10
    val (dir, expected) = sameTimeFiles(files)
    // collect jobs read the input files (a FileScanRDD in their stage);
    // emit jobs only parallelize released events
    val collectTasks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val running = scala.collection.mutable.Set.empty[Int] // listener-bus thread only
    var mostAtOnce = 0
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == "replay-done-marker"))
          marker.countDown()
        else if (e.stageInfos.exists(_.rddInfos.exists(_.name == "FileScanRDD"))) {
          collectTasks.add((props.map(_.getProperty("streaming.sql.batchId")).orNull,
            e.stageInfos.map(_.numTasks).sum))
          running += e.jobId
          mostAtOnce = math.max(mostAtOnce, running.size)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running -= e.jobId
    }
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    def replay(): (Long, Seq[String]) = {
      CollectingSender.clear()
      val sent = onePartitionPerFile(StreamingReplay.run(spark, cfg, new CollectingSender(),
        nowMs = () => Long.MaxValue, sleeper = _ => ()))
      (sent, CollectingSender.payloads)
    }
    sc.addSparkListener(listener)
    val (sent, first) =
      try {
        val r = replay()
        // listener events arrive in order: once this job's start is seen,
        // every job of the replay has been counted
        sc.setJobDescription("replay-done-marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
        assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
        r
      } finally sc.removeSparkListener(listener)
    val jobs = collectTasks.toArray(Array.empty[(String, Int)]).toSeq
    val slots = sc.defaultParallelism
    assert(files > slots, s"the test needs more partitions than defaultParallelism=$slots")
    assert(jobs.map(_._1).distinct.size == 1, s"one AvailableNow trigger expected: $jobs")
    // one single-task job per partition: a job's result is one partition
    assert(jobs.size == files && jobs.forall(_._2 == 1), s"collect jobs: $jobs")
    assert(mostAtOnce <= slots, s"$mostAtOnce collect jobs at once")
    assert(mostAtOnce > 1, "collect jobs ran one at a time")
    // identical event times: the (ms, seq) tie-break keeps arrival order,
    // which is partition index, then line
    assert(sent == expected.size)
    assert(first == expected)
    assert(replay() == ((expected.size.toLong, expected)))
  }

  test("streaming replay progress still counts every input line (numInputRows)") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val (dir, expected) = sameTimeFiles(10)
    // one line no parse can keep: input rows count lines read, not sent
    Files.write(Paths.get(dir, "part-99.jsonl"), "not json".getBytes(UTF_8))
    val inputRows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        inputRows.add(e.progress.numInputRows)
      // posted after the query's last progress event, on the same bus
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.countDown()
    }
    val cfg = ReplayConfig(inputPath = dir, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 2)
    CollectingSender.clear()
    spark.streams.addListener(listener)
    val sent =
      try {
        val n = StreamingReplay.run(spark, cfg, new CollectingSender(),
          nowMs = () => Long.MaxValue, sleeper = _ => (), maxFilesPerTrigger = 3)
        assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS))
        n
      } finally spark.streams.removeListener(listener)
    assert(sent == expected.size)
    val perTrigger = inputRows.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq
    assert(perTrigger.count(_ > 0) == 4, s"11 files at 3 per trigger: $perTrigger")
    assert(perTrigger.sum == expected.size + 1, s"per trigger: $perTrigger")
  }

  test("framed .json.lz4 input (the reference's default dataset format) replays byte-exactly (R2)") {
    val dir = Files.createTempDirectory("replay_lz4")
    val lines = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z","fare":3.25}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z","fare":11.0}""",
      """{"id":3,"dropoff_datetime":"2024-01-01T00:02:00Z"}""")
    val lz4 = new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("taxi-trips.json.lz4")))
    lz4.write(lines.mkString("\n").getBytes(UTF_8)); lz4.close()
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 3)
    val payloads = CollectingSender.payloads
    assert(ids(payloads) == Seq(1, 2, 3))
    // byte-exact: original line + the forced trailing newline, nothing else
    assert(payloads == lines.map(_ + "\n"))
  }

  test("concatenated LZ4 frames decode fully — no silent truncation after frame 1") {
    // `cat a.lz4 b.lz4 > all.lz4` (and chunked writers flushing one frame
    // per chunk) is a valid stream `lz4cat` reads end-to-end; the factory's
    // default stops at the first frame's end-mark and silently drops the
    // rest — data loss with no error raised
    val dir = Files.createTempDirectory("replay_lz4_concat")
    val first = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""")
    val second = Seq(
      """{"id":3,"dropoff_datetime":"2024-01-01T00:02:00Z"}""",
      """{"id":4,"dropoff_datetime":"2024-01-01T00:03:00Z"}""")
    val out = java.nio.file.Files.newOutputStream(dir.resolve("trips.json.lz4"))
    for (chunk <- Seq(first, second)) {
      val f = new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(out)
      f.write((chunk.mkString("\n") + "\n").getBytes(UTF_8))
      f.finish() // complete frame; next chunk starts a fresh one
    }
    out.close()
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 4) // truncation at frame 1 would read 2
    assert(ids(CollectingSender.payloads) == Seq(1, 2, 3, 4))
  }

  test("lz4-java, skippable and linked-block frames in one .json.lz4 replay byte-exactly (R2)") {
    import FramedLz4CodecSpec._
    import net.jpountz.lz4.LZ4FrameOutputStream.FLG
    val dir = Files.createTempDirectory("replay_lz4_mixed")
    val parts = Seq(lines(0, 40), lines(40, 40), lines(80, 40))
    Files.write(dir.resolve("trips.json.lz4"),
      lz4Java(text(parts(0)), FLG.Bits.BLOCK_CHECKSUM, FLG.Bits.CONTENT_CHECKSUM) ++
        Skippable ++ linked(text(parts(1))) ++ lz4Java(text(parts(2))))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 120)
    assert(CollectingSender.payloads == parts.flatten.map(_ + "\n"))
  }

  test("a leading skippable frame before an lz4-java frame replays every row (R2)") {
    import FramedLz4CodecSpec._
    // the skippable magic is zstd's too: detected as zstd, this file
    // failed to decode and ignoreCorruptFiles dropped all its rows
    val dir = Files.createTempDirectory("replay_lz4_skippable_java")
    val rows = lines(0, 60)
    Files.write(dir.resolve("trips.json.lz4"), Skippable ++ lz4Java(text(rows)))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 60)
    assert(CollectingSender.payloads == rows.map(_ + "\n"))
  }

  test("leading skippable frames before a linked-block frame replay every row (R2)") {
    import FramedLz4CodecSpec._
    val dir = Files.createTempDirectory("replay_lz4_skippable_linked")
    val rows = lines(0, 60)
    Files.write(dir.resolve("trips.json.lz4"), Skippable ++ Skippable ++ linked(text(rows)))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 60)
    assert(CollectingSender.payloads == rows.map(_ + "\n"))
  }

  test("suffix skip matches the full path like the reference's key.endsWith — batch and streaming agree") {
    // a suffix spanning '/' (an object-key suffix, e.g. `meta/README.md`)
    // must skip in BOTH paths; a name-only match skips nothing in batch
    // while streaming skips — silently divergent replay sets
    val dir = Files.createTempDirectory("replay_suffix")
    Files.createDirectories(dir.resolve("meta"))
    Files.write(dir.resolve("part-a.jsonl"),
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""".getBytes(UTF_8))
    Files.write(dir.resolve("meta").resolve("README.md"),
      """{"id":99,"dropoff_datetime":"2024-01-01T00:06:00Z"}""".getBytes(UTF_8))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1,
      objectSuffixToSkip = "meta/README.md")
    CollectingSender.clear()
    val sentBatch = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sentBatch == 1 && ids(CollectingSender.payloads) == Seq(1))
    CollectingSender.clear()
    val sentStream = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sentStream == 1 && ids(CollectingSender.payloads) == Seq(1))
    // an empty suffix skips NOTHING (endsWith("") is true of every path —
    // it must not mean "skip everything")
    assert(Source.listFiles(spark, dir.toString, "").size == 2)
  }

  test("block-format .lz4 (Hadoop Lz4Codec wire format) still decodes via the sniffing fallback") {
    val dir = Files.createTempDirectory("replay_lz4_block")
    val lines = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""")
    val hadoopLz4 = new org.apache.hadoop.io.compress.Lz4Codec()
    hadoopLz4.setConf(spark.sparkContext.hadoopConfiguration)
    val out = hadoopLz4.createOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("events.jsonl.lz4")))
    out.write(lines.mkString("\n").getBytes(UTF_8)); out.close()
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 2)
    assert(ids(CollectingSender.payloads) == Seq(1, 2))
  }

  test("zstd content mislabeled .json.lz4 decodes via the magic-byte sniff (R2 breadth)") {
    // the reference detects the COMPRESSOR from content, never the name
    // (CompressorStreamFactory) — so a zstd stream inside a .lz4-named
    // object must decode; exercises the commons-compress breadth claim
    // beyond the two LZ4 wire formats
    val dir = Files.createTempDirectory("replay_zstd")
    val lines = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""")
    val z = new com.github.luben.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("events.json.lz4")))
    z.write(lines.mkString("\n").getBytes(UTF_8)); z.close()
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 2)
    assert(ids(CollectingSender.payloads) == Seq(1, 2))
  }

  test("uncompressed file mislabeled .json.lz4 replays byte-exactly (reference's plain-text fallback)") {
    // the reference's content sniff falls through to "probably just
    // uncompressed" (JsonEventS3Iterator.java:164-166); a plaintext file
    // with an .lz4 name must replay, not throw and get dropped by
    // ignoreCorruptFiles
    val dir = Files.createTempDirectory("replay_lz4_plain")
    val lines = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z","fare":2.5}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""")
    Files.write(dir.resolve("mislabeled.json.lz4"),
      lines.mkString("\n").getBytes(UTF_8))
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 2)
    val payloads = CollectingSender.payloads
    assert(ids(payloads) == Seq(1, 2))
    assert(payloads == lines.map(_ + "\n")) // byte-exact pass-through
  }

  test("streaming source also decodes framed .lz4 (codec registered on the shared conf)") {
    val dir = Files.createTempDirectory("replay_lz4_stream")
    val lines = Seq(
      """{"id":1,"dropoff_datetime":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"dropoff_datetime":"2024-01-01T00:01:00Z"}""")
    val lz4 = new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("events.json.lz4")))
    lz4.write(lines.mkString("\n").getBytes(UTF_8)); lz4.close()
    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 1)
    CollectingSender.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == 2)
    assert(ids(CollectingSender.payloads) == Seq(1, 2))
  }

  test("fractional speedup 0.5 slows replay to half speed end-to-end") {
    val dir = writeFixture()
    // 0.5 = slow-down: 60s event gaps stretch to 120s of simulated time
    val (cfg0, _) = ReplayCli.parseArgs(Array(
      "-inputPath", dir, "-speedup", "0.5", "-dryRun"))
    val cfg = cfg0.copy(ingestionStartMs = Some(0L), senderParallelism = 1)
    assert(cfg.speedupFactor == 0.5)
    CollectingSender.clear()
    SleepRecorder.clear()
    val sent = ReplayJob.run(spark, cfg, new CollectingSender(),
      nowMs = () => 0L, sleeper = SleepRecorder.record)
    assert(sent == 6)
    assert(ids(CollectingSender.payloads) == Seq(1, 2, 3, 4, 5, 6))
    // events at 0..5 min → due at 0,120000,...,600000 ms from start 0
    assert(SleepRecorder.all == (1 to 5).map(_ * 120000L))
  }

  test("non-positive speedup is rejected at construction, not silently corrupted") {
    intercept[IllegalArgumentException](ReplayConfig(speedupFactor = 0.0))
    intercept[IllegalArgumentException](ReplayConfig(speedupFactor = -1.5))
    intercept[IllegalArgumentException](
      ReplayCli.parseArgs(Array("-speedup", "0")))
  }

  test("CLI parses the reference's option surface (R13)") {
    val (cfg, dry) = ReplayCli.parseArgs(Array(
      "-inputPath", "file:/data/x", "-speedup", "3600",
      "-timestampAttributeName", "ts", "-seek", "2024-01-15T00:00:00Z",
      "-statisticsFrequency", "5000", "-kinesisSenderThreads", "8",
      "-streamArn", "arn:aws:kinesis:us-east-1:123456789012:stream/s1",
      "-dryRun"))
    assert(cfg.inputPath == "file:/data/x" && cfg.speedupFactor == 3600 &&
      cfg.timestampAttributeName == "ts" &&
      cfg.seek.contains(java.time.Instant.parse("2024-01-15T00:00:00Z")) &&
      cfg.statisticsFrequencyMillis == 5000 && cfg.senderParallelism == 8 &&
      cfg.streamArn.endsWith("stream/s1") && dry)
    intercept[IllegalArgumentException](ReplayCli.parseArgs(Array("-streamArn", "bogus")))
    intercept[IllegalArgumentException](ReplayCli.parseArgs(Array("-wat")))
    // -kinesisProducerBuffer is accepted for parity and ignored
    val (parity, _) = ReplayCli.parseArgs(Array("-kinesisProducerBuffer", "5000"))
    assert(parity == ReplayConfig())
    assert(ReplayCli.parseArgs(Array("-readerBufferSize", "50"))._1.readerBufferSize == 50)
    intercept[IllegalArgumentException](ReplayCli.parseArgs(Array("-kinesisProducerBuffer", "x")))
  }
}
