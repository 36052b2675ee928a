package graft.layerbench

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** What a fixture holds, computed while it is written, so the sender-side
  * checks compare against the input rather than against another run. */
final case class Expected(
    generated: Long, // lines written, good and malformed
    malformed: Long, // lines whose dropoff_datetime is not a timestamp
    checksum: Long, // Σ payloadHash over the good lines' payloads
    firstMs: Long, // smallest event time among the good lines
    files: Int,
    bytes: Long) { // bytes on disk, compressed where the files are
  def good: Long = generated - malformed
}

/** Seeded, taxi-shaped JSON lines — the shape of the reference's
  * `taxi-trips.json.lz4` dataset — with a fixed share of rows whose
  * `dropoff_datetime` cannot be parsed.
  *
  * Every line starts with `{"event_ms":"<13 digits>"`, the event time in
  * epoch milliseconds at a fixed byte offset, so the sender checks order
  * without parsing JSON. The same seed always gives the same bytes: all
  * randomness comes from one SplittableRandom, and files are written in a
  * fixed order. */
object Fixtures {
  val TimestampAttribute = "dropoff_datetime"
  val EventMsOffset = 13 // length of {"event_ms":"
  val EventMsDigits = 13
  private val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  private val MalformedEvery = 50 // 2 % of lines

  /** Order-independent per-payload hash; the checksum is its sum mod 2^64. */
  private val xx64 = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash64()
  def payloadHash(b: Array[Byte], off: Int, len: Int): Long = xx64.hash(b, off, len, 0x5eedL)
  def payloadHash(b: Array[Byte]): Long = payloadHash(b, 0, b.length)

  /** Event time of a payload, read from its fixed-width prefix. */
  def eventMs(b: Array[Byte]): Long = {
    var v = 0L
    var i = EventMsOffset
    while (i < EventMsOffset + EventMsDigits) { v = v * 10 + (b(i) - '0'); i += 1 }
    v
  }

  /** Fixed-point decimal: `v / 10^scale`, written without String.format. */
  private def fixed(b: java.lang.StringBuilder, v: Long, scale: Int): Unit = {
    val p = math.pow(10, scale).toLong
    if (v < 0) b.append('-')
    val a = math.abs(v)
    b.append(a / p).append('.')
    val frac = (a % p).toString
    var pad = scale - frac.length
    while (pad > 0) { b.append('0'); pad -= 1 }
    b.append(frac)
  }

  private def padded(b: java.lang.StringBuilder, v: Long, width: Int): Unit = {
    val s = v.toString
    var pad = width - s.length
    while (pad > 0) { b.append('0'); pad -= 1 }
    b.append(s)
  }

  private def line(seq: Long, ms: Long, malformed: Boolean, r: SplittableRandom): String = {
    val b = new java.lang.StringBuilder(400)
    b.append("{\"event_ms\":\"")
    padded(b, ms, EventMsDigits)
    b.append("\",\"seq\":\"")
    padded(b, seq, 9)
    b.append("\",\"vendor_id\":").append(1 + r.nextInt(2))
    b.append(",\"pickup_datetime\":\"")
      .append(java.time.Instant.ofEpochMilli(ms - 120000L - r.nextLong(1800000L))).append('"')
    b.append(",\"dropoff_datetime\":")
    if (!malformed) b.append('"').append(java.time.Instant.ofEpochMilli(ms)).append('"')
    else b.append(if (seq % 2 == 0) "\"not-a-time\"" else "null")
    b.append(",\"passenger_count\":").append(1 + r.nextInt(6))
    b.append(",\"trip_distance\":"); fixed(b, r.nextInt(3000), 2)
    for (k <- Seq("pickup", "dropoff")) {
      b.append(",\"").append(k).append("_longitude\":"); fixed(b, -74050000L + r.nextInt(300000), 6)
      b.append(",\"").append(k).append("_latitude\":"); fixed(b, 40600000L + r.nextInt(300000), 6)
    }
    b.append(",\"payment_type\":\"").append(if (r.nextBoolean()) "CRD" else "CSH").append('"')
    val fare = 250 + r.nextInt(6000)
    val tip = r.nextInt(fare / 4 + 1)
    b.append(",\"fare_amount\":"); fixed(b, fare, 2)
    b.append(",\"tip_amount\":"); fixed(b, tip, 2)
    b.append(",\"total_amount\":"); fixed(b, fare + tip + 80, 2)
    b.append(",\"trip_id\":").append(seq).append(",\"type\":\"trip\"}")
    b.toString
  }

  /** Event times with exponential gaps of mean `meanGapMs`, in time order. */
  private def eventTimes(n: Int, meanGapMs: Double, r: SplittableRandom): Array[Long] = {
    val t = new Array[Long](n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += -math.log(1.0 - r.nextDouble()) * meanGapMs
      t(i) = BaseMs + acc.toLong
      i += 1
    }
    t
  }

  private final class Tally {
    var generated, malformed, checksum = 0L
    var firstMs = Long.MaxValue
    def add(ms: Long, text: String, bad: Boolean): Unit = {
      generated += 1
      if (bad) malformed += 1
      else {
        checksum += payloadHash((text + "\n").getBytes(UTF_8))
        if (ms < firstMs) firstMs = ms
      }
    }
    def result(files: Int, dir: Path): Expected = {
      val st = Files.list(dir)
      val bytes = try st.mapToLong(p => Files.size(p)).sum() finally st.close()
      Expected(generated, malformed, checksum, firstMs, files, bytes)
    }
  }

  private def writeLines(out: OutputStream)(lines: Iterator[String]): Unit = {
    val w = new BufferedOutputStream(out, 1 << 16)
    try lines.foreach { l => w.write(l.getBytes(UTF_8)); w.write('\n') }
    finally w.close()
  }

  private def shuffle(a: Array[Int], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** Batch input: `n` events spread over `files` framed-LZ4 files (written
    * with lz4-java) in shuffled order, so the range sort has real work. */
  def writeBatch(dir: Path, seed: Long, n: Int, files: Int, meanGapMs: Double): Expected = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed)
    val times = eventTimes(n, meanGapMs, r)
    val order = Array.tabulate(n)(identity)
    shuffle(order, r)
    val tally = new Tally
    val per = (n + files - 1) / files
    for (f <- 0 until files) {
      val os = new net.jpountz.lz4.LZ4FrameOutputStream(
        Files.newOutputStream(dir.resolve(f"part-$f%03d.json.lz4")))
      val idx = order.iterator.slice(f * per, math.min(n, (f + 1) * per))
      writeLines(os)(idx.map { i =>
        val bad = i % MalformedEvery == MalformedEvery - 1
        val l = line(i, times(i), bad, r)
        tally.add(times(i), l, bad)
        l
      })
    }
    tally.result(files, dir)
  }

  /** Streaming input: `n` events over `files` plain JSON-lines files, in
    * event-time order except that each event's file is chosen from its time
    * displaced by up to ±`disorderMs / 2`, and lines within a file are
    * shuffled. Disorder is therefore bounded by `disorderMs` plus one file's
    * time span, which the caller keeps below the reorder tolerance. */
  def writeStream(dir: Path, seed: Long, n: Int, files: Int, meanGapMs: Double,
      disorderMs: Long): Expected = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed)
    val times = eventTimes(n, meanGapMs, r)
    val span = (times(n - 1) - times(0) + 1).toDouble
    val byFile = Array.fill(files)(scala.collection.mutable.ArrayBuffer.empty[Int])
    for (i <- 0 until n) {
      val jittered = times(i) - times(0) + r.nextLong(disorderMs + 1) - disorderMs / 2
      val f = math.max(0, math.min(files - 1, (jittered / span * files).toInt))
      byFile(f) += i
    }
    val tally = new Tally
    for (f <- 0 until files) {
      val idx = byFile(f).toArray
      shuffle(idx, r)
      val file = dir.resolve(f"part-$f%04d.json")
      writeLines(Files.newOutputStream(file))(idx.iterator.map { i =>
        val bad = i % MalformedEvery == MalformedEvery - 1
        val l = line(i, times(i), bad, r)
        tally.add(times(i), l, bad)
        l
      })
      // the file source admits files oldest first; spaced modification
      // times make that order the file order rather than a tie
      Files.setLastModifiedTime(file,
        java.nio.file.attribute.FileTime.fromMillis(BaseMs + f * 1000L))
    }
    tally.result(files, dir)
  }
}
