package graft.layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The benchmark's own JVM-side tests, run by layerbench/test_layerbench.py:
  * fixture determinism and the checking sender. Prints one line per test
  * and exits non-zero if any fails. */
object SelfTest {
  private var failures = 0
  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => e.printStackTrace(); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok" else "FAIL"} $name")
  }

  private def tree(dir: Path): Seq[(String, Seq[Byte])] = {
    val st = Files.list(dir)
    try st.sorted().toArray.toSeq.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    finally st.close()
  }

  /** Good payloads of a batch fixture, as the sink would receive them. */
  private def payloads(dir: Path): Seq[Array[Byte]] =
    tree(dir).flatMap { case (_, bytes) =>
      val in = new net.jpountz.lz4.LZ4FrameInputStream(new java.io.ByteArrayInputStream(bytes.toArray))
      new String(in.readAllBytes(), UTF_8).split("\n").toSeq
    }.filter(_.contains("\"dropoff_datetime\":\"2"))
      .map(l => (l + "\n").getBytes(UTF_8))
      .sortBy(Fixtures.eventMs)

  /** Sends `ps` through a fresh CheckingSender in 7-record batches. */
  private def verdict(ps: Seq[Array[Byte]], e: Expected): Map[String, Boolean] = {
    SendTally.reset()
    val s = new CheckingSender()
    ps.grouped(7).foreach(b => s.send(b))
    Delivery.checks(ps.size.toLong, e).map(c => c._1 -> c._2).toMap
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val root = Files.createTempDirectory("layerbench-selftest")
    val a1 = Fixtures.writeBatch(root.resolve("a1"), 7, 3000, 3, 50.0)
    val a2 = Fixtures.writeBatch(root.resolve("a2"), 7, 3000, 3, 50.0)
    val b = Fixtures.writeBatch(root.resolve("b"), 8, 3000, 3, 50.0)
    val s1 = Fixtures.writeStream(root.resolve("s1"), 7, 3000, 5, 30.0, 1000L)
    val s2 = Fixtures.writeStream(root.resolve("s2"), 7, 3000, 5, 30.0, 1000L)

    test("same seed, same batch fixture bytes") {
      a1 == a2 && tree(root.resolve("a1")) == tree(root.resolve("a2"))
    }
    test("same seed, same stream fixture bytes") {
      s1 == s2 && tree(root.resolve("s1")) == tree(root.resolve("s2"))
    }
    test("another seed, other fixture bytes") {
      tree(root.resolve("a1")) != tree(root.resolve("b")) && a1.checksum != b.checksum
    }

    val good = payloads(root.resolve("a1"))
    test("fixture description matches its lines") {
      good.size == a1.good && a1.malformed > 0 &&
        good.map(Fixtures.eventMs).min == a1.firstMs
    }
    test("checking sender passes a complete, ordered delivery") {
      verdict(good, a1).values.forall(identity)
    }
    test("checking sender catches a dropped record") {
      val v = verdict(good.patch(100, Nil, 1), a1)
      !v("sent_plus_malformed_eq_generated") && !v("payload_checksum")
    }
    test("checking sender catches a duplicated record") {
      val v = verdict(good.patch(100, Seq(good(100)), 0), a1)
      !v("sent_plus_malformed_eq_generated") && !v("payload_checksum")
    }
    test("checking sender catches a duplicate that replaces a dropped record") {
      val v = verdict(good.updated(101, good(100)), a1)
      v("sent_plus_malformed_eq_generated") && !v("payload_checksum")
    }
    test("checking sender catches a reordered record") {
      val i = (1 until good.size).find(j =>
        Fixtures.eventMs(good(j)) > Fixtures.eventMs(good(j - 1))).get
      val swapped = good.updated(i, good(i - 1)).updated(i - 1, good(i))
      val v = verdict(swapped, a1)
      !v("event_time_order_per_task") && v("payload_checksum")
    }
    test("payload event time is read from the fixed-width prefix") {
      val l = "{\"event_ms\":\"1704067200123\",\"seq\":\"000000001\"}".getBytes(UTF_8)
      Fixtures.eventMs(l) == 1704067200123L
    }
    val st = Files.walk(root)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    finally st.close()
    if (failures > 0) sys.exit(1)
  }
}
