package graft

import graft.replay.{RecordSender, Schedule, Sink}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import java.nio.charset.StandardCharsets.UTF_8

/** Property tests (SURVEY.md §5.2): replay-schedule affine invariants,
  * sink retry/batching laws, and set-op/dedup algebra vs a Seq model. */
class PropertySpec extends SparkSpec {

  private def check(p: Prop, n: Int = 100): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  test("backoff series is monotone, starts at 200ms, caps at 2000ms") {
    check(forAll(Gen.choose(1, 500)) { a =>
      val b = Sink.backoffMs(a)
      b >= 200L && b <= 2000L && b <= Sink.backoffMs(math.min(a + 1, 500))
    })
  }

  test("affine schedule: monotone, and deltas are event-deltas/speedup (half-up)") {
    val gen = for {
      first <- Gen.choose(0L, 1L << 40)
      d1 <- Gen.choose(0L, 1L << 30)
      d2 <- Gen.choose(0L, 1L << 30)
      start <- Gen.choose(0L, 1L << 40)
      speedup <- Gen.choose(1L, 100000L)
    } yield (first, d1, d2, start, speedup)
    check(forAll(gen) { case (first, d1, d2, start, speedup) =>
      val (lo, hi) = if (d1 <= d2) (d1, d2) else (d2, d1)
      val i1 = Schedule.ingestionMs(first + lo, first, start, speedup)
      val i2 = Schedule.ingestionMs(first + hi, first, start, speedup)
      val exact = (hi - lo).toDouble / speedup
      i1 <= i2 &&
        Schedule.ingestionMs(first, first, start, speedup) == start &&
        math.abs((i2 - i1) - exact) <= 1.0
    })
  }

  test("fractional speedup (incl. (0,1)) matches the reference's Math.round(delta/speedup)") {
    val fractional = Gen.oneOf(
      Gen.choose(1, 999).map(_ / 1000.0), // slow-down factors in (0,1)
      Gen.choose(1L, 100000L).map(_ + 0.5),
      Gen.choose(1L, 100000L).map(_ + 0.25))
    val gen = for {
      first <- Gen.choose(0L, 1L << 40)
      delta <- Gen.choose(0L, 1L << 30)
      start <- Gen.choose(0L, 1L << 40)
      speedup <- fractional
    } yield (first, delta, start, speedup)
    check(forAll(gen) { case (first, delta, start, speedup) =>
      Schedule.ingestionMs(first + delta, first, start, speedup) ==
        start + Math.round(delta / speedup)
    })
  }

  test("integral speedup agrees with Math.round(delta/speedup) within 1ms, exactly off half-points") {
    val gen = for {
      delta <- Gen.choose(0L, 1L << 40)
      speedup <- Gen.choose(1L, 100000L)
    } yield (delta, speedup)
    check(forAll(gen) { case (delta, speedup) =>
      val exact = Schedule.ingestionMs(delta, 0, 0, speedup.toDouble)
      val viaDouble = Math.round(delta / speedup.toDouble)
      // the exact-integer path only deviates from the double path where the
      // quotient is unrepresentable near a half — never by more than 1ms,
      // and never at all when 2*delta is not on a half-point
      math.abs(exact - viaDouble) <= 1 &&
        ((2 * delta) % (2 * speedup) == speedup || exact == viaDouble)
    })
  }

  test("pathological event-time deltas fall back to the double path instead of overflowing") {
    val gen = for {
      delta <- Gen.choose(Long.MaxValue / 4 + 1, Long.MaxValue / 2)
      speedup <- Gen.choose(1L, 100000L)
    } yield (delta, speedup)
    check(forAll(gen) { case (delta, speedup) =>
      // would previously wrap at 2*delta; now exact-enough double division
      Schedule.ingestionMs(delta, 0, 0, speedup.toDouble) ==
        Math.round(delta / speedup.toDouble)
    })
  }

  test("DataFrame schedule equals the per-record schedule row by row") {
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    val speedups = Gen.oneOf(Gen.oneOf(1.0, 6480.0, 0.5, 2.5, 1000.3),
      Gen.choose(1L, 100000L).map(_.toDouble))
    // a Spark timestamp holds |ms| ≤ Long.MaxValue / 1000, so no pair of
    // rows is more than 2 · that apart — far inside the exact-integer
    // bound (Long.MaxValue / 4) past which both forms take the double
    // path; the widest deltas a timestamp carries are covered instead
    val widestDeltaMs = 2 * (Long.MaxValue / 1000)
    assert(widestDeltaMs < Long.MaxValue / 4)
    val gen = for {
      speedup <- speedups
      first <- Gen.choose(-(1L << 40), 1L << 40)
      // a half-way delta sits exactly between two scheduled milliseconds
      // (Δ/s = k + ½, reachable for even integral speedups)
      deltas <- Gen.listOfN(24, Gen.oneOf(
        Gen.choose(0L, 1L << 30),
        Gen.choose(0L, 1L << 20).map(k => (k * speedup + speedup / 2).toLong),
        Gen.choose(1L << 49, 1L << 51)))
      start <- Gen.choose(0L, 1L << 40)
    } yield (speedup, first, deltas, start)
    check(forAll(gen) { case (speedup, first, deltas, start) =>
      val ms = first +: deltas.map(first + _)
      val df = ms.toDF("ms").select(col("ms"), timestamp_millis(col("ms")).as("timestamp"))
      val got = Schedule.withIngestionTime(df, speedup, start)
        .select("ms", "ingestion_ms").as[(Long, Long)].collect().toSeq
      got.size == ms.size && got.forall { case (m, due) =>
        due == Schedule.ingestionMs(m, first, start, speedup)
      }
    }, n = 30)
  }

  test("sendAll delivers every record exactly once under arbitrary partial failures") {
    val gen = for {
      n <- Gen.choose(0, 1300)
      failPattern <- Gen.listOfN(40, Gen.choose(0, 3)) // failures per call round
    } yield (n, failPattern)
    check(forAll(gen) { case (n, failPattern) =>
      val received = scala.collection.mutable.ArrayBuffer[String]()
      val batchSizes = scala.collection.mutable.ArrayBuffer[Int]()
      var call = 0
      val sender = new RecordSender {
        def send(records: Seq[Array[Byte]]): Seq[Int] = {
          batchSizes += records.size
          val nFail = math.min(
            if (call < failPattern.size) failPattern(call) else 0, records.size)
          call += 1
          val fail = (0 until nFail)
          records.indices.filterNot(fail.contains)
            .foreach(i => received += new String(records(i), UTF_8))
          fail
        }
      }
      val (sent, _) = Sink.sendAll(
        (0 until n).iterator.map(i => i.toString.getBytes(UTF_8)), sender, _ => ())
      sent == n &&
        received.sorted.toSeq == (0 until n).map(_.toString).sorted &&
        batchSizes.forall(_ <= Sink.MaxEntriesPerRequest)
    }, n = 30)
  }

  test("sendAll under flaky RANDOM failed-index sets: at-least-once + eventual drain") {
    // the prefix-failure test above fixes WHICH indices fail; the real
    // PutRecords contract fails an arbitrary subset per request, and a
    // failed-but-actually-persisted record (the at-least-once ghost) is
    // normal. Drive seeded random subsets + ghost deliveries through the
    // backoff loop and assert the reference's guarantees: every record
    // delivered at least once, duplicates only among reported-failed
    // records, every sleep a legal backoff, and the drain terminates.
    val gen = for {
      n <- Gen.choose(0, 1300)
      seed <- Gen.choose(0L, Long.MaxValue)
      pFail <- Gen.choose(0, 80) // per-record failure odds, percent
      pGhost <- Gen.choose(0, 100) // of failures: delivered anyway, percent
      flakyCalls <- Gen.choose(0, 60) // sender heals after this many calls
    } yield (n, seed, pFail, pGhost, flakyCalls)
    check(forAll(gen) { case (n, seed, pFail, pGhost, flakyCalls) =>
      val rnd = new scala.util.Random(seed)
      val received = scala.collection.mutable.ArrayBuffer[String]()
      val ghosts = scala.collection.mutable.ArrayBuffer[String]()
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      var call = 0
      val sender = new RecordSender {
        def send(records: Seq[Array[Byte]]): Seq[Int] = {
          call += 1
          records.indices.filter { i =>
            val s = new String(records(i), UTF_8)
            val fails = call <= flakyCalls && rnd.nextInt(100) < pFail
            if (!fails) received += s
            else if (rnd.nextInt(100) < pGhost) { received += s; ghosts += s }
            fails
          }
        }
      }
      val (sent, retries) = Sink.sendAll(
        (0 until n).iterator.map(i => i.toString.getBytes(UTF_8)),
        sender, sleeps += _)
      val counts = received.groupBy(identity).map { case (k, v) => (k, v.size) }
      val ghostCounts = ghosts.groupBy(identity).map { case (k, v) => (k, v.size) }
      sent == n &&
        (0 until n).forall(i => counts.getOrElse(i.toString, 0) >= 1) &&
        counts.forall { case (k, c) => c <= 1 + ghostCounts.getOrElse(k, 0) } &&
        sleeps.forall(s => s >= 200L && s <= Sink.MaxBackoffMillis) &&
        retries == sleeps.size
    }, n = 40)
  }

  test("reorder buffer: no loss, per-release order, capacity bound (random streams)") {
    import graft.replay.StreamingReplay.ReorderBuffer
    val gen = for {
      ms <- Gen.listOfN(120, Gen.choose(0L, 5000L))
      tol <- Gen.choose(0L, 6000L)
      cap <- Gen.choose(1, 40)
    } yield (ms, tol, cap)
    check(forAll(gen) { case (ms, tol, cap) =>
      val buf = new ReorderBuffer(tol, cap)
      val released = scala.collection.mutable.ArrayBuffer[Vector[(Long, Array[Byte])]]()
      var capHeld = true
      ms.zipWithIndex.foreach { case (m, i) =>
        buf.add(m, s"p$i".getBytes(UTF_8))
        if (buf.size > cap) {
          released += buf.release()
          capHeld &&= buf.size <= cap // shedding must actually shed
        }
      }
      released += buf.release()
      released += buf.drain()
      val all = released.flatten
      // 1. nothing lost, nothing duplicated
      all.map(e => new String(e._2, UTF_8)).sorted == ms.indices.map(i => s"p$i").sorted &&
        // 2. each release batch is internally event-time ordered
        released.forall(b => b.map(_._1) == b.map(_._1).sorted) &&
        // 3. the hard cap held after every over-capacity release
        capHeld && buf.size == 0
    }, n = 50)
  }

  test("replay event time and payload equal try_to_timestamp(get_json_object) on generated lines, in UTC and America/New_York") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.replay.EventTime
    import spark.implicits._
    // lines are built as strings of chars 0x00-0xFF, one char per byte
    // (ISO-8859-1), so invalid UTF-8 and raw multi-byte sequences fit
    def bytes(line: String): Array[Byte] = line.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val bs = "\\"
    val times: Gen[String] = Gen.oneOf(
      Gen.oneOf("2024-01-01T00:00:00Z", "2024-01-01T00:00:00", "2024-03-10T02:30:00",
        "2024-11-03T01:30:00", "2024-01-01T00:00:00+05:30", "2024-01-01T00:00:00.1234567Z",
        "2024-01-01T00:00:00.123456-08:00", "2024-01-01T00:00:00.0000005Z", "2024-01-01",
        "2024-01-01 12:34:56", " 2024-01-01T00:00:00Z ", "2024-13-01T00:00:00Z", "", "x",
        "1582-10-10T00:00:00Z", "0001-01-01T00:00:00Z", "+10000-01-01T00:00:00Z",
        "2024-01-01T00:00:00 UTC", "2024-01-01T00:00:00.999999999Z", "2024-01-01T24:00:00Z",
        s"2024-01-01T00:00:00${bs}u005A", s"2024-01-01T00:00:00Z${bs}n", "2024",
        "2024-01-01T00:00:00Ã©"),
      for {
        y <- Gen.choose(1900, 2100); mo <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
        h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); sec <- Gen.choose(0, 59)
        sep <- Gen.oneOf("T", " ")
        frac <- Gen.oneOf("", ".5", ".123", ".123456", ".1234567", ".000001")
        zone <- Gen.oneOf("", "Z", "+01:00", "-05:00", "+0530", " America/New_York")
      } yield f"$y%04d-$mo%02d-$d%02d$sep$h%02d:$mi%02d:$sec%02d$frac$zone")
    def quoted(t: String): Gen[String] = Gen.oneOf("\"", "'").map(q => q + t + q)
    def value(name: String, depth: Int): Gen[String] = Gen.frequency(
      8 -> times.flatMap(quoted),
      2 -> Gen.oneOf("123", "-1.5e3", "0", "true", "false", "null", "1704067200"),
      1 -> times.map(t => s"""["$t"]"""),
      1 -> (if (depth > 0) obj(name, depth - 1) else Gen.const("{}")))
    def key(name: String): Gen[String] = Gen.frequency(
      6 -> Gen.const(name),
      3 -> Gen.oneOf("id", "x", name + "2", name.toUpperCase, name.take(1)),
      1 -> Gen.const(f"$bs%su${name.head.toInt}%04x${name.tail}"))
    def field(name: String, depth: Int): Gen[String] = for {
      k <- key(name); kq <- quoted(k); ws <- Gen.oneOf("", " ", "\t"); v <- value(name, depth)
    } yield s"$kq$ws:$ws$v"
    def obj(name: String, depth: Int): Gen[String] = for {
      n <- Gen.choose(0, 4); fs <- Gen.listOfN(n, field(name, depth))
    } yield fs.mkString("{", ",", "}")
    val special = Seq("\u0000", "\u0001", "\t", "\u001F", "\u007F", "ÿ", "Ã", "\u0080",
      "ð\u009F\u0098\u0080", "Ã©", "{", "}", "[", "]", ":", ",", "\"", "'", bs, " ")
    def mutate(line: String): Gen[String] = Gen.frequency(
      10 -> Gen.const(line),
      1 -> Gen.choose(0, line.length).map(line.take), // malformed tail
      1 -> Gen.oneOf("x", "}", ",{", " ", "\u0000").map(line + _), // trailing garbage
      1 -> Gen.oneOf("", " ", "   ", "\t"), // empty or whitespace-only
      1 -> Gen.const("ï»¿" + line), // byte-order mark
      3 -> (for { i <- Gen.choose(0, line.length); b <- Gen.oneOf(special) }
        yield line.patch(i, b, 0)),
      2 -> (for { i <- Gen.choose(0, line.length); b <- Gen.oneOf(special) }
        yield line.patch(i, b, 1)))
    def lines(name: String): Gen[String] = obj(name, 2).flatMap(mutate).flatMap(mutate)
    // lines the byte parser reads differently from get_json_object's
    // Reader parser, or whose first match is not a time string
    val fixed = Seq(
      "{'x':'a\u0001b','ts':'2024-01-01T00:00:00Z'}", // byte parser rejects, Reader accepts
      """{"ts":null,"ts":"2024-01-01T00:00:00Z"}""",
      """{"ts":"2024-01-01T00:00:00Z","ts":"2025-01-01T00:00:00Z"}""",
      """{"a":{"ts":"2024-01-01T00:00:00Z"},"b":["ts"]}""",
      s"""{"t${bs}u0073":"2024-01-01T00:00:00Z"}""",
      """{"ts":"2024-01-01T00:00:00Z"} trailing""",
      """{"ts":"2024-01-01T00:00:00Z","x":}""",
      """{"ts":1704067200}""", """{"ts":{"t":1}}""", """{"ts":true}""", "", " ",
      "ï»¿{\"ts\":\"2024-01-01T00:00:00Z\"}",
      "{\"ts\":\"2024-01-01T00:00:00Z\",\"s\":\"ð\u009F\u0098\u0080ÿ\u0000\"}")

    /** Lines whose reader result differs from Spark's. */
    def differences(name: String, ls: Seq[String]): Seq[String] = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(ls.map(l => Row(bytes(l))), 2),
        StructType(Seq(StructField("bin", BinaryType))))
        .select(col("bin").cast("string").as("value"))
      val ts = try_to_timestamp(get_json_object(col("value"), s"$$['$name']"))
      val want = df.select(unix_micros(ts), unix_millis(ts)).collect()
        .map(r => if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1))))
      val reader = EventTime(df, name).reader()
      ls.zip(want).flatMap { case (l, w) =>
        val v = UTF8String.fromBytes(bytes(l))
        val us = Option(reader.timestamp(v)).map(_.asInstanceOf[Long])
        val rec = Option(reader.record(v, Long.MinValue))
        val payload = (new String(bytes(l), UTF_8) + "\n").getBytes(UTF_8)
        if (us == w.map(_._1) && rec.map(_._1) == w.map(_._2) &&
            rec.forall(_._2.sameElements(payload))) None
        else Some(s"${l.map(c => f"${c.toInt}%02x").mkString(" ")}: want $w, got $us $rec")
      }
    }

    val gen = for {
      name <- Gen.oneOf("ts", "a.b")
      ls <- Gen.listOfN(200, lines(name))
    } yield (name, ls)
    val zone = "spark.sql.session.timeZone"
    try {
      for (tz <- Seq("UTC", "America/New_York")) {
        spark.conf.set(zone, tz)
        assert(differences("ts", fixed).isEmpty, tz)
        val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100)
          .withInitialSeed(if (tz == "UTC") 17L else 23L),
          forAll(gen) { case (name, ls) =>
            val d = differences(name, ls)
            Prop(d.isEmpty) :| s"$tz, $name: ${d.take(3).mkString("; ")}"
          })
        assert(r.passed, r.status.toString)
      }
      // the pinned single-quote line has a time only the Reader parser finds
      val reader = EventTime(Seq("").toDF("value"), "ts").reader()
      assert(reader.timestamp(UTF8String.fromBytes(bytes(fixed.head))) == 1704067200000000L)
    } finally spark.conf.set(zone, "UTC")
  }

  test("connected components matches a union-find model on random graphs") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 14) // node universe 0..n
      edges <- Gen.listOfN(20, Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
    } yield edges.filter(e => e._1 != e._2)
    check(forAll(gen) { edges =>
      edges.isEmpty || {
        // model: naive union-find over the same edges
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // model labels: min id per component
        val expected = nodes.map { v =>
          val root = find(v)
          v -> nodes.filter(find(_) == root).min
        }.toMap
        val got = graft.ops.DedupOps.connectedComponents(edges.toDF("d1", "d2"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }, n = 8)
  }

  test("Sha32MinHashSigs matches a plain-Scala reference on random texts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.MinHashParams
    // independent model: distinct 3-token shingles -> sha256 first 4
    // bytes -> 16 affine hashes -> min, written against the SPEC (the
    // composed column pipeline), not the expression's code
    def model(text: String): Seq[Long] = {
      val toks = text.toLowerCase.split(' ').filter(_.nonEmpty).toSeq
      val shingles = toks.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSeq.distinct
      if (shingles.isEmpty) Seq.empty
      else (0 until 16).map { i =>
        shingles.map { sh =>
          val dg = java.security.MessageDigest.getInstance("SHA-256")
            .digest(sh.getBytes(UTF_8))
          val shh = dg.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
          (MinHashParams.aCoef(i) * (shh & 0x7fffffffL) +
            MinHashParams.bCoef(i)) % MinHashParams.P
        }.min
      }
    }
    // texts over a small vocab (forces shared/duplicate shingles) plus
    // arbitrary unicode tokens (exercises UTF-8 digest + lowering)
    val word = Gen.oneOf(Gen.oneOf("a", "b", "Cc", "Ðð", "x1"),
      Gen.alphaNumStr.map(_.take(4)))
    val gen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    check(forAll(gen) { text =>
      val got = Seq(text).toDF("t")
        .select(graft.functions.TextFunctions.sha32_minhash_sigs(col("t"), 3, 16))
        .as[Seq[Long]].head()
      got == model(text)
    }, n = 40)
  }

  test("set-op algebra matches the Seq model (union/intersect/except distinct)") {
    import spark.implicits._
    val gen = for {
      a <- Gen.listOfN(30, Gen.choose(0, 15))
      b <- Gen.listOfN(30, Gen.choose(0, 15))
    } yield (a, b)
    check(forAll(gen) { case (a, b) =>
      val da = a.toDF("v")
      val db = b.toDF("v")
      val u = da.union(db).distinct().as[Int].collect().sorted.toSeq
      val i = da.intersect(db).as[Int].collect().sorted.toSeq
      val e = da.except(db).as[Int].collect().sorted.toSeq
      u == (a ++ b).distinct.sorted &&
        i == a.toSet.intersect(b.toSet).toSeq.sorted &&
        e == a.toSet.diff(b.toSet).toSeq.sorted
    }, n = 10)
  }

  test("upsert matches a Map model: changes win, inserts append, rest kept") {
    import spark.implicits._
    val gen = for {
      base <- Gen.listOfN(20, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0, 99)))
      chg <- Gen.listOfN(8, Gen.zip(Gen.choose(5L, 20L), Gen.choose(100, 199)))
    } yield (base.distinctBy(_._1), chg.distinctBy(_._1))
    check(forAll(gen) { case (base, chg) =>
      val out = graft.ops.Relational
        .upsert(base.toDF("k", "v"), chg.toDF("k", "v"), "k")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
      val baseM = base.toMap
      val model = (baseM ++ chg).map { case (k, v) =>
        k -> (v, if (!chg.toMap.contains(k)) "kept"
                 else if (baseM.contains(k)) "updated" else "inserted")
      }
      out == model
    }, n = 10)
  }

  test("upsert edge semantics: NULL-value updates write, NULL-key changes insert") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, Option("F")), (2L, Option("O"))).toDF("k", "status")
    // a change explicitly clearing status to NULL, and a change whose
    // merge key itself is NULL (unmatched by any equi-join)
    val chg = Seq((Option(1L), Option.empty[String]),
      (Option.empty[Long], Option("N"))).toDF("k", "status")
    val out = graft.ops.Relational.upsert(base.select(col("k").cast("long").as("k"),
        col("status")), chg.select(col("k").cast("long").as("k"), col("status")), "k")
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        Option(r.getString(1)), r.getString(2))).toSet
    assert(out == Set(
      (Some(1L), None, "updated"),       // NULL write NOT reverted to 'F'
      (Some(2L), Some("O"), "kept"),
      (None, Some("N"), "inserted")))    // NULL-key change is an insert
  }

  test("exactDedup excludes NULL content instead of clustering it") {
    import spark.implicits._
    val docs = Seq((1L, Option("same")), (2L, Option("same")),
      (3L, Option.empty[String]), (4L, Option.empty[String])).toDF("id", "body")
    val out = graft.api.TrainingData.exactDedup(docs, "id", "body").collect()
    assert(out.length == 1 && out.head.getLong(1) == 1L && out.head.getLong(2) == 2L)
  }

  test("exact correlation degrades to NULL on zero-variance groups, like corr()") {
    // a constant-quantity slice must not throw under ANSI division
    val d = "/root/testdata/sf0.001"
    val row = graft.ops.Functions.q08cCorrExact(spark, d)
      .collect() // fixture has variance: all non-null
    assert(row.nonEmpty && row.forall(!_.isNullAt(1)))
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // synthetic constant group via the same closed form
    val c = Seq((1L, 5L), (1L, 5L)).toDF("g", "x")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("x")).as("sy"),
        sum(col("x") * col("x")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("x")).as("syy"))
      .select(when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("n") * col("syy") - col("sy") * col("sy") > 0,
        lit(1.0)).as("corr"))
      .collect()
    assert(c.head.isNullAt(0)) // guard fires: NULL, no DIVIDE_BY_ZERO
  }

  test("dedup is idempotent and keeps one row per key") {
    import spark.implicits._
    check(forAll(Gen.listOfN(50, Gen.choose(0, 10))) { xs =>
      val df = xs.toDF("k")
      val once = df.dropDuplicates("k")
      once.count() == xs.distinct.size &&
        once.dropDuplicates("k").count() == once.count()
    }, n = 10)
  }

  test("hash-split bucket matches a JVM sha256 model for random ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // independent model: MessageDigest over the id's decimal string, first
    // 4 lowercase-hex chars as a 16-bit int, mod 100 — must equal the
    // engine's column-algebra bucket exactly (the determinism claim)
    def model(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(id.toString.getBytes(UTF_8))
        .take(2).map(b => f"${b & 0xff}%02x").mkString
      Integer.parseInt(hex, 16) % 100
    }
    check(forAll(Gen.listOfN(40, Gen.choose(Long.MinValue + 1, Long.MaxValue))) { ids0 =>
      val ids = ids0.distinct
      val got = graft.api.TrainingData
        .deterministicSplit(ids.toDF("id"), "id", Seq(("all", 100)))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.forall(i => got(i) == model(i))
    }, n = 10)
  }

  test("pack/unpack int8 round-trips within scale/2 for random vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.{pack_int8, unpack_int8}
    val vecGen = Gen.nonEmptyListOf(Gen.choose(-1000, 1000).map(_ / 100.0f))
    check(forAll(vecGen) { vec =>
      val absmax = vec.map(v => math.abs(v.toDouble)).max
      absmax == 0.0 || {
        val scale = absmax / 127.0
        val row = Seq((vec, scale)).toDF("emb", "scale")
          .select(unpack_int8(pack_int8(col("emb"), col("scale")), col("scale")).as("back"))
          .collect()(0).getSeq[Float](0)
        row.length == vec.length &&
          vec.zip(row).forall { case (x, y) =>
            // scale/2 is EXACTLY attained at round-half-up ties (x =
            // absmax/2 → x/scale = 63.5), and the reconstruction is a
            // float32 — allow its representation error (ulp ≈ 6e-8·|y|)
            // on top, or ties flake on FP noise
            math.abs(x.toDouble - y.toDouble) <=
              scale / 2 + math.abs(y) * 2e-7 + 1e-9 }
      }
    }, n = 20)
  }

  test("spanCorrupt and fimTransform are lossless on random docs incl. empty/tiny") {
    import spark.implicits._
    // 0..12 tokens: the tiny-doc range where empty segments, zero spans,
    // and cuts at the extremes occur — the class the fixture (10..99
    // token docs) never exercises
    val word = Gen.oneOf("aa", "bb", "cc")
    val docGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val spanRe = "<extra_id_(\\d+)>".r
    check(forAll(Gen.listOfN(5, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val toksOf = docs.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
      val scOk = graft.api.TrainingData.spanCorrupt(df, "id", "body")
        .collect().forall { r =>
          val (id, input, target) = (r.getLong(0), r.getString(3), r.getString(4))
          val parts = spanRe.split(target).map(_.trim)
          val keys = spanRe.findAllMatchIn(target).map(_.group(1).toInt).toSeq
          val spans = keys.zip(parts.tail).toMap
          val rebuilt = input.split(" ").filter(_.nonEmpty).toSeq.flatMap {
            case spanRe(k) => spans(k.toInt).split(" ").toSeq
            case tok => Seq(tok)
          }
          rebuilt == toksOf(id) && r.getInt(2) == keys.length
        }
      val fimOk = graft.api.TrainingData.fimTransform(df, "id", "body")
        .collect().forall { r =>
          val (id, fim) = (r.getLong(0), r.getString(4))
          val (c1, c2) = (r.getInt(2), r.getInt(3))
          val ss = fim.indexOf("<fim_suffix>")
          val ms = fim.indexOf("<fim_middle>")
          def seg(s: String) = s.trim.split(" ").filter(_.nonEmpty).toSeq
          val prefix = seg(fim.substring("<fim_prefix>".length, ss))
          val suffix = seg(fim.substring(ss + "<fim_suffix>".length, ms))
          val middle = seg(fim.substring(ms + "<fim_middle>".length))
          fim.startsWith("<fim_prefix>") && ss > 0 && ms > ss &&
            prefix ++ middle ++ suffix == toksOf(id) &&
            prefix.length == c1 && middle.length == c2 - c1
        }
      scOk && fimOk
    }, n = 10)
  }

  test("dedupLines keeps exactly first occurrences in order (random line docs)") {
    import spark.implicits._
    val line = Gen.oneOf("aa bb", "cc dd", "ee", "")
    val docGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, line).map(_.mkString("\n")))
    check(forAll(Gen.listOfN(5, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val got = graft.api.TrainingData.dedupLines(df, "id", "body")
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getString(3))).toMap
      docs.zipWithIndex.forall { case (t, i) =>
        val lines = t.split("\n", -1).toSeq
        val expect = lines.distinct
        got(i.toLong) == ((lines.length, expect.length, expect.mkString("\n")))
      }
    }, n = 20)
  }

  test("contamination containment matches a Set-model on random token docs") {
    import spark.implicits._
    // docs from a tiny vocabulary so shingle overlap actually occurs
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val gen = for {
      corpus <- Gen.listOfN(4, docGen)
      probe <- docGen
    } yield (corpus, probe)
    def shingleSet(s: String): Set[String] =
      s.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    check(forAll(gen) { case (corpus, probe) =>
      val cdf = corpus.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("id", "body")
      val pdf = Seq((1L, probe)).toDF("id", "body")
      val got = graft.api.TrainingData
        .contaminationPairs(cdf, pdf, "id", "body", 0.0)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      val ps = shingleSet(probe)
      corpus.zipWithIndex.forall { case (t, i) =>
        val inter = (shingleSet(t) & ps).size
        if (inter == 0) !got.contains(100L + i)
        else got.get(100L + i).contains(inter.toLong)
      }
    }, n = 10)
  }

  test("turn masks match an ordered-fold Seq model on random conversations") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 12)
      convs <- Gen.listOfN(n, Gen.choose(0L, 2L))
      ts <- Gen.listOfN(n, Gen.choose(0L, 5L)) // tight range forces ties
      roles <- Gen.listOfN(n, Gen.oneOf("user", "assistant"))
      words <- Gen.listOfN(n, Gen.choose(0, 4))
    } yield convs.indices.map(i =>
      (convs(i), ts(i), i.toLong, roles(i), Seq.fill(words(i))("w").mkString(" ")))
    check(forAll(gen) { rows =>
      val df = rows.toDF("conv", "t", "id", "role", "text")
      val got = graft.api.TrainingData.turnLossMasks(
          df, "conv", Seq("t", "id"), "role", "text", Seq("assistant"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getBoolean(6)))).toMap
      rows.groupBy(_._1).forall { case (conv, turns) =>
        val ordered = turns.sortBy(t => (t._2, t._3))
        var off = 0L
        ordered.zipWithIndex.forall { case ((_, _, _, role, text), i) =>
          val n = text.split(" ").count(_.nonEmpty).toLong
          val exp = (role, n, off, off + n, role == "assistant")
          off += n
          got.get((conv, i + 1)).contains(exp)
        }
      }
    }, n = 15)
  }

  test("token entropy matches a Seq model on random token docs") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    check(forAll(Gen.listOfN(4, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val got = graft.api.TrainingData.tokenEntropy(df, "id", "body")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      docs.zipWithIndex.forall { case (t, i) =>
        val toks = t.split(" ").filter(_.nonEmpty).toSeq
        if (toks.isEmpty) !got.contains(i.toLong)
        else {
          val n = toks.length
          val s = toks.groupBy(identity).values.map(_.size).map { c =>
            c.toLong * math.round(math.log(n.toDouble / c) * 1e6)
          }.sum
          val exp = BigDecimal(s.toDouble / (n * 1e6))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          got.get(i.toLong).contains((n.toLong, exp))
        }
      }
    }, n = 10)
  }

  test("repetition stats match a Seq model on random token docs") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b", "c")
    val docGen = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    def grams(toks: Seq[String], n: Int): Seq[String] =
      if (toks.length < n) Seq.empty else toks.sliding(n).map(_.mkString(" ")).toSeq
    check(forAll(Gen.listOfN(4, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val got = graft.api.TrainingData.repetitionStats(df, "id", "body")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      docs.zipWithIndex.forall { case (t, i) =>
        val toks = t.split(" ").filter(_.nonEmpty).toSeq
        val g2 = grams(toks, 2)
        val g3 = grams(toks, 3)
        def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val expTop = if (g2.isEmpty) None
          else Some(r6(g2.groupBy(identity).values.map(_.size).max.toDouble / g2.size))
        val expDup = if (g3.isEmpty) None
          else Some(r6(g3.groupBy(identity).values.map(_.size).filter(_ >= 2).sum.toDouble / g3.size))
        got(i.toLong) == ((g2.size.toLong, expTop, expDup))
      }
    }, n = 10)
  }

  test("dedup survivors: one per cluster, member of it, score-maximal (random clusters)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 12)
      labels <- Gen.listOfN(n, Gen.choose(0L, 3L)) // cluster label per doc
      scores <- Gen.listOfN(n, Gen.choose(0, 50))
    } yield (labels, scores)
    check(forAll(gen) { case (labels, scores) =>
      val ids = labels.indices.map(_.toLong + 100L)
      val docs = ids.zip(scores.map(_.toDouble)).toDF("id", "sc")
      // label relation maps each doc to min-id of its label group (as CC would)
      val byLabel = ids.zip(labels).groupBy(_._2).values.map(_.map(_._1)).toSeq
      val labDf = byLabel.flatMap(g => g.map(_ -> g.min)).toDF("id", "label")
      val out = graft.api.TrainingData.dedupSurvivors(docs, "id", "sc", labDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val model = byLabel.map { g =>
        val sc = ids.zip(scores).toMap
        val best = g.map(id => (-sc(id), id)).min._2
        (g.min, best, g.size.toLong)
      }.toSet
      out.toSet == model && out.length == byLabel.size
    }, n = 10)
  }

  test("chunkDocuments matches a sliding-window Seq model on random docs") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val gen = for {
      docs <- Gen.listOfN(3, docGen)
      chunk <- Gen.choose(1, 5)
      stride <- Gen.choose(1, 5)
    } yield (docs, chunk, math.min(stride, chunk))
    check(forAll(gen) { case (docs, chunk, stride) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val got = graft.api.TrainingData.chunkDocuments(df, "id", "body", chunk, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2)).toSeq
      val model = docs.zipWithIndex.flatMap { case (t, i) =>
        val toks = t.split(" ").filter(_.nonEmpty).toSeq
        val starts = toks.indices.filter(_ % stride == 0)
        starts.map { s =>
          val w = toks.slice(s, s + chunk)
          (i.toLong, (s / stride).toLong, w.mkString(" "), w.size.toLong)
        }
      }.sortBy(r => (r._1, r._2))
      got == model
    }, n = 20)
  }

  test("spanDedup invariant: kept spans across the corpus = distinct spans") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b") // tiny alphabet forces span collisions
    val docGen = Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    check(forAll(Gen.listOfN(4, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "body")
      val out = graft.api.TrainingData.spanDedup(df, "id", "body", 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val spansOf = docs.map(_.split(" ").filter(_.nonEmpty).toSeq.grouped(2)
        .map(_.mkString(" ")).toSeq)
      val distinctSpans = spansOf.flatten.distinct.size.toLong
      out.map(_._4).sum == distinctSpans &&
        out.map(_._3).sum == spansOf.map(_.size.toLong).sum &&
        // each doc's clean text is a subsequence of its own span list
        out.forall { case (id, clean, _, _) =>
          val kept = clean.split(" ").filter(_.nonEmpty).toSeq.grouped(2)
            .map(_.mkString(" ")).toSeq
          val orig = spansOf(id.toInt)
          kept.forall(orig.contains)
        }
    }, n = 20)
  }

  test("funnel matches an ordered-fold Seq model on random event streams") {
    import spark.implicits._
    val step = Gen.oneOf("A", "B", "C")
    val evGen = for {
      user <- Gen.choose(0L, 3L)
      ts <- Gen.choose(0L, 50L)
      tpe <- step
    } yield (user, ts, tpe)
    check(forAll(Gen.listOfN(40, evGen)) { evs =>
      // ties (same user, same ts, different type) stay in: the strict >
      // makes both model and implementation deterministic on them, and
      // the tie boundary is exactly where a >= regression would hide
      val df = evs.map { case (u, t, tp) =>
        (u, new java.sql.Timestamp(t * 1000), tp) }.toDF("u", "ts", "tp")
      val got = graft.ops.Windows.funnel(df, "u", "ts", "tp", Seq("A", "B", "C"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1),
          (2 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))).toMap
      evs.groupBy(_._1).forall { case (u, ues) =>
        def times(tp: String) = ues.filter(_._3 == tp).map(_._2 * 1000).sorted
        val t0 = times("A").headOption
        val t1 = t0.flatMap(p => times("B").find(_ > p))
        val t2 = t1.flatMap(p => times("C").find(_ > p))
        val model = (Seq(t0, t1, t2).takeWhile(_.isDefined).size,
          Seq(t0, t1, t2))
        got(u) == model
      }
    }, n = 20)
  }

  test("retention matches a cohort Seq model on random event streams") {
    import spark.implicits._
    val evGen = for {
      user <- Gen.choose(0L, 5L)
      day <- Gen.choose(0L, 6L)
      tpe <- Gen.oneOf("signup", "click")
    } yield (user, day, tpe)
    val dayMs = 86400000L
    check(forAll(Gen.listOfN(30, evGen)) { evs =>
      val df = evs.map { case (u, day, tp) =>
        (u, new java.sql.Timestamp(day * dayMs + 12345), tp) }
        .toDF("u", "ts", "tp")
      val got = graft.ops.Windows.retention(df, "u", "ts", "tp", "signup", dayMs)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val cohortOf = evs.filter(_._3 == "signup").groupBy(_._1)
        .map { case (u, es) => u -> es.map(_._2).min }
      val model = evs.flatMap { case (u, day, _) =>
        cohortOf.get(u).filter(_ <= day).map(c => (c * dayMs, day - c, u))
      }.distinct.groupBy(p => (p._1, p._2))
        .map { case (k, v) => k -> v.map(_._3).distinct.size.toLong }
      got == model
    }, n = 20)
  }

  test("packedSegments tiles every bin and reassembles every doc (random corpora)") {
    import spark.implicits._
    val gen = for {
      budget <- Gen.choose(3L, 17L)
      counts <- Gen.listOfN(8, Gen.choose(0, 25))
    } yield (budget, counts)
    check(forAll(gen) { case (budget, counts) =>
      val docs = counts.zipWithIndex.map { case (k, i) =>
        ((i + 1).toLong, Seq.fill(k)("w").mkString(" ")) }.toDF("id", "body")
      val segs = graft.api.TrainingData.packedSegments(
          graft.api.TrainingData.packSequences(docs, "id", "body", budget), budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      val total = counts.map(_.toLong).sum
      val sumOk = segs.map(_._5).sum == total
      // per-doc: tok_from ranges tile [0, n_tokens) in seg_idx order
      val docOk = segs.groupBy(_._2).forall { case (id, ss) =>
        val sorted = ss.sortBy(_._3)
        val tiles = sorted.foldLeft(Option(0L)) {
          case (Some(cur), (_, _, _, _, len, from)) if from == cur => Some(cur + len)
          case _ => None
        }
        tiles.contains(counts((id - 1).toInt).toLong)
      }
      // per-bin: sorted segments cover [0, budget) with no gap; all bins
      // but the last are exactly full
      val byBin = segs.groupBy(_._1)
      val binOk = total == 0 || {
        val last = byBin.keys.max
        byBin.forall { case (bin, ss) =>
          val sorted = ss.sortBy(_._4)
          val end = sorted.foldLeft(Option(0L)) {
            case (Some(cur), (_, _, _, st, len, _)) if st == cur => Some(cur + len)
            case _ => None
          }
          end.exists(e => if (bin == last) e <= budget else e == budget)
        }
      }
      sumOk && docOk && binOk
    }, n = 10)
  }

  test("preferencePairs equals a Seq model on random rated responses") {
    import spark.implicits._
    val rowGen = for {
      prompt <- Gen.choose(0, 3)
      id <- Gen.choose(1L, 60L)
      rating <- Gen.option(Gen.choose(0, 5))
    } yield (s"p$prompt", id, rating)
    check(forAll(Gen.listOfN(25, rowGen)) { rows0 =>
      val rows = rows0.distinctBy(r => (r._1, r._2)) // unique response ids
      val df = rows.map { case (p, i, r) =>
        (p, i, r.map(_.toDouble).map(java.lang.Double.valueOf).orNull)
      }.toDF("prompt", "rid", "score")
      val got = graft.api.TrainingData.preferencePairs(df, "prompt", "rid", "score")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      val model = rows.filter(_._3.isDefined)
        .groupBy(_._1).toSeq.flatMap { case (p, rs) =>
          val best = rs.maxBy(r => (r._3.get, -r._2))
          rs.filter(_._3.get < best._3.get).map(r =>
            (p, best._2, r._2, (best._3.get - r._3.get).toDouble))
        }.toSet
      got == model
    }, n = 12)
  }

  test("corpusDiff equals a Seq model on random dump pairs (incl. null texts)") {
    import spark.implicits._
    val rowGen = for {
      id <- Gen.choose(1L, 12L)
      txt <- Gen.option(Gen.oneOf("aa", "bb", "cc"))
    } yield (id, txt)
    val gen = for {
      o <- Gen.listOfN(8, rowGen)
      n <- Gen.listOfN(8, rowGen)
    } yield (o.distinctBy(_._1), n.distinctBy(_._1))
    check(forAll(gen) { case (o, n) =>
      val od = o.map { case (i, t) => (i, t.orNull) }.toDF("id", "body")
      val nd = n.map { case (i, t) => (i, t.orNull) }.toDF("id", "body")
      val got = graft.api.TrainingData.corpusDiff(od, nd, "id", "body")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val om = o.toMap; val nm = n.toMap
      val model = (om.keySet ++ nm.keySet).map { id =>
        id -> ((om.get(id), nm.get(id)) match {
          case (None, _) => "added"
          case (_, None) => "removed"
          case (Some(a), Some(b)) if a == b => "unchanged"
          case _ => "changed"
        })
      }.toMap
      got == model
    }, n = 12)
  }

  test("minKProbScores equals a Seq model on random corpora") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b", "c", "d", "e", "rare1", "rare2")
    val docGen = Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, word))
    check(forAll(Gen.listOfN(6, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (ws, i) =>
        ((i + 1).toLong, ws.mkString(" ")) }.toDF("id", "body")
      val got = graft.api.TrainingData.minKProbScores(docs, "id", "body", 20)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
      // plain-Scala dense model with the same micro-nat quantization
      val all = texts.flatten
      val total = all.size
      val cnt = all.groupBy(identity).view.mapValues(_.size).toMap
      def L(t: String): Long =
        math.round(math.log(total.toDouble / cnt(t)) * 1e6)
      val model = texts.zipWithIndex.map { case (ws, i) =>
        val id = (i + 1).toLong
        if (ws.isEmpty) id -> ((0L, 0L, None))
        else {
          val k = (ws.size * 20 + 99) / 100
          val s = ws.map(L).sorted(Ordering[Long].reverse).take(k).sum
          id -> ((ws.size.toLong, k.toLong,
            Some(BigDecimal(s.toDouble / k / 1e6)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
        }
      }.toMap
      got == model
    }, n = 12)
  }

  test("filterThresholdSweep: kept counts and recall are monotone in the threshold") {
    import spark.implicits._
    val rowGen = for {
      score <- Gen.choose(0, 80).map(_ / 10.0)
      label <- Gen.oneOf(true, false)
    } yield (score, label)
    check(forAll(Gen.listOfN(40, rowGen)) { rows =>
      val df = rows.toDF("score", "label")
      val out = graft.api.TrainingData
        .filterThresholdSweep(df, "score", "label", 1.0)
        .orderBy("threshold_bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // ascending threshold ⇒ non-increasing kept and pos_kept counts,
      // and the lowest bucket keeps everything
      val monotone = out.sliding(2).forall {
        case Array((_, n1, p1), (_, n2, p2)) => n2 <= n1 && p2 <= p1
        case _ => true
      }
      monotone && out.headOption.forall(_._2 == rows.size)
    }, n = 15)
  }

  test("interleaveBySource: every schedule prefix tracks the target rates (discrepancy bound)") {
    import spark.implicits._
    val gen = for {
      wa <- Gen.choose(1, 5)
      wb <- Gen.choose(1, 5)
      na <- Gen.choose(10, 25)
      nb <- Gen.choose(10, 25)
    } yield (wa, wb, na, nb)
    check(forAll(gen) { case (wa, wb, na, nb) =>
      val docs = ((1 to na).map(i => (i.toLong, "a")) ++
        (1 to nb).map(i => (100L + i, "b"))).toDF("id", "src")
      val sched = graft.api.TrainingData.interleaveBySource(docs, "id", "src",
          Seq(("a", wa), ("b", wb)))
        .orderBy("pos", "source", "doc_id").collect().map(_.getString(1))
      // rate-pacing law: in the prefix where neither source is
      // exhausted, counts track k·w/(w_a+w_b) within ±(1 source's
      // step) — the classic discrepancy bound of pos = rank/weight
      val horizon = math.min(sched.count(_ == "a") * (wa + wb) / wa,
        sched.count(_ == "b") * (wa + wb) / wb)
      (1 to math.min(horizon, sched.length)).forall { k =>
        val ca = sched.take(k).count(_ == "a")
        val ideal = k.toDouble * wa / (wa + wb)
        math.abs(ca - ideal) <= math.max(wa, wb) + 1
      }
    }, n = 20)
  }

  test("asOfJoin equals a brute Seq model on random keyed timelines") {
    import spark.implicits._
    val rowGen = for {
      k <- Gen.choose(0L, 3L)
      t <- Gen.choose(0L, 30L)
    } yield (k, t)
    val gen = for {
      ls <- Gen.listOfN(15, rowGen)
      rs <- Gen.listOfN(15, rowGen)
    } yield (ls, rs)
    check(forAll(gen) { case (ls, rs) =>
      // left rows get distinct ids so the model keys cleanly; right ids
      // deliberately COLLIDE on (k, ts) sometimes (max-id tie-break)
      val left = ls.zipWithIndex.map { case ((k, t), i) =>
        (k, t, 1000L + i) }
      val right = rs.zipWithIndex.map { case ((k, t), i) =>
        (k, t, (i % 7).toLong) }
      val got = graft.api.TrainingData.asOfJoin(
          left.toDF("k", "t", "lid"), right.toDF("k", "t", "rid"),
          "k", "t", "rid")
        .collect().map(r => r.getLong(2) ->
          ((if (r.isNullAt(3)) None else Some(r.getLong(3))),
            (if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      left.forall { case (k, t, lid) =>
        val cand = right.filter(r => r._1 == k && r._2 <= t)
        val model = if (cand.isEmpty) (None, None) else {
          val best = cand.maxBy(r => (r._2, r._3))
          (Some(best._3), Some(t - best._2))
        }
        got(lid) == model
      }
    }, n = 30)
  }

  test("asOfJoinSalted equals asOfJoin on random timelines incl. negative ts") {
    import spark.implicits._
    // tiny bucketMs (7 ms) forces many buckets per key, so cross-bucket
    // carry-ins and left-only buckets are exercised on every run;
    // negative timestamps exercise the floor-division bucketing
    val rowGen = for {
      k <- Gen.choose(0L, 2L)
      t <- Gen.choose(-30L, 30L)
    } yield (k, t)
    val gen = for {
      ls <- Gen.listOfN(15, rowGen)
      rs <- Gen.listOfN(15, rowGen)
    } yield (ls, rs)
    check(forAll(gen) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
      val right = rs.zipWithIndex.map { case ((k, t), i) =>
        (k, t, (i % 7).toLong) }
      def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
          String, String, String) => org.apache.spark.sql.DataFrame) =
        f(left.toDF("k", "t", "lid"), right.toDF("k", "t", "rid"),
          "k", "t", "rid")
          .collect().map(r => r.getLong(2) ->
            ((if (r.isNullAt(3)) None else Some(r.getLong(3))),
              (if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      run(graft.api.TrainingData.asOfJoin) ==
        run(graft.api.TrainingData.asOfJoinSalted(_, _, _, _, _, bucketMs = 7L))
    }, n = 30)
  }

  test("winsorizedStats equals a sorted-Seq model on random groups") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.choose(-50L, 50L)
    } yield (g, v)
    check(forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val got = graft.api.TrainingData
        .winsorizedStats(rows.toDF("g", "v"), "g", "v")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6)))).toMap
      rows.groupBy(_._1).forall { case (g, grp) =>
        val vs = grp.map(_._2).sorted
        val n = vs.length
        def rank(num: Long, den: Long) = // ⌈num/den⌉, 1-indexed pick
          vs(((num + den - 1) / den - 1).toInt)
        val lo = rank(n.toLong, 20L)
        val hi = rank(19L * n, 20L)
        val clipped = vs.map(v => math.max(lo, math.min(hi, v)))
        got(g) == ((n.toLong, lo, hi,
          vs.count(_ < lo).toLong, vs.count(_ > hi).toLong,
          // BigInt: 1e6·sum can exceed Long only at absurd scale, but
          // the div semantics must match Spark's truncation on negatives
          (BigInt(1000000) * clipped.sum / n).toLong))
      }
    }, n = 30)
  }

  test("conformalThreshold equals a Seq model; kept mass respects coverage") {
    import spark.implicits._
    val rowGen = for {
      g <- Gen.oneOf("a", "b")
      v <- Gen.choose(0L, 40L)
    } yield (g, v)
    check(forAll(Gen.nonEmptyListOf(rowGen), Gen.choose(500, 990)) {
      (rows, kpm) =>
        val got = graft.api.TrainingData
          .conformalThreshold(rows.toDF("g", "v"), "g", "v", kpm)
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
        rows.groupBy(_._1).forall { case (g, grp) =>
          val vs = grp.map(_._2).sorted
          val n = vs.length
          val rank = ((n + 1).toLong * kpm + 999L) / 1000L
          val model =
            if (rank > n) None else Some(vs(rank.toInt - 1))
          val cov = model.forall(th =>
            // the conformal guarantee on the calibration set itself:
            // at least rank of n scores sit at or below the threshold
            vs.count(_ <= th) >= rank)
          got(g) == ((n.toLong, rank, model)) && cov
        }
    }, n = 30)
  }

  test("logHistQuantiles: every exact quantile sits inside its bucket") {
    import spark.implicits._
    val gen = for {
      vals <- Gen.nonEmptyListOf(Gen.choose(1L, 1L << 40))
      k <- Gen.oneOf(4, 16, 64)
    } yield (vals, k)
    check(forAll(gen) { case (vals, k) =>
      val qs = Seq(0.25, 0.5, 0.99)
      val got = graft.api.TrainingData
        .logHistQuantiles(vals.map(Tuple1(_)).toDF("v"), "v", k, qs)
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4))))
        .toMap
      val sorted = vals.sorted
      qs.forall { q =>
        val rank = math.ceil(q * sorted.size).toInt
        val exact = sorted(rank - 1)
        val (lo, hi) = got(math.round(q * 1000000))
        lo <= exact && exact <= hi
      }
    }, n = 30)
  }

  test("logHistQuantiles: zero bucket conserves n; negatives raise; zeros quantile to [0,0]") {
    import spark.implicits._
    val gen = for {
      zeros <- Gen.choose(1, 20)
      pos <- Gen.listOf(Gen.choose(1L, 1L << 20))
    } yield (zeros, pos)
    check(forAll(gen) { case (zeros, pos) =>
      val vals = List.fill(zeros)(0L) ++ pos
      val got = graft.api.TrainingData
        .logHistQuantiles(vals.map(Tuple1(_)).toDF("v"), "v", 16,
          Seq(0.25, 0.5, 0.99))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
      val sorted = vals.sorted
      Seq(0.25, 0.5, 0.99).forall { q =>
        val (n, lo, hi) = got(math.round(q * 1000000))
        val exact = sorted(math.ceil(q * sorted.size).toInt - 1)
        // count conservation: n is ALL input rows, zeros included, and
        // the exact quantile (0 when the zero atom covers the rank)
        // still sits inside the reported bucket range
        n == vals.size && lo <= exact && exact <= hi
      }
    }, n = 30)
    val err = intercept[Exception] {
      graft.api.TrainingData.logHistQuantiles(
        Seq(3L, -1L).map(Tuple1(_)).toDF("v"), "v", 16, Seq(0.5)).collect()
    }
    assert(err.getMessage.contains("logHistogram: negative value"))
  }

  test("integral-cast guard: bayesAverage/winsorizedStats raise on fractional doubles") {
    import spark.implicits._
    // a continuous score in [0, 1] must NOT silently collapse to 0 under
    // CAST AS LONG — the guard names the operator and the micro recipe
    val frac = Seq(("a", 0.73), ("a", 0.20), ("b", 0.55)).toDF("g", "v")
    val e1 = intercept[Exception] {
      graft.api.TrainingData.bayesAverage(frac, "g", "v", 25L).collect()
    }
    assert(e1.getMessage.contains("bayesAverage: non-integral"))
    val e2 = intercept[Exception] {
      graft.api.TrainingData.winsorizedStats(frac, "g", "v").collect()
    }
    assert(e2.getMessage.contains("winsorizedStats: non-integral"))
    // integral-valued doubles still pass (5.0 is not truncation)
    val ok = graft.api.TrainingData.bayesAverage(
      Seq(("a", 5.0), ("b", 7.0)).map(t => (t._1, t._2)).toDF("g", "v"),
      "g", "v", 1L).collect()
    assert(ok.length == 2)
  }

  test("aucBucketed accepts column names needing backtick quoting") {
    import spark.implicits._
    val df = Seq((0.9, true), (0.1, false), (0.6, true), (0.4, false))
      .toDF("score col.odd", "label")
    val r = graft.api.TrainingData
      .aucBucketed(df, "score col.odd", "label", nBuckets = 4)
      .collect().head
    assert(r.getLong(2) == 1000000L) // perfectly separable → AUC 1.0
  }

  test("ndcgAtK equals a Seq model on random rankings") {
    import spark.implicits._
    val disc = Seq(1000000L, 630929L, 500000L, 430676L, 386852L, 356207L,
      333333L, 315464L, 301029L, 289064L)
    val rowGen = for {
      s <- Gen.choose(0L, 20L)
      g <- Gen.choose(0L, 3L)
    } yield (s, g)
    check(forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      // distinct scores per row keep the model's tie-break identical to
      // the engine's: (score desc, gain desc) with (s, g) duplicates
      // interchangeable — sums agree either way
      val got = graft.api.TrainingData.ndcgAtK(
          rows.map { case (s, g) => ("q", s, g) }.toDF("q", "s", "g"),
          "q", "s", "g", 10)
        .collect().head
      def dcg(ordered: Seq[Long]) =
        ordered.take(10).zip(disc).map { case (g, d) => g * d }.sum
      val d = dcg(rows.sortBy(r => (-r._1, -r._2)).map(_._2))
      val i = dcg(rows.map(_._2).sortBy(-_))
      val model: (Long, Long, Option[Long]) =
        (d, i, if (i == 0) None else Some(1000000L * d / i))
      (got.getLong(1), got.getLong(2),
        if (got.isNullAt(3)) None else Some(got.getLong(3))) == model
    }, n = 30)
  }

  test("kmvDistinct: exact below k and duplicate-invariant on random sets") {
    import spark.implicits._
    check(forAll(Gen.nonEmptyListOf(Gen.choose(0L, 30L))) { vals =>
      val df = vals.map(Tuple1(_)).toDF("v")
      val r = graft.api.TrainingData.kmvDistinct(df, "v", k = 64)
        .collect().head
      val exact = vals.distinct.size.toLong
      // ≤ 31 distinct values < k = 64 → the sketch must answer exactly,
      // and feeding every row twice must not move it
      val r2 = graft.api.TrainingData
        .kmvDistinct(df.union(df), "v", k = 64).collect().head
      r.getLong(3) == exact && r2.getLong(3) == exact
    }, n = 20)
  }

  test("kmvMins pre-cut is partitioning-invariant (merge law at the partition grain)") {
    import spark.implicits._
    // the per-partition k-smallest pre-cut must be invisible in the
    // result: any repartitioning yields the same k smallest distinct
    // hashes, because k-of-union == k-of-(per-partition k-mins union)
    val vals = (0L until 500L).map(v => Tuple1(v * 37 % 211)).toDF("v")
    def mins(df: org.apache.spark.sql.DataFrame) =
      graft.api.TrainingData.kmvMins(df, "v", 32)
        .collect().map(_.getLong(0)).toSeq
    val one = mins(vals.coalesce(1))
    assert(one.size == 32 && one == one.sorted)
    assert(mins(vals.repartition(13)) == one)
    assert(mins(vals.repartition(64)) == one)
  }

  test("zValue is a bijection on the masked grid") {
    import spark.implicits._
    val b = 4 // 16x16 grid
    val grid = spark.range(0, 1L << (2 * b))
      .select((org.apache.spark.sql.functions.col("id") % (1 << b)).as("x"),
        (org.apache.spark.sql.functions.col("id") / (1 << b)).as("y"))
    val distinct = grid
      .select(graft.api.TrainingData.zValue(
        org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"), b).as("z"))
      .agg(org.apache.spark.sql.functions.countDistinct("z").as("n"),
        org.apache.spark.sql.functions.max("z").as("mx"),
        org.apache.spark.sql.functions.min("z").as("mn"))
      .collect().head
    assert(distinct.getLong(0) == (1L << (2 * b))) // all distinct ⇒ bijection
    assert(distinct.getLong(2) == 0L && distinct.getLong(1) == (1L << (2 * b)) - 1)
  }

  test("permutationTestSum bucket-rank selection equals the naive smallest-n_a model") {
    // the r16 restructure claim: hash-prefix bucketing + cumulative
    // offsets + straddling-bucket ranks select EXACTLY the n_a rows
    // with the smallest (sha256(id:b), id) — the same set the r15
    // corpus-wide window selected. Model it directly: full reference
    // implementation in Scala (MessageDigest sha-256, string sort),
    // compared field-for-field against the engine's output row.
    import spark.implicits._
    def shaHex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      d.digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
    }
    val gen = for {
      n <- Gen.choose(1, 28)
      rows <- Gen.listOfN(n, for {
        ia <- Gen.oneOf(true, false)
        v <- Gen.choose(-50L, 50L)
      } yield (ia, v))
      b <- Gen.choose(1, 9)
    } yield (rows.zipWithIndex.map { case ((ia, v), i) =>
      (i.toLong, ia, v) }, b)
    check(forAll(gen) { case (rows, b) =>
      val df = rows.toDF("id", "ia", "v")
      val got = graft.api.TrainingData
        .permutationTestSum(df, "id", "ia", "v", b).collect().head
      val n = rows.size.toLong
      val nA = rows.count(_._2).toLong
      val s = rows.map(_._3).sum
      val obs = rows.filter(_._2).map(_._3).sum
      val stats = (0 until b).map { pb =>
        rows.map { case (id, _, v) =>
          (shaHex(s"$id:$pb"), id.toString, v) }
          .sortBy(t => (t._1, t._2)).take(nA.toInt).map(_._3).sum
      }
      val nExtreme = stats.count(st =>
        (n * st - nA * s).abs >= (n * obs - nA * s).abs).toLong
      got.getLong(0) == n && got.getLong(1) == nA &&
        got.getLong(2) == s && got.getLong(3) == obs &&
        got.getLong(5) == nExtreme &&
        got.getLong(6) == 1000000L * (1 + nExtreme) / (b + 1)
    }, n = 12)
  }
}
