package graft.layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.replay._

/** The JVM side of one benchmark run: builds the fixtures, the session and
  * the warm-up (set-up), then runs one workload for the requested seconds
  * and writes `result.json` (and `spans.jsonl` when traced) to `--out`.
  *
  * Workloads and the layers each one loads (no workload calls another's):
  *  - replay-batch: graft.replay Source, FramedLz4Codec, Parse, Schedule,
  *    the range sort inside ReplayJob, Sink and Pace;
  *  - replay-stream: StreamingReplay and its ReorderBuffer (with the same
  *    Parse and Sink, fed by the streaming file source);
  *  - query-mix: graft.ops, graft.streaming and graft.api behind
  *    SparkEntry.queries, PerAppCache and localCheckpoint. */
object Main {
  /** `mode` is "fixtures" (write this seed's inputs and exit) or "run". */
  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: Path, launchUs: Long, fixtures: Path, queryDir: String, pins: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("mode"), m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("out")), m("launch-us").toLong, Paths.get(m("fixtures")),
      m("query-dir"), Paths.get(m("pins")))
  }

  /** Everything a run reports; serialized as result.json. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, Double] // end to end
    val layer = mutable.LinkedHashMap.empty[String, Double] // per layer
    val info = mutable.LinkedHashMap.empty[String, String] // JSON values
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L
    def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
      checks += ((name, ok, if (ok) "" else detail))
      ok
    }
    def json: String = {
      def obj(m: Iterable[(String, String)]) =
        m.map { case (k, v) => s"${Trace.json(k)}:$v" }.mkString("{", ",", "}")
      def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      val cs = checks.map { case (n, ok, d) =>
        s"""{"name":${Trace.json(n)},"ok":$ok,"detail":${Trace.json(d)}}""" }
      s"""{"metrics":${obj(metrics.map { case (k, v) => k -> num(v) })},""" +
        s""""layer":${obj(layer.map { case (k, v) => k -> num(v) })},""" +
        s""""info":${obj(info)},"checks":${cs.mkString("[", ",", "]")},""" +
        s""""attempted":$attempted,"failed":$failed}"""
    }
  }

  /** Hypervisor steal time summed over all CPUs since boot, in seconds;
    * NaN where /proc/stat cannot be read. */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+") finally src.close()
      f(8).toDouble / 100.0 // USER_HZ
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak heap in use right after a collection, since the last reset. */
  object HeapPeak {
    @volatile var peakBytes = 0L
    def install(): Unit = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              if (used > peakBytes) peakBytes = used
            }
          }, null, null)
        case _ => ()
      }
    }
  }

  /** Executor CPU, GC and task counts come from the stage spans; this gives
    * the run-wide GC time as the JVM sees it. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def session(a: Args): SparkSession = {
    val local = a.out.resolve("spark")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"layerbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.resolve("local").toString)
      .config("spark.sql.warehouse.dir", local.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixtures are written by a JVM of their own (`--mode fixtures`), so
    * every measured JVM starts from the same state, whether or not its
    * seed's fixtures were already cached. */
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    Files.createDirectories(a.out)
    Trace.runId = a.out.getFileName.toString
    val rep = new Report
    val w: Workload = a.workload match {
      case "replay-batch" => new ReplayBatch(a, rep)
      case "replay-stream" => new ReplayStream(a, rep)
      case "query-mix" => new QueryMix(a, rep)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.fixtures()
    if (a.mode == "fixtures") return
    HeapPeak.install()
    val s0 = Trace.nowUs
    val spark = session(a)
    val listener = new Trace.SpanListener
    try {
      val w0 = Trace.nowUs
      w.warmUp(spark)
      rep.info("setup_parts_s") = s"""{"jvm":${(s0 - a.launchUs) / 1e6},""" +
        s""""session":${(w0 - s0) / 1e6},"warm_up":${(Trace.nowUs - w0) / 1e6}}"""
      val setupS = (Trace.nowUs - a.launchUs) / 1e6
      val gc0 = gcMillis()
      if (a.trace) spark.sparkContext.addSparkListener(listener)
      w.run(spark)
      if (a.trace) Trace.sync(spark.sparkContext, listener)
      rep.metrics("setup_s") = setupS
      rep.metrics("peak_heap_mb") = w.peakHeapMb
      rep.info("jvm_gc_s") = ((gcMillis() - gc0) / 1000.0).toString
      w.checkLayers()
    } finally {
      if (a.trace) Trace.write(a.out.resolve("spans.jsonl"))
      Files.write(a.out.resolve("result.json"), rep.json.getBytes(UTF_8))
      spark.stop()
    }
  }
}

object Workload {
  /** Traced runs interleave untraced and traced units as U T T U U T T U …,
    * so a trend across the run (the JIT still warming the first units)
    * weighs on both sides of the tracing overhead alike. */
  def tracedInAbba(i: Int): Boolean = i % 4 == 1 || i % 4 == 2
}

/** One timed unit's result; `clean` when the hypervisor stole little. */
final case class Measured[T](value: T, clean: Boolean, peakBytes: Long)

/** One workload: fixtures and warm-up are set-up, `run` is the timed part. */
abstract class Workload(val a: Main.Args, val rep: Main.Report) {
  def fixtures(): Unit
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession): Unit

  /** Loaded-class guard: the classes of layers this workload must not load. */
  def foreignClasses: Seq[String]
  def checkLayers(): Unit = {
    val m = classOf[ClassLoader].getDeclaredMethod("findLoadedClass", classOf[String])
    m.setAccessible(true)
    val cl = getClass.getClassLoader
    val loaded = foreignClasses.filter(c => m.invoke(cl, c) != null)
    rep.check("no_foreign_layer_loaded", loaded.isEmpty, loaded.mkString(","))
  }

  /** Repeat `unit` until `seconds` have passed and at least `min` times,
    * with a collection before each repetition, outside the timing.
    *
    * A unit during which the hypervisor stole more than 5 % of the box's CPU
    * time (`/proc/stat`) is marked contended. While fewer than `min` units
    * are clean, repetition goes on while another unit fits in 2 × `seconds`. */
  def repeat[T](min: Int)(unit: Int => T): Seq[Measured[T]] = {
    val out = mutable.ArrayBuffer.empty[Measured[T]]
    val walls = mutable.ArrayBuffer.empty[Double]
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (out.size < min || elapsed < a.seconds ||
        (out.count(_.clean) < min && elapsed + walls.last < 2 * a.seconds)) {
      System.gc()
      Main.HeapPeak.peakBytes = 0L
      val s0 = Main.stealSeconds()
      val w0 = System.nanoTime()
      val v = unit(out.size)
      val wall = (System.nanoTime() - w0) / 1e9
      val stolen = (Main.stealSeconds() - s0) / (wall * cores)
      out += Measured(v, !(stolen > 0.05), Main.HeapPeak.peakBytes)
      walls += wall
    }
    rep.info("unit_wall_s") = walls.mkString("[", ",", "]")
    rep.info("unit_clean") = out.map(_.clean).mkString("[", ",", "]")
    reported = out.toSeq
    if (out.count(_.clean) >= min) out.filter(_.clean).toSeq else out.toSeq
  }

  /** Every timed unit, clean or not. */
  var reported: Seq[Measured[_]] = Nil
  def peakHeapMb: Double = {
    val clean = reported.filter(_.clean)
    val use = if (clean.nonEmpty) clean else reported
    Main.median(use.map(_.peakBytes / 1048576.0))
  }

  /** Fixtures are cached per seed: written once, described by a sidecar. */
  def cachedFixture(kind: String)(write: Path => Expected): (Path, Expected) = {
    val dir = a.fixtures.resolve(s"$kind-${a.seed}")
    val meta = a.fixtures.resolve(s"$kind-${a.seed}.meta")
    if (Files.exists(meta)) {
      val f = new String(Files.readAllBytes(meta), UTF_8).trim.split(",").map(_.toLong)
      (dir, Expected(f(0), f(1), f(2), f(3), f(4).toInt, f(5)))
    } else {
      if (Files.exists(dir)) deleteTree(dir)
      val e = write(dir)
      Files.write(meta, Seq(e.generated, e.malformed, e.checksum, e.firstMs, e.files, e.bytes)
        .mkString(",").getBytes(UTF_8))
      (dir, e)
    }
  }

  def deleteTree(p: Path): Unit = {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally st.close()
  }

  /** Sender-side output checks shared by both replay workloads. */
  def checkDelivery(tag: String, sent: Long, e: Expected): Boolean =
    Delivery.checks(sent, e).map { case (name, ok, detail) =>
      rep.check(s"$tag.$name", ok, detail)
    }.forall(identity)

  /** Operations of a replay unit are its `send` calls; when the unit's
    * output check fails, all of them count as failed. */
  def countSends(ok: Boolean): Unit = {
    val n = SendTally.requests.get
    rep.attempted += n
    if (!ok) rep.failed += math.max(1L, n)
  }

  /** Sink counters shared by both replay workloads. */
  def sinkLayer(): Unit = {
    val l = rep.layer
    l("sink.send_busy_s") = SendTally.busyUs.get / 1e6
    l("sink.requests") = ReplayStats.shared.requestCount.toDouble
    l("sink.records") = SendTally.records.get.toDouble
    l("sink.bytes") = SendTally.bytes.get.toDouble
    l("sink.records_per_request") =
      SendTally.records.get.toDouble / math.max(1L, SendTally.requests.get)
    l("sink.retries") = ReplayStats.shared.retryCount.toDouble
  }
}

object Replay {
  /** Far above any event rate here, far below overflow: an unpaced pass has
    * every record due at the epoch, so the pacer never sleeps, while the
    * schedule still spreads the input over many milliseconds and the range
    * partitioning has distinct keys to split on. */
  val UnpacedSpeedup = 1000.0

  def config(dir: Path, speedup: Double, startMs: Long): ReplayConfig =
    ReplayConfig(inputPath = dir.toUri.toString, speedupFactor = speedup,
      timestampAttributeName = Fixtures.TimestampAttribute,
      statisticsFrequencyMillis = 3600000L, senderParallelism = 4,
      ingestionStartMs = Some(startMs))

  /** Silence the product's stats log and zero its counters. */
  def resetStats(): Unit = {
    ReplayStats.configureShared(3600000L, _ => ())
    SendTally.reset()
  }

  val foreignToReplay = Seq("graft.ops.PerAppCache$", "graft.SparkEntry$",
    "graft.api.TrainingData$", "graft.streaming.StreamingOps$", "graft.ops.Relational$")
}

final class ReplayBatch(a0: Main.Args, r0: Main.Report) extends Workload(a0, r0) {
  // sizes: see layerbench/README.md (short passes, many of them: on a
  // 4-core box their median is steadier than that of a few long ones; the
  // paced pass asks for about half the unpaced capacity over its own input,
  // which was 59 000-70 000 events/s on a 4-core box; every traced run
  // measures and reports that capacity as `unpaced_capacity_per_s`)
  val Events = 60000
  val Files_ = 8
  val MeanGapMs = 50.0
  val PacedEvents = 120000
  val PacedRatePerS = 30000.0
  val PacedLeadMs = 3000L
  val LateLimitMs = 100L

  var main, paced: (Path, Expected) = _

  def fixtures(): Unit = {
    main = cachedFixture("batch")(Fixtures.writeBatch(_, a.seed, Events, Files_, MeanGapMs))
    if (a.trace)
      paced = cachedFixture("batch-paced")(Fixtures.writeBatch(_, a.seed + 2, PacedEvents, 4, MeanGapMs))
  }

  def foreignClasses: Seq[String] = Replay.foreignToReplay :+ "graft.replay.StreamingReplay$"

  /** One unpaced ReplayJob.run; returns (wall s, first send s). */
  def pass(spark: SparkSession, traced: Boolean): (Double, Double) = {
    Replay.resetStats()
    val cfg = Replay.config(main._1, Replay.UnpacedSpeedup, 0L)
    val t0 = Trace.nowUs
    val was = Trace.enabled
    Trace.enabled = traced
    val sent = try Trace.span(spark.sparkContext, "replay.run")(
      ReplayJob.run(spark, cfg, new CheckingSender(), sleeper = SendTally.sleeper))
    finally Trace.enabled = was
    val t1 = Trace.nowUs
    countSends(checkDelivery("replay", sent, main._2))
    ((t1 - t0) / 1e6, (SendTally.firstSendUs.get - t0) / 1e6)
  }

  def warmUp(spark: SparkSession): Unit = {
    Replay.resetStats()
    // the first pass loads the classes; the JIT keeps compiling for several
    // more, and the timed passes' median absorbs the tail
    val walls = (1 to 5).map(_ => pass(spark, traced = false)._1)
    rep.info("warm_up_wall_s") = walls.mkString("[", ",", "]")
    rep.checks.clear(); rep.attempted = 0; rep.failed = 0
  }

  def run(spark: SparkSession): Unit = {
    val e = main._2
    if (a.trace) layerProbes(spark)
    // traced runs interleave untraced and traced passes: the difference of
    // their medians is the tracing overhead
    val passes = repeat(8) { i =>
      val traced = a.trace && Workload.tracedInAbba(i)
      (traced, pass(spark, traced))
    }.map(_.value)
    val plain = passes.filterNot(_._1).map(_._2)
    rep.metrics("throughput_per_s") = Main.median(plain.map(p => e.good / p._1))
    rep.metrics("latency_s") = Main.median(plain.map(_._2))
    rep.info("passes") = passes.size.toString
    if (a.trace) {
      val traced = passes.filter(_._1).map(_._2._1)
      val over = Main.median(traced) - Main.median(plain.map(_._1))
      rep.layer("trace.overhead_s") = over
      rep.layer("trace.overhead_frac") = over / Main.median(plain.map(_._1))
      sinkLayer()
      pacedPass(spark)
    }
  }

  /** Calls into Source, Parse and Schedule one at a time (traced runs). */
  def layerProbes(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val cfg = Replay.config(main._1, Replay.UnpacedSpeedup, 0L)
    Trace.enabled = true
    val probes = (1 to 3).map { _ =>
      System.gc()
      def timed[T](name: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val v = Trace.span(sc, name)(f)
        (v, (System.nanoTime() - t0) / 1e9)
      }
      val (rowsIn, scan) = timed("source.scan")(Source.jsonLines(spark, cfg).count())
      val (rowsOut, parsed) = timed("parse.count")(
        Parse.parsed(Source.jsonLines(spark, cfg), cfg.timestampAttributeName).count())
      val events = Parse.parsed(Source.jsonLines(spark, cfg), cfg.timestampAttributeName)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      events.count()
      val (_, anchor) = timed("schedule.anchor")(
        Schedule.withIngestionTime(events, cfg.speedupFactor, 0L)
          .agg(max(col("ingestion_ms"))).collect())
      events.unpersist(true)
      (rowsIn, rowsOut, scan, parsed, anchor)
    }
    Trace.enabled = false
    val l = rep.layer
    l("source.files") = Source.listFiles(spark, cfg.inputPath, cfg.objectSuffixToSkip).size
    l("source.bytes_in") = main._2.bytes.toDouble
    l("source.scan_s") = Main.median(probes.map(_._3))
    l("parse.rows_in") = probes.head._1.toDouble
    l("parse.rows_dropped") = (probes.head._1 - probes.head._2).toDouble
    l("parse.self_s") = Main.median(probes.map(p => p._4 - p._3))
    l("schedule.anchor_s") = Main.median(probes.map(_._5))
    rep.check("probe.parse_drops_malformed",
      probes.forall(p => p._1 == main._2.generated && p._1 - p._2 == main._2.malformed),
      s"rows ${probes.head._1}/${probes.head._2}")
  }

  /** Open loop: the schedule asks for PacedRatePerS events/s whether or not
    * the sender keeps up; lateness is measured at the sender. An unpaced
    * pass over the same input first measures the capacity that the demand
    * is set against. */
  def pacedPass(spark: SparkSession): Unit = {
    val (dir, e) = paced
    Replay.resetStats()
    System.gc()
    val c0 = System.nanoTime()
    val unpacedSent = ReplayJob.run(spark, Replay.config(dir, Replay.UnpacedSpeedup, 0L),
      new CheckingSender(), sleeper = SendTally.sleeper)
    val capacity = e.good / ((System.nanoTime() - c0) / 1e9)
    countSends(checkDelivery("paced_capacity", unpacedSent, e))
    Replay.resetStats()
    val speedup = PacedRatePerS * MeanGapMs / 1000.0
    val startMs = System.currentTimeMillis() + PacedLeadMs
    val cfg = Replay.config(dir, speedup, startMs)
    System.gc()
    Trace.enabled = true
    val t0 = Trace.nowUs
    val sent = Trace.span(spark.sparkContext, "replay.paced")(
      ReplayJob.run(spark, cfg, new CheckingSender(Some(PaceSpec(e.firstMs, startMs, speedup))),
        sleeper = SendTally.sleeper))
    val wall = (Trace.nowUs - t0) / 1e6
    Trace.enabled = false
    countSends(checkDelivery("paced", sent, e))
    val l = rep.layer
    l("pace.sleep_s") = SendTally.sleepUs.get / 1e6
    l("pace.sleeps") = SendTally.sleeps.get.toDouble
    l("pace.lag_p99_ms") = SendTally.lag.quantileMs(0.99)
    l("pace.late_frac") = SendTally.lag.fracOver(LateLimitMs * 1000)
    rep.info("paced") = s"""{"demand_per_s":$PacedRatePerS,"lead_ms":$PacedLeadMs,""" +
      s""""late_limit_ms":$LateLimitMs,"events":${e.good},"wall_s":$wall,""" +
      s""""unpaced_capacity_per_s":$capacity}"""
  }
}

final class ReplayStream(a0: Main.Args, r0: Main.Report) extends Workload(a0, r0) {
  val Events = 100000
  val Files_ = 50
  val MeanGapMs = 30.0
  val DisorderMs = 120000L // bounded event-time disorder, below the tolerance
  val ToleranceMs = 600000L // StreamingReplay.run's default
  var main: (Path, Expected) = _

  def fixtures(): Unit =
    main = cachedFixture("stream")(Fixtures.writeStream(_, a.seed, Events, Files_, MeanGapMs, DisorderMs))

  def foreignClasses: Seq[String] = Replay.foreignToReplay :+ "graft.replay.ReplayJob$"

  /** Samples the reorder buffer's gauges while a run is in flight. */
  final class GaugeSampler extends Thread("reorder-gauges") {
    @volatile var halt = false
    @volatile var peakHeld, forced = 0L
    setDaemon(true)
    override def run(): Unit = while (!halt) {
      peakHeld = math.max(peakHeld, ReplayStats.shared.queueGauge().toLong)
      forced = math.max(forced, ReplayStats.shared.forcedGauge())
      Thread.sleep(1)
    }
  }

  var runSpan = ""
  val triggers = new Trace.TriggerListener(() => runSpan)

  def once(spark: SparkSession, traced: Boolean): (Double, Double, Long, Long) = {
    Replay.resetStats()
    val cfg = Replay.config(main._1, Replay.UnpacedSpeedup, 0L)
    val g = new GaugeSampler
    g.start()
    val done = triggers.terminated.get
    val t0 = Trace.nowUs
    Trace.enabled = traced
    val sent = try Trace.span(spark.sparkContext, "stream.run") {
      runSpan = Trace.current
      StreamingReplay.run(spark, cfg, new CheckingSender(), sleeper = SendTally.sleeper,
        disorderToleranceMs = ToleranceMs)
    } finally Trace.enabled = false
    val t1 = Trace.nowUs
    g.halt = true
    g.join()
    val deadline = System.nanoTime() + 10000000000L
    while (triggers.terminated.get == done && System.nanoTime() < deadline) Thread.sleep(2)
    countSends(checkDelivery("stream", sent, main._2) &
      rep.check("stream.reorder_forced_zero", g.forced == 0, s"${g.forced} force-released"))
    ((t1 - t0) / 1e6, (SendTally.firstSendUs.get - t0) / 1e6, g.peakHeld, g.forced)
  }

  def warmUp(spark: SparkSession): Unit = {
    spark.streams.addListener(triggers)
    rep.info("warm_up_wall_s") = once(spark, traced = false)._1.toString
    rep.checks.clear(); rep.attempted = 0; rep.failed = 0
  }

  def run(spark: SparkSession): Unit = {
    val e = main._2
    // a traced run needs 4 runs for one untraced-traced-traced-untraced cycle
    val runs = repeat(if (a.trace) 4 else 3) { i =>
      val traced = a.trace && Workload.tracedInAbba(i)
      (traced, once(spark, traced))
    }.map(_.value)
    val plain = runs.filterNot(_._1).map(_._2)
    rep.metrics("throughput_per_s") = Main.median(plain.map(r => e.good / r._1))
    rep.metrics("latency_s") = Main.median(plain.map(_._2))
    rep.info("runs") = runs.size.toString
    if (a.trace) {
      val traced = runs.filter(_._1).map(_._2._1)
      val over = Main.median(traced) - Main.median(plain.map(_._1))
      rep.layer("trace.overhead_s") = over
      rep.layer("trace.overhead_frac") = over / Main.median(plain.map(_._1))
      rep.layer("reorder.peak_held") = runs.map(_._2._3).max.toDouble
      rep.layer("reorder.forced") = runs.map(_._2._4).max.toDouble
      sinkLayer()
    }
  }
}

/** Pinned queries from SparkEntry.queries on the committed sf0.001 tables. */
object QuerySets {
  /** No path reaches PerAppCache, persist or localCheckpoint (checked at run
    * time: no RDD is persisted after the query). */
  val scan: Seq[String] = Seq("q01_pricing_summary", "q08b_percentiles",
    "q12_window_rank", "r05_stats_window")
  /** One per open materialization mechanism: persistSpread (x33b), a
    * single-use streaming gate memo (x42), checkpoint-heavy TrainingData
    * (x152), the r17 deferred list (x91). */
  val pipeline: Seq[String] = Seq("x33b_contamination_bloom", "x42_stream_join",
    "x152_dup_graph_stats", "x91_skipgram_pmi")

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.ops.Relational.defs, "Functions" -> graft.ops.Functions.defs,
    "Windows" -> graft.ops.Windows.defs, "ReplayQueries" -> graft.ops.ReplayQueries.defs,
    "DedupOps" -> graft.ops.DedupOps.defs,
    "TextOps" -> graft.ops.TextOps.defs, "StreamingOps" -> graft.streaming.StreamingOps.defs)
  def moduleOf(q: String): String = modules.find(_._2.contains(q)).map(_._1).getOrElse("?")
}

final class QueryMix(a0: Main.Args, r0: Main.Report) extends Workload(a0, r0) {
  val all: Seq[String] = QuerySets.scan ++ QuerySets.pipeline
  // the seed orders the queries; caches are cleared before each one, so the
  // order changes no result
  lazy val order: Seq[String] = new scala.util.Random(a.seed).shuffle(all)
  lazy val pins: Map[String, (Long, Long)] =
    new String(Files.readAllBytes(a.pins), UTF_8).linesIterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\\s+"); f(0) -> (f(1).toLong, f(2).toLong) }.toMap

  def fixtures(): Unit = ()
  def foreignClasses: Seq[String] = Seq("graft.replay.ReplayJob$", "graft.replay.StreamingReplay$",
    "graft.replay.Sink$", "graft.replay.Source$", "graft.replay.Parse$", "graft.replay.Schedule$")

  def scrub(): Unit = { graft.ops.PerAppCache.evictAll(); System.gc() }

  /** Row count and order-independent hash; doubles at 9 significant digits. */
  def digest(rows: Array[org.apache.spark.sql.Row]): (Long, Long) = {
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case r: org.apache.spark.sql.Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case a: Array[Byte] => a.mkString("b[", ",", "]")
      case x => x.toString
    }
    (rows.length.toLong, rows.iterator.map(r => Fixtures.payloadHash(norm(r).getBytes(UTF_8))).sum)
  }

  final case class Timing(q: String, traced: Boolean, cold: Double, warm: Double,
      coldPersisted: Int, storageBytes: Long)

  def runQuery(spark: SparkSession, q: String, phase: String): (Double, (Long, Long)) = {
    val t0 = System.nanoTime()
    val rows = Trace.span(spark.sparkContext, s"query.$phase",
      s"""{"query":${Trace.json(q)},"module":${Trace.json(QuerySets.moduleOf(q))}}""")(
      graft.SparkEntry.queries(q)(spark, a.queryDir).collect())
    ((System.nanoTime() - t0) / 1e9, digest(rows))
  }

  /** Clear the caches, then run `q` cold and warm, checking both results. */
  def measure(spark: SparkSession, q: String, traced: Boolean): Timing = {
    scrub()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Trace.enabled = traced
    val (cold, dc, persisted, storage, warm, dw) = try {
      val (cold, dc) = runQuery(spark, q, "cold")
      val persisted = (sc.getPersistentRDDs.keySet -- before).size
      val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      // warm time is the better of two warm runs: the box's speed drifts,
      // and a slower run is never the query's own doing
      val warms = Seq.fill(2)(runQuery(spark, q, "warm"))
      (cold, dc, persisted, storage, warms.map(_._1).min, warms.map(_._2))
    } finally Trace.enabled = false
    // every query's digest is reported, so pins can be copied from any run
    digests(q) = s"[${dc._1},${dc._2}]"
    // operations are query runs: the cold run and the two warm runs
    val pin = pins.get(q)
    val coldOk = rep.check(s"$q.cold_matches_pin", pin.contains(dc), s"got $dc want $pin") &
      (!QuerySets.scan.contains(q) ||
        rep.check(s"$q.scan_set_persists_nothing", persisted == 0, s"$persisted persisted RDDs"))
    val warmBad = dw.count(d => !pin.contains(d))
    rep.check(s"$q.warm_matches_pin", warmBad == 0, s"got $dw want $pin")
    rep.attempted += 1 + dw.size
    rep.failed += (if (coldOk) 0 else 1) + warmBad
    Timing(q, traced, cold, warm, persisted, storage)
  }

  /** Every query once; a traced run measures each query untraced and traced,
    * alternating which comes first, so JIT warming does not bias the
    * tracing overhead. */
  def sweep(spark: SparkSession): Seq[Timing] = order.zipWithIndex.flatMap { case (q, i) =>
    val modes = if (!a.trace) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
    modes.map(leastContended(spark, q, _))
  }

  /** A measurement during which the hypervisor stole more than 5 % of the
    * box's CPU time is taken once more, once the stealing has stopped, and
    * the less contended one kept: a sweep is one unit, too long to repeat
    * whole. */
  def leastContended(spark: SparkSession, q: String, traced: Boolean): Timing = {
    val first = withSteal(measure(spark, q, traced))
    if (!(first._2 > 0.05)) first._1
    else {
      retried += 1
      awaitQuiet()
      val second = withSteal(measure(spark, q, traced))
      if (second._2 < first._2) second._1 else first._1
    }
  }
  var retried = 0
  val cores = Runtime.getRuntime.availableProcessors

  /** `body`'s result and the share of the box's CPU time stolen meanwhile. */
  def withSteal[T](body: => T): (T, Double) = {
    val s0 = Main.stealSeconds()
    val w0 = System.nanoTime()
    val t = body
    (t, (Main.stealSeconds() - s0) / ((System.nanoTime() - w0) / 1e9 * cores))
  }

  /** Wait in half-second steps while the hypervisor steals more than 5 % of
    * the box's CPU time, for at most MaxQuietWaitS over the whole run, so
    * that a steal episode shorter than that leaves the re-measurement clean
    * while a run-long one costs the run at most that much time. */
  def awaitQuiet(): Unit = {
    var quiet = false
    while (!quiet && quietWaitS < MaxQuietWaitS) {
      quiet = !(withSteal(Thread.sleep(500))._2 > 0.05)
      quietWaitS += 0.5
    }
  }
  val MaxQuietWaitS = 20.0
  var quietWaitS = 0.0
  val digests = mutable.LinkedHashMap.empty[String, String]

  def timings(ts: Seq[Timing]): String =
    ts.map(t => s"${Trace.json(t.q)}:[${t.cold},${t.warm}]").mkString("{", ",", "}")

  /** One run of every query: class loading, JIT and code generation. */
  def warmUp(spark: SparkSession): Unit =
    rep.info("warm_up_s") = order.map { q =>
      scrub()
      s"${Trace.json(q)}:${runQuery(spark, q, "warm-up")._1}"
    }.mkString("{", ",", "}")

  def run(spark: SparkSession): Unit = {
    val sweeps = repeat(1)(_ => sweep(spark)).map(_.value)
    val plain = sweeps.flatten.filterNot(_.traced)
    def per(ts: Seq[Timing], qs: Seq[String], f: Timing => Double) =
      qs.map(q => Main.median(ts.filter(_.q == q).map(f))).sum
    rep.metrics("latency_s") = per(plain, all, _.cold)
    rep.metrics("throughput_per_s") = all.size / per(plain, all, _.warm)
    rep.info("sweeps") = sweeps.size.toString
    rep.info("contended_queries_remeasured") = retried.toString
    rep.info("quiet_wait_s") = quietWaitS.toString
    rep.info("sweep_s") = timings(sweeps.last.filterNot(_.traced))
    rep.info("query_digest") =
      digests.toSeq.sortBy(_._1).map { case (q, d) => s"${Trace.json(q)}:$d" }.mkString("{", ",", "}")
    if (a.trace) {
      val l = rep.layer
      def both(name: String, qs: Seq[String]): Unit = {
        l(s"$name.cold_s") = per(plain, qs, _.cold)
        l(s"$name.warm_s") = per(plain, qs, _.warm)
      }
      both("query.scan", QuerySets.scan)
      both("query.pipeline", QuerySets.pipeline)
      for ((m, _) <- QuerySets.modules) both(s"query.$m", all.filter(QuerySets.moduleOf(_) == m))
      for (q <- QuerySets.pipeline) both(s"query.$q", Seq(q))
      val every = sweeps.flatten
      l("cache.persisted_peak") = every.map(_.coldPersisted).max.toDouble
      l("cache.storage_bytes_peak") = every.map(_.storageBytes).max.toDouble
      val untraced = per(plain, all, t => t.cold + t.warm)
      val over = per(every.filter(_.traced), all, t => t.cold + t.warm) - untraced
      l("trace.overhead_s") = over
      l("trace.overhead_frac") = over / untraced
    }
  }
}
