package graft.tools

import graft.replay._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Throughput benchmark for the replay pipeline itself (the reference's
  * own workload): N JSON-lines events through scan→parse→order→schedule→
  * batched sink with pacing effectively disabled (max speedup), counting
  * records at the sender. The reference's envelope is one Jackson-parse
  * thread feeding 4 senders (SURVEY.md §6); this path distributes parse
  * and sink across all cores.
  *
  * Usage: sbt "runMain graft.tools.ReplayBench [nEvents]"
  * Prints one JSON line: {"metric":"replay_throughput","value":<events/s>,...}
  */
object ReplayBench {
  def main(args: Array[String]): Unit = {
    val requested = if (args.length > 0) args(0).toLong else 2000000L
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-replay-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val line = runOn(spark, requested, runId)
    println(line)
    // same durability contract as Bench: the number survives stdout loss
    BenchSession.writeArtifact("replay_bench.json", line)
    spark.stop()
  }

  /** The benchmark body on a caller-owned session (Bench reuses its sweep
    * session so the per-round artifact costs one warm pass, not a second
    * JVM): generates the fixture, runs cold+warm, cleans up, returns the
    * one-line JSON. */
  def runOn(spark: SparkSession, requested: Long, runId: String = ""): String = {
    // two SEPARATE temp dirs: the replay Source lists the fixture dir
    // RECURSIVELY (reference parity), so the io canary's parquet output
    // must not live under it or later passes would scan it as input
    val dir = Files.createTempDirectory("replay_bench")
    val ioDir = Files.createTempDirectory("replay_io_canary")
    def rmTree(root: java.nio.file.Path): Unit = {
      // recursive, deepest-first; Files.walk is a resource: close it
      val st = Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally st.close()
    }
    try runOnFixture(spark, requested, dir, ioDir, runId)
    finally {
      // always delete the ~1M-event fixture — Bench swallows replay
      // failures by design, and a leaked temp dir per round fills /tmp
      // with no visible symptom
      rmTree(dir)
      rmTree(ioDir)
    }
  }

  private def runOnFixture(spark: SparkSession, requested: Long,
      dir: java.nio.file.Path, ioCanaryDir: java.nio.file.Path,
      runId: String = ""): String = {
    // deterministic minified JSON fixture, 16 files for parallel scan
    val files = 16
    val perFile = requested / files
    val n = perFile * files // actual generated count (requested rounded down)
    val t0gen = System.nanoTime()
    (0 until files).foreach { f =>
      val sb = new java.lang.StringBuilder(16 << 20)
      var i = 0L
      while (i < perFile) {
        val id = f * perFile + i
        val ts = 1704067200000L + id * 25 // 25 ms event spacing from 2024-01-01
        sb.append(s"""{"id":$id,"dropoff_datetime":"${java.time.Instant.ofEpochMilli(ts)}","fare":${(id % 5000) / 100.0},"vendor":"v${id % 7}"}""")
        sb.append('\n')
        i += 1
      }
      Files.writeString(dir.resolve(f"part-$f%02d.jsonl"), sb.toString)
    }
    val genSec = (System.nanoTime() - t0gen) / 1e9

    val cfg = ReplayConfig(inputPath = dir.toString,
      speedupFactor = (Long.MaxValue / 4).toDouble, // pacing never sleeps
      ingestionStartMs = Some(0L),
      senderParallelism = 32)
    def onePass(): Double = {
      val t0 = System.nanoTime()
      // every record is due at 0 at this speedup: a clock pinned at 0
      // never sleeps and reports a lag of 0
      val sent = ReplayJob.run(spark, cfg, new DiscardingSender(), nowMs = () => 0L)
      require(sent == n, s"pipeline dropped rows: sent $sent of $n")
      (System.nanoTime() - t0) / 1e9
    }
    // a pass CURVE, not cold+warm: measured 7.7 → 4.0 → 4.0 → 2.5 → 1.6 s
    // over consecutive 1M-event passes — tiered JIT keeps compiling into
    // pass 3, and pass-1 tenure throttles later passes until a collection
    // clears it, so "the second pass" understates the pipeline's steady
    // state ~2.5×. GC before each timed pass makes passes comparable.
    // HEADLINE = median of the SETTLED passes (3+): honest and stable
    // across runs where best-of-N rewards one lucky GC window; the best
    // pass (capability envelope), the settled max/min spread, and the
    // full curve are all published so early-pass regressions (codegen
    // bloat) and residual noise stay visible.
    // per-pass GC accounting: with the heap pinned (build.sbt -Xms=-Xmx,
    // explicit G1) the remaining cross-run variance should be GC
    // scheduling — publishing each pass's collection count/time makes
    // that attribution CHECKABLE instead of asserted (a slow pass with a
    // fat gc_ms delta is noise; a slow pass with none is a regression)
    def gcSnapshot(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val beans = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
      (beans.map(_.getCollectionCount).sum,
        beans.map(_.getCollectionTime).sum)
    }
    def timedPass(): (Double, Long, Long) = {
      val (c0, t0) = gcSnapshot()
      val sec = onePass()
      val (c1, t1) = gcSnapshot()
      (sec, c1 - c0, t1 - t0)
    }
    // three-sense contention detection (r13 verdict #4: the CPU-spin
    // canary sat FLAT through 30 s and 38 s passes — whatever contends
    // on the driver's box is not visible to a single-thread ALU probe):
    //  1. CPU canary — deterministic single-thread multiply-add loop
    //     (~100 ms quiet); catches CPU steal.
    //  2. I/O canary — a small Spark parquet write+read round-trip
    //     (~0.2 s quiet): exercises what the replay pass exercises
    //     (task scheduling, file I/O, codec), so I/O or scheduler
    //     bursts that a pure-ALU spin never feels move THIS probe.
    //  3. Self-deviation — a settled pass > 2.5× the preliminary
    //     settled median is excluded even when both canaries read
    //     clean (the backstop for contention that ended before the
    //     post-pass probes ran).
    // Each exclusion is published with its reason, so the artifact is
    // auditable rather than silently trimmed.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < 100000000) { acc = acc * 6364136223846793005L + i; i += 1 }
      if (acc == 42L) System.err.print("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val ioDir = ioCanaryDir.resolve("probe").toString
    def ioCanaryOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0, 200000, 1, 8)
        .select(col("id"), (col("id") % 97).as("k"))
        .write.mode("overwrite").parquet(ioDir)
      spark.read.parquet(ioDir).where(col("k") === 13).count()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).foreach { _ => canaryOnce(); ioCanaryOnce() } // JIT/codegen warm
    val canaryBase =
      Seq(canaryOnce(), canaryOnce(), canaryOnce()).sorted.apply(1)
    val ioBase =
      Seq(ioCanaryOnce(), ioCanaryOnce(), ioCanaryOnce()).sorted.apply(1)
    def passWithCanary(): ((Double, Long, Long), Double, Double) = {
      val p = timedPass(); (p, canaryOnce(), ioCanaryOnce())
    }
    val cold = passWithCanary()
    // 10 passes (was 7): the settled median now sits on 8 samples, and
    // the ±5% round-over-round reproducibility target has enough support
    // to mean something
    val curve = cold +: (1 to 9).map { _ => System.gc(); passWithCanary() }
    val detail = curve.map(_._1)
    val canaries = curve.map(_._2)
    val ioCanaries = curve.map(_._3)
    val passes = detail.map(_._1)
    // preliminary settled median over ALL passes 3+ (exclusion target)
    val prelimSorted = passes.drop(2).sorted
    val prelimMedian = prelimSorted(prelimSorted.size / 2)
    val exclusionReasons: Seq[(Int, String)] = passes.indices.drop(2).flatMap { i =>
      val rs = Seq(
        if (canaries(i) > canaryBase * 1.2) Some("cpu_canary") else None,
        if (ioCanaries(i) > ioBase * 1.5) Some("io_canary") else None,
        if (passes(i) > prelimMedian * 2.5) Some("self_deviation") else None
      ).flatten
      if (rs.nonEmpty) Some((i, rs.mkString("+"))) else None
    }
    val excluded = exclusionReasons.map(_._1).toSet
    val settledKept = passes.zipWithIndex.drop(2)
      .collect { case (p, i) if !excluded.contains(i) => p }
    // fallback: if contention ate most of the curve, keep every settled
    // pass rather than report a median of ≤ 2 samples — the exclusions
    // are still published either way
    val settled = (if (settledKept.size >= 3) settledKept
      else passes.drop(2)).sorted
    val median = settled(settled.size / 2)
    val best = passes.min
    val spread = settled.last / settled.head
    def r2(x: Double) = math.round(x * 100) / 100.0
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    val passesJson = passes.map(r2).mkString("[", ",", "]")
    val gcJson = detail.map { case (sec, gn, gms) =>
      s"""{"sec":${r2(sec)},"gc_n":$gn,"gc_ms":$gms}"""
    }.mkString("[", ",", "]")
    val exclJson = exclusionReasons
      .map { case (i, r) => s"""{"pass":$i,"reason":"$r"}""" }
      .mkString("[", ",", "]")
    val canaryJson =
      s""""canary":{"baseline_sec":${r4(canaryBase)},"per_pass":${canaries.map(r4).mkString("[", ",", "]")},"io_baseline_sec":${r4(ioBase)},"io_per_pass":${ioCanaries.map(r4).mkString("[", ",", "]")},"excluded_passes":$exclJson,"cpu_threshold":1.2,"io_threshold":1.5,"self_deviation_threshold":2.5}"""
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    // residual settled spread attribution (measured while settling the
    // round-8 5x curve): the dominant term is GC scheduling — a pass that
    // absorbs a major collection runs ~1.5-2x the median; JIT is done by
    // pass 3 (curve flattens) and the fixture is freshly written tmpfs,
    // so page cache is warm for every pass
    val note = "median over canary-clean passes 3+ (JIT settled); heap pinned Xms=Xmx G1; per-pass gc deltas + CPU canary published, contended passes excluded with annotation"

    // pacing-FIDELITY pass: the throughput passes above disable pacing
    // (speedup ~2^61 — sleeps never fire), so they say nothing about how
    // closely the paced sink tracks its schedule. One extra pass at a
    // real speedup where pacing binds: 10 000× over the fixture's 25 ms
    // spacing = one event due every 2.5 µs (~400 k ev/s demand, under
    // the measured ~600 k capability, so the pacer — not throughput — is
    // what's being measured), with the schedule anchored far enough
    // ahead that scan+parse+sort spin-up doesn't count against it (the
    // reference's initial fill() buffering has the same effect). p50/p99
    // lag-vs-schedule come from the ReplayStats histogram every paced
    // record already feeds.
    val PacingSpeedup = 10000.0
    val pacingJson = {
      val grace = 3000L
      val pacedCfg = ReplayConfig(inputPath = dir.toString,
        speedupFactor = PacingSpeedup,
        ingestionStartMs = Some(System.currentTimeMillis() + grace),
        senderParallelism = 32,
        // keep stdout clean for the Bench one-JSON-line contract: the
        // histogram fills regardless of the stats-line cadence
        statisticsFrequencyMillis = Long.MaxValue)
      ReplayStats.configureShared(Long.MaxValue, _ => ())
      System.gc()
      val t0 = System.nanoTime()
      val sentPaced = ReplayJob.run(spark, pacedCfg, new DiscardingSender())
      val pacedSec = (System.nanoTime() - t0) / 1e9
      require(sentPaced == n, s"paced pass dropped rows: sent $sentPaced of $n")
      val p50 = ReplayStats.shared.lagPercentileMs(0.50)
      val p99 = ReplayStats.shared.lagPercentileMs(0.99)
      val p999 = ReplayStats.shared.lagPercentileMs(0.999)
      // the full log2-spaced lag histogram + post-pass canary readings:
      // r13's p50=p99=p999=2000 was unreadable (saturated cap vs real
      // constant slip) — the buckets make the shape visible, and the
      // canaries tie a slipped pass to box contention when that is the
      // cause (the paced pass is a ~60 s wall-clock window, the longest
      // single exposure in the whole bench)
      val histJson = ReplayStats.shared.lagHistogramLog2
        .map { case (lo, c) => s"[$lo,$c]" }.mkString("[", ",", "]")
      val postCpu = canaryOnce()
      val postIo = ioCanaryOnce()
      s""""pacing":{"speedup":${math.round(PacingSpeedup)},"p50_lag_ms":$p50,"p99_lag_ms":$p99,"p999_lag_ms":$p999,"paced_seconds":${r2(pacedSec)},"schedule_grace_ms":$grace,"lag_hist_log2_ms":$histJson,"post_cpu_canary_sec":${r4(postCpu)},"post_io_canary_sec":${r4(postIo)},"cpu_canary_baseline_sec":${r4(canaryBase)},"io_canary_baseline_sec":${r4(ioBase)}}"""
    }

    // the shared run id lets the stamp script assert this artifact and
    // bench_out.json came from one Bench invocation (no mtime inference)
    val runIdJson = if (runId.nonEmpty) s""","run_id":"$runId"""" else ""
    s"""{"metric":"replay_throughput","value":${math.round(n / median)},"unit":"events/sec","events":$n,"median_seconds":${r2(median)},"best_seconds":${r2(best)},"best_rate":${math.round(n / best)},"settled_spread":${r2(spread)},"passes":$passesJson,"gc_per_pass":$gcJson,$canaryJson,"heap_mb":$heapMb,"gen_seconds":${r2(genSec)},$pacingJson$runIdJson,"note":"$note"}"""
  }
}
