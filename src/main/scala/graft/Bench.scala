package graft
import graft.tools.BenchSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // one id per Bench invocation, embedded in BOTH artifacts
    // (replay_bench.json and bench_out.json) so the stamp script can
    // assert they came from the same run instead of inferring freshness
    // from file mtimes (which a >30-min sweep or a fresh checkout broke)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val spark = BenchSession.open()
    // replay-path throughput (the reference's actual capability) gets the
    // same per-round regression visibility as the SQL surface: a bounded
    // 1M-event pass through scan→parse→order→schedule→sink, persisted as
    // its own artifact. FIRST, on a fresh heap: measured after the
    // 93-query sweep the same pass read 23k ev/s vs 155k standalone —
    // a 12g heap full of sweep tenure throttles the sort, and the replay
    // figure must track the replay code, not the sweep's litter. (Its
    // cold pass doubles as the JVM/codegen warm-up the sweep wants.)
    // The UTC session timezone the replay parse needs is restored after:
    // the sweep has timed under the JVM default since round 1, and a
    // leaked conf change would move tz-sensitive filters for reasons
    // unrelated to code. Best-effort: a replay hiccup must not kill the
    // query sweep
    try {
      val prevTz = spark.conf.getOption("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      try {
        val replayLine = graft.tools.ReplayBench.runOn(spark, 1000000L, runId)
        BenchSession.writeArtifact("replay_bench.json", replayLine)
        System.err.println(s"[bench] replay: $replayLine")
      } finally prevTz match {
        case Some(tz) => spark.conf.set("spark.sql.session.timeZone", tz)
        case None => spark.conf.unset("spark.sql.session.timeZone")
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] replay_bench.json not written: ${e.getMessage}") }

    BenchSession.warmTables(spark, sfDir)
    BenchSession.warmEngine(spark, sfDir)

    // noise canary: one fixed cheap plan (scan + hash agg on lineitem) timed
    // at the start, middle, and end of the sweep. On a quiet machine the
    // three times are near-identical; hypervisor steal / memory pressure
    // during the sweep shows up as a spread between them, making a swing on
    // unchanged queries classifiable from this artifact alone
    def canaryOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      try graft.Tables.t(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag")).agg(count(lit(1))).foreach(_ => ())
      catch { case scala.util.control.NonFatal(_) => () }
      (System.nanoTime() - t0) / 1e9
    }
    // settle before timing: the start-of-sweep canary has read 1.5-2x the
    // mid-sweep value on every artifact so far (tiered JIT still
    // compiling after the one-shot warm-ups), which taxes whichever
    // queries Map order puts first — iterate the canary until two
    // consecutive runs are within 20% (max 5) so the sweep starts at
    // steady state, then record the settled value as the start marker
    var settlePrev = canaryOnce()
    var settleCur = canaryOnce()
    var settleRuns = 2
    while (settleRuns < 5 && settleCur < settlePrev * 0.8) {
      settlePrev = settleCur; settleCur = canaryOnce(); settleRuns += 1
    }
    // canary samples carry their POSITION (queries completed when the
    // sample ran) and are interleaved every 16 queries — a contention
    // burst localizes to the queries it actually hit, instead of r12's
    // three-point spread that could only say "somewhere in the sweep"
    val canary =
      scala.collection.mutable.ArrayBuffer[(Int, Double)]((0, canaryOnce()))

    // COLD/WARM split per query (the ScaleSweep discipline, r12 verdict
    // #1a): the cold run evicts every shared per-app cache first, so each
    // query pays its own build — shared-cache cost can no longer migrate
    // between queries with registration order (r12's x104 "5.9× slower
    // with unchanged code" was exactly that migration); the warm run
    // rides the caches the cold run left hot. BOTH are published; the
    // min over successful runs (≈ warm) remains the steady-state headline
    // comparable round-over-round — and is now registration-order-stable,
    // because build cost never lands in a min that has a warm run.
    val qseq = SparkEntry.queries.toSeq
    val results = qseq.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 16 == 0) canary += ((i, canaryOnce()))
      // (elapsed, ok, stolen): each run carries its own hypervisor-steal
      // verdict (see BenchSession.timeOnce)
      def once(): (Double, Boolean, Boolean) = BenchSession.timeOnce(name, fn, spark, sfDir)
      // min over SUCCESSFUL runs only — a fast-failing run must not be
      // reported as a query's steady-state latency. A query that fails
      // BOTH runs goes under "errors", NOT into the timing map: a
      // sign-encoded sentinel there silently reads as a huge speedup to
      // any tool that sums or diffs the timings.
      // scrub (evict + one GC pass) runs OUTSIDE the timed region so a
      // query is billed for its own allocation, not its predecessors'
      // collection (r16 litter probe: x167 warm 86 s unscrubbed vs 1.6 s)
      BenchSession.scrub()
      val runs = Seq(once(), once()) // head = cold, last = warm
      val good = runs.filter(_._2).map(r => (r._1, r._3))
      val minV = good.map(_._1).minOption
      // the min run's steal verdict — the retime trigger
      val minStolen = good.sortBy(_._1).headOption.exists(_._2)
      (name, minV, runs, minStolen)
    }
    canary += ((qseq.size, canaryOnce()))

    def fmt(v: Double): String = (math.round(v * 10000) / 10000.0).toString

    // self-adjudicating contention pass (r15 verdict #2): the r15 driver
    // artifact carried an 11-query burst at 10-50x committed warm times
    // that only a judge with a shell could attribute (the canary spiked
    // 5.3s vs a 0.27s median exactly there, but the affected queries
    // kept their inflated mins). Adjudicate in-run instead: any query
    // timed in a sweep segment whose bracketing canary samples spiked
    // >3x the canary median gets ONE more warm run after the sweep
    // settles, and min-of-passes reporting means a box-induced spike
    // can no longer masquerade as a code regression. Bounded: only
    // suspect segments, only queries >=0.2s, at most 96 retimes (raised
    // from 48 in r16 when direct steal flags joined the trigger set;
    // "n_contended" counts BOTH canary- and steal-triggered retimes —
    // the compact line publishes it under the honest name "n_retimed").
    val canaryMed = {
      val vs = canary.map(_._2).sorted
      if (vs.isEmpty) 0.0 else vs(vs.size / 2)
    }
    val spikyPos = canary.filter(_._2 > canaryMed * 3).map(_._1).toSet
    val suspectIdx: Set[Int] =
      if (spikyPos.isEmpty) Set.empty
      else {
        val pos = canary.map(_._1).sorted
        val segs = pos.zip(pos.drop(1))
        segs.collect { case (a, b) if spikyPos(a) || spikyPos(b) =>
          (a until b) }.flatten.toSet
      }
    // retime triggers: (a) the query ran in a canary-spiky segment, or
    // (b) its min run carried direct steal (r16 — the steal counter
    // catches bursts the 16-query canary grid straddles). Retimes get
    // up to 2 attempts: a retime that is itself stolen proves nothing.
    val retimed = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val results2 = results.zipWithIndex.map {
      case ((name, Some(v), runs, minStolen), i)
          if (suspectIdx(i) || minStolen) && v >= 0.2 && retimed.size < 96 =>
        val fn = qseq(i)._2
        def retimeOnce(): (Double, Boolean, Boolean) = BenchSession.timeOnce(name, fn, spark, sfDir)
        val first = retimeOnce()
        val attempts = if (first._2 && !first._3) Seq(first)
          else Seq(first, retimeOnce())
        val goodTs = attempts.filter(_._2).map(_._1)
        if (goodTs.nonEmpty) {
          val t = goodTs.min
          retimed += name -> (v, t)
          (name, Some(math.min(v, t)), runs)
        } else (name, Some(v), runs)
      case ((name, v, runs, _), _) => (name, v, runs)
    }
    val timed = results2.collect { case (k, Some(v), _) => k -> v }
    val failed = results2.collect { case (k, None, _) => k }.sorted
    val nStealFlagged = results.count(_._4)
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // raw [cold, warm] pairs, success or not (failures also appear under
    // "errors"); the artifact the round notes attribute swings from —
    // a mover whose cold grew but warm held is cache-build cost, a mover
    // whose warm grew only near a canary spike is the box
    // per-run steal verdicts ride with the raw pairs (1 = the run was
    // box-distorted): [cold, warm, cold_stolen, warm_stolen]
    val pairs = results.map { case (k, _, runs, _) =>
      "\"" + k + "\":[" + runs.map(r => fmt(r._1)).mkString(",") + "," +
        runs.map(r => if (r._3) "1" else "0").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\":\"failed both runs\"")
      .mkString("{", ",", "}")
    val canaryJson = canary.map { case (pos, v) => s"[$pos,${fmt(v)}]" }
      .mkString("[", ",", "]")
    // "value" sums only the queries that ran — with n_failed published next
    // to it so a round with failures is never read as a speedup when
    // diffing totals across differing query sets
    val total = if (timed.nonEmpty) timed.map(_._2).sum else 0.0
    // stdout gets the COMPACT line (the driver captures a bounded stdout
    // tail — r5 lost a third of the per-query map to truncation, and the
    // raw timing pairs would nearly double the line); the FULL artifact
    // with per-attempt pairs lands in bench_out.json, which is where the
    // round notes read them from. The canary is ~16 [pos, sec] samples —
    // it rides on both so even a truncated capture carries the noise
    // profile, positioned against the queries it ran between.
    // n_registered/n_oracle ride on the artifact so the stamp script can
    // derive README's coverage counts from the SAME bytes it stamps —
    // one writer, no hand-maintained numbers to drift.
    // FIELD ORDER IS LOAD-BEARING: the driver records only a bounded
    // TAIL of stdout (BENCH_r15 lost the line's head — "metric",
    // run_id, half the query map — and parsed: null). JSON objects are
    // unordered to a parser, so the big per-query map goes FIRST and
    // every summary/attribution field (metric, value, canary, retimed)
    // goes LAST, where a truncated tail still carries it.
    val retimedJson = retimed.map { case (k, (a, b)) =>
      "\"" + k + "\":[" + fmt(a) + "," + fmt(b) + "]" }
      .mkString("{", ",", "}")
    val summary =
      s""""metric":"total","value":$total,"unit":"sec","run_id":"$runId","timing_mode":"cold_warm","n_queries":${timed.size},"n_failed":${failed.size},"n_registered":${SparkEntry.queries.size},"n_oracle":${SparkEntry.oracleSql.size},"canary":$canaryJson,"canary_median":${fmt(canaryMed)},"n_contended":${retimed.size},"n_steal_flagged":$nStealFlagged,"retimed":$retimedJson,"errors":$errs,"sf":"$sfDir""""
    println(s"""{"queries":$qs,$summary}""")
    // LAST stdout line: a compact self-contained summary (~300 bytes, no
    // per-query map). The driver keeps only a bounded TAIL of stdout
    // (~2 KB) and the full line above is ~10 KB — every BENCH_r*.json
    // through r16 has `parsed: null` because the tail starts mid-map.
    // A complete JSON object on the final line survives any tail capture
    // >= its own length; the per-query map stays on the full line and in
    // bench_out.json (unchanged — nothing removed, one line ADDED).
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","run_id":"$runId","timing_mode":"cold_warm","n_queries":${timed.size},"n_failed":${failed.size},"n_registered":${SparkEntry.queries.size},"n_oracle":${SparkEntry.oracleSql.size},"canary_median":${fmt(canaryMed)},"n_retimed":${retimed.size},"n_steal_flagged":$nStealFlagged,"queries_in":"bench_out.json","sf":"$sfDir"}""")
    // stderr carries the compact summary too (no query map): a second
    // capture channel that cannot be displaced by the map's bulk
    System.err.println(s"[bench] {$summary}")
    // pairs_schema is the shape marker for the 4-element timing arrays
    // (r16 widened [cold, warm] with per-run steal verdicts; a consumer
    // indexing the old 2-element shape can detect the change here)
    BenchSession.writeArtifact("bench_out.json",
      s"""{"queries":$qs,$summary,"pairs_schema":"cold,warm,cold_stolen,warm_stolen","timings":$pairs}""")

    // release the sweep's cached fixture relations before exit (and as a
    // footprint bound for any embedder that keeps the JVM alive)
    graft.ops.PerAppCache.evictAll()
    spark.stop()
  }
}
