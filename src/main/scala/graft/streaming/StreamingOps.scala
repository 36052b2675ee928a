package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operator surface (SURVEY.md §2B X21–X24): the live
  * twins of the batch queries q21/q22/q23 — watermarked tumbling/sliding
  * windows, session windows, watermark-bounded dedup, and arbitrary
  * stateful processing. The reference's reorder buffer + monitoring loop
  * (R8/R12) map onto exactly these primitives.
  *
  * Scale notes: all state here is keyed (window×type, user) — the state
  * store shards by key across executors; watermarks bound state size the
  * way the reference's 100k-event buffer bounds its heap
  * (JsonEventBufferedReader.java:39-47). */
object StreamingOps {

  /** FileStreamSource requires a directory; the fixture table is a single
    * parquet file → expose it through a symlinked temp dir. */
  private def asStreamDir(path: String): String = {
    val f = new java.io.File(path)
    if (!f.isFile) path
    else {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_src")
      java.nio.file.Files.createSymbolicLink(tmp.resolve(f.getName), f.toPath)
      tmp.toString
    }
  }

  /** A child session of `s` (`newSession()`: shared SparkContext and
    * table cache, isolated SQLConf and temp views) whose state store is
    * RocksDB, for the transformWithState gates. */
  private def rocksDbSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2
  }

  /** A fresh (emptied) per-app per-fixture sink directory for a gate's
    * executor-side parquet readout. */
  private def freshGateDir(s: SparkSession, tag: String,
      dir: String): String = {
    val sinkDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_gate_${s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9_-]", "_")}",
      tag + "_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    if (java.nio.file.Files.exists(sinkDir)) {
      import scala.jdk.CollectionConverters._
      // Files.walk holds a directory handle until closed — materialize
      // the listing, then close BEFORE deleting (a gate re-run per
      // fixture would otherwise leak one handle per invocation)
      val walk = java.nio.file.Files.walk(sinkDir)
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    sinkDir.toString
  }

  /** Executor-side readout for run-to-completion gates whose result is
    * O(input): each micro-batch appends to a parquet directory via
    * foreachBatch (a distributed write — rows never pass through the
    * driver) and the returned DataFrame is a read of those files. The
    * memory-sink + collect readout the aggregate-sized gates use would
    * materialize the whole result on the driver here — fine for a
    * window-count relation, wrong for a per-event projection. The dir
    * is fresh per gate run (the PerAppCache above each caller makes
    * that once per app per fixture). */
  private[streaming] def runToParquet(s: SparkSession, tag: String,
      dir: String)(out: DataFrame): DataFrame =
    gateToParquet(s, tag, dir, out, "append")(_.processAllAvailable())

  /** The general form behind [[runToParquet]], for gates that need
    * multi-batch drive choreography (MemoryStream addData /
    * processAllAvailable watermark control) or update-mode logs: starts
    * `out` with an executor-side foreachBatch parquet append, hands the
    * live query to `drive`, and returns a read of the appended files on
    * `readback` (the CALLER's session — `out` may be planned on a
    * RocksDB child session; parquet files are session-independent).
    * In update mode the parquet dir accumulates the same update log the
    * memory sink held — but distributed, in executor writes, instead of
    * driver-resident rows. NO registered gate returns through
    * format("memory") anymore: a memory sink materializes the whole
    * result on the driver, which is wrong the moment output is
    * input-proportional (and was the r12 verdict's remaining streaming
    * item). */
  private def gateToParquet(readback: SparkSession, tag: String,
      dir: String, out: DataFrame, mode: String)(
      drive: org.apache.spark.sql.streaming.StreamingQuery => Unit): DataFrame = {
    val target = freshGateDir(readback, tag, dir)
    val q = out.writeStream.outputMode(mode)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(target)
      }
      .start()
    try drive(q) finally q.stop()
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(target)))
      readback.read.parquet(target)
    else readback.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), out.schema)
  }

  /** Dtype-adaptive streaming events loader: FileStreamSource needs an
    * explicit schema, so take it from a batch read of the same file (which
    * already applies the nanosAsLong fallback) instead of hard-coding one —
    * a hard-coded `ts: LongType` against a TIMESTAMP(MICROS) fixture would
    * silently read µs as ns and shift every event time 1000×. Normalize
    * exactly like graft.Tables.events (nanos-long / NTZ-micros / micros). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream.schema(schema).parquet(asStreamDir(path))
    graft.Tables.normalizeTs(raw)
  }

  /** X21 — watermarked tumbling-window aggregation (15 min windows,
    * 30 min disorder tolerance). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n"))

  /** X22 — native session windows (30 min inactivity gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("n_events"))

  /** X23 — streaming dedup with bounded state: first event per
    * (user_id, event_type) inside the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-static join: enrich the live stream against a batch dimension
    * (here: per-user historical aggregates). The static side re-plans per
    * micro-batch; with a small dimension Catalyst broadcasts it. */
  def enrichAgainstStatic(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left_outer")

  /** X25 (streaming twin) — incremental exact dedup of a document stream
    * against an already-ingested corpus: a doc is dropped if its content
    * hash exists in the static `knownHashes` relation (one `content_hash`
    * column; stream-static left-anti join, re-planned per micro-batch)
    * OR was already seen in-stream within the watermark horizon (bounded
    * state). The anti-join runs FIRST: it is stateless, so hashes the
    * corpus already holds never enter the dedup state store — on a
    * re-ingestion stream that is most of the input. No broadcast hint: a
    * 100 TB corpus's hash set is not broadcastable — front it with a
    * Bloom prefilter (the contaminationPairsBloom pattern) if the static
    * side dominates. */
  def incrementalDedup(docs: DataFrame, tsCol: String, textCol: String,
      knownHashes: DataFrame): DataFrame =
    docs
      // NULL content is excluded, not clustered — the batch twin
      // (TrainingData.exactDedup) policy: sha2(NULL) = NULL passes the
      // anti-join (NULL never equi-matches) but the dedup state would
      // then treat every NULL hash as one key and drop all but the
      // first NULL-text document
      .filter(col(textCol).isNotNull)
      .withColumn("content_hash", sha2(col(textCol), 256))
      .join(knownHashes.toDF("content_hash"), Seq("content_hash"), "left_anti")
      .withWatermark(tsCol, "30 minutes")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join: each purchase joined to signups of the
    * same user within the preceding hour — watermarks on both sides bound
    * the join state (the streaming analog of the as-of/interval join X7). */
  def purchaseSignupJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "30 minutes")
    purchases.join(signups,
      col("user_id") === col("s_user_id") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("signup_id"), col("user_id"))
  }

  /** The interval/delay constants [[purchaseSignupLeftJoin]] declares —
    * shared with the x101 sentinel arithmetic (the x55 single-constant
    * discipline): the sentinel must outrun interval + delay, and a bound
    * changed in only one place would surface as a confusing row-count
    * mismatch at the gate. */
  val JoinIntervalMs = 3600000L
  val JoinDelayMs = 1800000L

  /** LEFT-OUTER variant of [[purchaseSignupJoin]]: every purchase emits —
    * matched pairs eagerly (like the inner join), and UNMATCHED purchases
    * with a NULL signup only once the watermark PROVES no admissible
    * signup can still arrive (s_ts ≤ p_ts, so a left row is closed when
    * the signup-side watermark passes p_ts). This is the state-expiry
    * null-emission path an inner join never exercises: the join state
    * must hold the purchase until the proof arrives, then emit exactly
    * one null row — a purchase near the stream's end stays pending until
    * a later event (or the x101 sentinel) advances the watermark. */
  def purchaseSignupLeftJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", s"${JoinDelayMs / 60000} minutes")
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", s"${JoinDelayMs / 60000} minutes")
    purchases.join(signups,
      col("user_id") === col("s_user_id") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr(s"INTERVAL ${JoinIntervalMs / 1000} SECONDS"),
      "left_outer")
      .select(col("purchase_id"), col("signup_id"), col("user_id"))
  }

  /** X101 — the left-outer stream-stream interval join driven to
    * completion: fixture events in batch 1, then one sentinel
    * purchase/signup pair (user −1) far past every real purchase's
    * expiry — the watermark moves, the no-data micro-batch emits every
    * pending unmatched purchase with its NULL signup. Equality with the
    * batch LEFT JOIN is direct evidence the outer-emission machinery
    * fired (x42 proves only the eager inner path; watermarks there just
    * bound state). MemoryStream feeds the gate — multi-batch watermark
    * control needs it; the production path reads a real source. The
    * readout is [[gateToParquet]]: output here is one row per purchase
    * (input-proportional), exactly the shape a driver-resident memory
    * sink must not hold. */
  def x101StreamLeftJoin(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x101Gate", s, d) {
      import s.implicits._
      val evs = graft.Tables.t(s, d, "events")
        .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        // driver-side collect is FIXTURE-BOUNDED (sf events, ≤ a few
        // hundred k rows): MemoryStream's multi-batch choreography only
        // exists as driver-side addData, so the gate's INPUT must pass
        // through the driver; outputs stay executor-side parquet. A
        // production run replaces this gate with a real source.
        .as[(Long, Long, String, Long)].collect()
      val maxTs = evs.map(_._4).max
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, java.sql.Timestamp)]
      gateToParquet(s, "x101_loj", d, purchaseSignupLeftJoin(
          mem.toDS().toDF("event_id", "user_id", "event_type", "ts")),
          "append") { q =>
        mem.addData(evs.toSeq.map { case (e, u, t, ms) =>
          (e, u, t, new java.sql.Timestamp(ms)) })
        q.processAllAvailable()
        // one sentinel per SIDE (each side filters by event_type, so each
        // needs its own watermark carrier) past interval + delay + slack
        val sTs = new java.sql.Timestamp(
          maxTs + JoinIntervalMs + 2 * JoinDelayMs + 1000L)
        mem.addData(Seq((-1L, -1L, "purchase", sTs),
          (-2L, -1L, "signup", sTs)))
        q.processAllAvailable()
      }.filter(col("user_id") >= 0)
    }.orderBy(col("purchase_id"), col("signup_id"))

  /** CHAINED stateful pipeline — watermarked redelivery dedup feeding an
    * event-time window aggregation IN THE SAME streaming query (two
    * stateful operators back to back, the multi-stateful-operator
    * support that landed with Spark 3.5+/4): the exactly-once ingestion
    * shape — an at-least-once source deduped by id, then aggregated —
    * as ONE query instead of two jobs with an intermediate sink. The
    * dedup's key state expires on the watermark (x75's property); the
    * aggregation's windows finalize on the same watermark downstream. */
  def dedupedWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n"))

  /** X105 — the chained dedup→window pipeline driven to completion:
    * batch 1 delivers every fixture event TWICE (in-batch redelivery),
    * batch 2 redelivers the whole fixture again (cross-batch redelivery
    * against persisted dedup state — the case an in-batch distinct can't
    * catch), batch 3's sentinel advances the watermark so every real
    * window finalizes through the append-mode flush. The completed
    * output must equal the batch window counts over DISTINCT events —
    * evidence both stateful operators composed correctly. Identical
    * redelivered payloads make the surviving row deterministic (the x75
    * contract). */
  def x105ChainedStateful(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x105Gate", s, d) {
      import s.implicits._
      val evs = graft.Tables.t(s, d, "events")
        .filter(col("event_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        // fixture-bounded driver collect — MemoryStream input-side only
        // (multi-batch addData is driver API); see x101's note
        .as[(Long, String, Long)].collect()
      val maxTs = evs.map(_._3).max
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, java.sql.Timestamp)]
      gateToParquet(s, "x105_chain", d, dedupedWindowCounts(
          mem.toDS().toDF("event_id", "event_type", "ts")), "append") { q =>
        val rows = evs.toSeq.map { case (e, t, ms) =>
          (e, t, new java.sql.Timestamp(ms)) }
        mem.addData(rows ++ rows) // in-batch redelivery
        q.processAllAvailable()
        mem.addData(rows)         // cross-batch redelivery vs dedup state
        q.processAllAvailable()
        // sentinel flushes every real window; its own far-future window
        // is excluded by the window_start bound below
        mem.addData(Seq((-1L, "purchase", new java.sql.Timestamp(
          maxTs + 4 * 1800000L + 1000L))))
        q.processAllAvailable()
      }.filter(col("window_start_ms") <= maxTs)
    }.orderBy(col("window_start_ms"), col("event_type"))

  /** The MERGE-target stand-in behind the x134 gate: latest-per-key
    * upsert state whose unit of idempotence is the BATCH ID — a batchId
    * already committed is skipped wholesale (even if its payload
    * differs: replay identity is the id, not the content), and within
    * an applied batch a key only moves FORWARD by (ts_ms, event_id)
    * ordering. `applyBatch` returns whether the batch was applied. */
  final class IdempotentUpsertSink {
    // user -> (ts_ms, event_id, event_type); committed batch ids
    private val state =
      scala.collection.mutable.HashMap[Long, (Long, Long, String)]()
    private val applied = scala.collection.mutable.HashSet[Long]()
    def applyBatch(rows: Seq[(Long, Long, String, Long)],
        batchId: Long): Boolean = state.synchronized {
      if (!applied.add(batchId)) return false // idempotent skip on replay
      rows.foreach { case (eid, uid, ty, ms) =>
        state.get(uid) match {
          case Some((oms, oeid, _))
              if oms > ms || (oms == ms && oeid >= eid) => ()
          case _ => state.update(uid, (ms, eid, ty))
        }
      }
      true
    }
    def snapshot: Map[Long, (Long, Long, String)] =
      state.synchronized(state.toMap)
  }

  /** X134 — the foreachBatch IDEMPOTENT-UPSERT sink pattern driven to
    * completion: a stream of entity updates lands in a keyed state
    * table through a MERGE-style sink whose unit of idempotence is the
    * BATCH ID — the contract that makes foreachBatch exactly-once
    * under Spark's at-least-once batch replay (a restarted query
    * re-delivers the last uncommitted batch; a sink that re-applies it
    * double-counts). The MERGE target is modeled DISTRIBUTEDLY, the way
    * Delta/Iceberg implement it: each micro-batch appends its rows
    * stamped with the batch id to a parquet LOG (an executor-side
    * write — rows never pass through the driver), and the table state
    * is the log's compaction — dedup on (batch_id, event_id) collapses
    * a replayed batch (replay re-delivers the SAME recomputed rows
    * under the SAME id; the driver-side [[IdempotentUpsertSink]] in the
    * spec pins the stricter id-keyed wholesale skip), then the
    * latest-per-key argmax by (ts_ms, event_id). Because the per-batch
    * merge only moves a key FORWARD in that ordering, sequential batch
    * application equals the global argmax — so the final table equals
    * the plain batch argmax per key no matter how the stream was
    * batched, which is the oracle. The gate then SIMULATES the restart
    * replay by re-appending batch 0's rows verbatim under their
    * original batch id and requires the deduped LOG CARDINALITY
    * unchanged (falsifiable: a regression in the dedup key grows it —
    * the compacted argmax state alone could never fail, since identical
    * payload rows can't move an argmax), PLUS the negative control the
    * r12 advice asked for: the same payload under a FRESH batch id is a
    * new delivery, must NOT collapse, and must grow the deduped log by
    * exactly |batch 0| — proving the no-op is the batch-id key's doing,
    * not payload-level dedup. The registered output is invariant to
    * both appends, so the oracle is untouched. */
  def x134UpsertSink(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x134Gate", s, d) {
      val logDir = freshGateDir(s, "x134_log", d)
      val src = eventsStream(s, d)
        .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
      val q = src.writeStream.outputMode("append")
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(logDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      // the MERGE-target state: exactly-once projection of the
      // at-least-once log, then latest-per-key
      def state(): DataFrame = s.read.parquet(logDir)
        .dropDuplicates("batch_id", "event_id")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts_ms"), col("event_id"), col("event_type")))
          .as("m"))
        .select(col("user_id"), col("m.ts_ms").as("last_ts_ms"),
          col("m.event_id").as("last_event_id"),
          col("m.event_type").as("last_type"))
      val before = state().persist()
      before.count() // pin the pre-replay state before the log grows
      // restart replay: batch 0's rows under their ORIGINAL id must no-op
      // (persisted first so the append never scans the dir it extends)
      val b0 = s.read.parquet(logDir).filter(col("batch_id") === 0L).persist()
      val nB0 = b0.count()
      def dedupedRows(): Long = s.read.parquet(logDir)
        .dropDuplicates("batch_id", "event_id").count()
      val n0 = dedupedRows()
      b0.write.mode("append").parquet(logDir)
      // checked on the deduped log's CARDINALITY — the check a dedup-key
      // regression actually fails (the argmax state compare below can't:
      // identical payloads never move an argmax)
      require(dedupedRows() == n0,
        "idempotent sink re-applied an already-committed batch")
      // NEGATIVE control: the same payload under a FRESH batch id is a
      // new delivery, not a replay — the idempotence key must NOT
      // collapse it, so the deduped log grows by exactly |batch 0|.
      // Proves the no-op above is the batch-id key's doing rather than
      // payload-level dedup; the latest-per-key output is invariant
      // either way, so the oracle sees no difference.
      b0.withColumn("batch_id", lit(999999999L))
        .write.mode("append").parquet(logDir)
      require(dedupedRows() == n0 + nB0,
        "a fresh-batch-id delivery must not be collapsed by the idempotence key")
      b0.unpersist()
      val after = state()
      require(after.except(before).isEmpty && before.except(after).isEmpty,
        "idempotent sink re-applied an already-committed batch")
      before.unpersist()
      after
    }.orderBy(col("user_id"))

  /** Union of two INDEPENDENTLY-watermarked streams → event-time window
    * counts. The query's global watermark is the MINIMUM over the two
    * sources, so a lagging source holds back window finalization for
    * the whole union — the multi-source coordination rule every
    * fan-in ingestion topology (N kinesis shards/regions → one table)
    * lives or dies by. StreamingSpec pins the mid-stream hold-back (a
    * window whose end has passed source A's watermark but not B's must
    * NOT emit); the x115 gate drives it to completion and the oracle is
    * the plain batch window count over both sources' rows. */
  def unionWindowCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.withWatermark("ts", "30 minutes")
      .unionByName(b.withWatermark("ts", "30 minutes"))
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n"))

  /** X115 — the two-source union driven to completion: fixture events
    * split by id parity into two memory streams, source B delivered a
    * batch behind source A (the lag the min-watermark rule exists for),
    * then a sentinel on BOTH streams (each source's watermark must
    * pass the last real window — advancing only one would hold the
    * global min back forever). Completed output = batch window counts
    * over all events. */
  def x115MultisourceUnion(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x115Gate", s, d) {
      import s.implicits._
      val evs = graft.Tables.t(s, d, "events")
        .filter(col("event_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
        // fixture-bounded driver collect — MemoryStream input-side only
        // (multi-batch addData is driver API); see x101's note
        .as[(Long, String, Long)].collect()
      val maxTs = evs.map(_._3).max
      val (aEvs, bEvs) = evs.partition(_._1 % 2 == 0)
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val memA = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, java.sql.Timestamp)]
      val memB = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, java.sql.Timestamp)]
      def rows(xs: Array[(Long, String, Long)]) = xs.toSeq.map {
        case (e, t, ms) => (e, t, new java.sql.Timestamp(ms)) }
      gateToParquet(s, "x115_union", d, unionWindowCounts(
          memA.toDS().toDF("event_id", "event_type", "ts"),
          memB.toDS().toDF("event_id", "event_type", "ts")), "append") { q =>
        memA.addData(rows(aEvs)) // A fully delivered, B absent: lag phase
        q.processAllAvailable()
        memB.addData(rows(bEvs)) // B catches up
        q.processAllAvailable()
        val sTs = new java.sql.Timestamp(maxTs + 4 * 1800000L + 1000L)
        memA.addData(Seq((-1L, "purchase", sTs)))
        memB.addData(Seq((-2L, "purchase", sTs)))
        q.processAllAvailable()
      }.filter(col("window_start_ms") <= maxTs)
    }.orderBy(col("window_start_ms"), col("event_type"))

  /** X24 — flatMapGroupsWithState: manual sessionization with 0..n
    * outputs per group per batch and EVENT-TIME TIMEOUTS — the fully
    * general custom-state shape (`session_window` above is the
    * declarative twin; this form is for when session close must run
    * custom logic). A session CLOSES (emits) when a later event arrives
    * past the 30-min gap, or when the watermark passes the session's
    * timeout — so state is bounded by open sessions only, the same bound
    * the state-store session window enforces. */
  final case class SessionOut(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long)
  final case class SessState(start: Long, end: Long, n: Long)
  /** All of a user's not-yet-expired islands — an island may only close
    * once the watermark passes `end + gap`, because an admissible late
    * event (ts ≥ watermark) can still EXTEND it or BRIDGE it to a
    * neighbor until then. Closing any earlier (e.g. "all but the newest")
    * emits split sessions that a later in-watermark bridge event proves
    * wrong. State stays bounded: islands older than watermark − gap are
    * closed, so at most (watermark delay / gap) + 1 islands per user. */
  final case class OpenSessions(islands: List[SessState])
  val SessionGapMs = 1800000L
  /** The watermark delay [[sessionsWithState]] declares — ONE constant
    * shared with the x55 sentinel arithmetic below: the sentinel must
    * outrun session timeout + this delay, and a delay changed in only
    * one place would fail the gate as a confusing row-count mismatch. */
  val WatermarkDelayMs = 1800000L
  private val WatermarkDelayStr = s"${WatermarkDelayMs / 60000} minutes"

  def sessionsWithState(spark: SparkSession, events: DataFrame): Dataset[SessionOut] = {
    import spark.implicits._

    // interval-merge a start-sorted island list: adjacent islands within
    // the gap collapse (sums n); the fixpoint of the batch/state union
    def mergeSorted(sorted: List[SessState]): List[SessState] =
      sorted.foldLeft(List.empty[SessState]) { (acc, s) =>
        acc match {
          case h :: t if s.start <= h.end + SessionGapMs =>
            SessState(h.start, math.max(h.end, s.end), h.n + s.n) :: t
          case _ => s :: acc
        }
      }.reverse

    events
      .withWatermark("ts", WatermarkDelayStr)
      // the watermarked column itself must flow into the stateful op
      // (the analyzer rejects event-time timeouts otherwise)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSessions, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[OpenSessions]) =>
          val wm = state.getCurrentWatermarkMs()
          // frozen = no admissible event can reach the island any more.
          // STRICTLY less: an admissible event at ts == wm still merges
          // when ts - end == gap (the merge rule is <=), so an island
          // with end + gap == wm is NOT yet closable — `<=` here emitted
          // it one event too early and a boundary event then started a
          // spurious second session
          def split(islands: List[SessState]) =
            islands.partition(s => s.end + SessionGapMs < wm)
          val islands =
            if (state.hasTimedOut) state.get.islands
            else {
              // gaps-and-islands over this batch's (sorted) events — a
              // late-but-admissible event may extend an island DOWNWARD
              // (min start) or bridge two islands; the sorted interval
              // merge of (state ∪ batch) handles every case
              val sorted = rows.map(_._2.getTime).toArray.sorted
              val batchIslands = sorted.foldLeft(List.empty[SessState]) {
                (acc, ms) => acc match {
                  case h :: t if ms - h.end <= SessionGapMs =>
                    SessState(h.start, math.max(h.end, ms), h.n + 1) :: t
                  case _ => SessState(ms, ms, 1) :: acc
                }
              }.reverse
              mergeSorted(
                (state.getOption.map(_.islands).getOrElse(Nil) ++ batchIslands)
                  .sortBy(_.start))
            }
          val (closed, open) = split(islands)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenSessions(open))
            // earliest due first; re-fires as the watermark advances
            state.setTimeoutTimestamp(open.map(_.end + SessionGapMs).min)
          }
          closed.sortBy(_.start).iterator
            .map(s => SessionOut(user, s.start, s.end, s.n))
      }
  }

  /** X37 streaming twin — ONLINE ordered funnel via mapGroupsWithState:
    * per user, a fixed-width state of step-reach times (k longs — bounded
    * regardless of event volume, unlike keeping event lists). Within a
    * batch, events are folded in event-time order; across batches the
    * semantics are the online ones: a step event arriving in a LATER
    * batch with an EARLIER timestamp than the already-reached previous
    * step cannot advance the funnel (the batch `Windows.funnel` is the
    * event-time-exact form — same relationship as the other
    * batch/streaming twins). Emits the user's current progress each
    * batch. */
  final case class FunnelProgress(user_id: Long, reached: Int, t_ms: Seq[Long])
  def funnelWithState(spark: SparkSession, events: DataFrame,
      steps: Seq[String]): Dataset[FunnelProgress] = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    // the fold runs at MICROsecond precision like the batch twin (which
    // compares raw timestamp columns) — truncating to ms before the
    // strict > would drop a step that follows its predecessor within the
    // same millisecond; ms truncation happens only at emission, mirroring
    // the batch output's tsMs
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[List[Long], FunnelProgress](
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String)],
            state: GroupState[List[Long]]) =>
          // head = time the LATEST-reached step was hit (list reversed)
          var times = state.getOption.getOrElse(Nil)
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, tpe) =>
            if (times.length < steps.length && tpe == steps(times.length) &&
              (times.isEmpty || us > times.head)) times = us :: times
          }
          state.update(times)
          FunnelProgress(user, times.length,
            times.reverse.map(Math.floorDiv(_, 1000L)))
      }
  }

  /** X24 driver-gate binding — the online funnel state machine
    * ([[funnelWithState]], mapGroupsWithState) driven to COMPLETION over
    * the fixture events stream (memory sink, all available data), final
    * state per user formatted exactly like the batch q27_funnel: same
    * columns, same DuckDB oracle. This gives the arbitrary-stateful-
    * streaming family a hash-verified CORRECTNESS row instead of
    * spec-only coverage: the fixture stream folds in event-time order,
    * so the online result equals the event-time-exact batch funnel.
    *
    * Constructing the DataFrame RUNS the streaming query (there is no
    * lazy handle to a finished stream), so the result is cached per
    * (app, dir). The update log lands in executor-written parquet
    * ([[gateToParquet]] — never driver-resident), and the final-state
    * aggregation is a distributed groupBy over that log; at production
    * scale the same state machine writes to a real sink and this
    * projection is the consumer's. */
  def x24StatefulFunnel(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x24Gate", s, d) {
      val log = gateToParquet(s, "x24_funnel", d,
        funnelWithState(s, eventsStream(s, d),
          Seq("view", "click", "purchase")).toDF(), "update")(
        _.processAllAvailable())
      // last update per user wins: reached only grows, and equal reached
      // implies identical times (times append only when a step is hit)
      log.groupBy(col("user_id"))
        .agg(max(struct(col("reached"), col("t_ms"))).as("st"))
        .select(col("user_id") +: col("st.reached").as("reached") +:
          (1 to 3).map(i => when(size(col("st.t_ms")) >= i,
            element_at(col("st.t_ms"), i)).as(s"t${i}_ms")): _*)
    }.orderBy(col("user_id"))

  /** X21b driver-gate binding — the stream-stream interval join
    * ([[purchaseSignupJoin]]) driven to COMPLETION over the fixture
    * events stream (memory sink, append mode). The fixture arrives as
    * ONE micro-batch, and a streaming INNER interval join emits a pair
    * in the first batch where both sides are present (watermarks only
    * bound state retention, they never gate inner-join emission) — so
    * the completed stream equals the batch interval join exactly and
    * replays against a plain DuckDB self-join.
    *
    * Same lifecycle discipline as [[x24StatefulFunnel]]: run-to-
    * completion per (app, dir), with the (input-proportional, one row
    * per matched purchase) result landing in executor-written parquet
    * via [[runToParquet]] — never a driver-resident sink. */
  def x42StreamJoin(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x42Gate", s, d) {
      runToParquet(s, "x42_ssj", d)(purchaseSignupJoin(eventsStream(s, d)))
    }.orderBy(col("purchase_id"), col("signup_id"))

  /** X24c — transformWithState (Spark 4's arbitrary-state successor to
    * map/flatMapGroupsWithState, SPARK-49564): the per-user running
    * count + event-time high-water mark as a [[StatefulProcessor]] with
    * one ValueState — the modern-API twin of [[runningUserState]]. The
    * state lives in the RocksDB state store (the only provider that
    * implements the API's column-family state variables), so the gate
    * sets the provider conf on a DEDICATED child session
    * (`newSession()`: shared SparkContext and table cache, isolated
    * SQLConf + temp views) — a streaming query running concurrently on
    * the caller's session can never silently pick up the RocksDB
    * override, and the other streaming gates keep timing under the
    * default HDFS-backed provider. Run-to-completion discipline as
    * [[x24StatefulFunnel]]: last update per user wins (count and
    * high-water only grow), settled into a literal relation. */
  final case class UserRow(user_id: Long, ts_ms: Long)
  class UserAggProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserRow, UserAgg] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[UserAgg] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserAgg]("agg",
        org.apache.spark.sql.Encoders.product[UserAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserAgg] = {
      val prev = if (st.exists()) st.get() else UserAgg(key, 0L, Long.MinValue)
      var n = prev.n_events
      var hw = prev.high_water_ms
      rows.foreach { r => n += 1; if (r.ts_ms > hw) hw = r.ts_ms }
      val next = UserAgg(key, n, hw)
      st.update(next)
      Iterator.single(next)
    }
  }

  def x43TransformWithState(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x43Gate", s, d) {
      val s2 = rocksDbSession(s)
      import s2.implicits._
      // the update log lands in parquet (executor writes); the readback
      // runs on the CALLER's session — the RocksDB child session is gone
      // after this gate
      val log = gateToParquet(s, "x43_tws", d, eventsStream(s2, d)
          .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
          .as[UserRow]
          .groupByKey(_.user_id)
          .transformWithState(new UserAggProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
          .toDF(), "update")(_.processAllAvailable())
      log.groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("high_water_ms"))).as("st"))
        .select(col("user_id"), col("st.n_events").as("n_events"),
          col("st.high_water_ms").as("high_water_ms"))
    }.orderBy(col("user_id"))

  /** X24d — transformWithState with MAP state (SPARK-49564's composite
    * state variables): per-user event-type counts held as ONE
    * `MapState[String, Long]` per user instead of a value-state holding
    * a whole map — the API's scalable sub-key structure (RocksDB stores
    * each (user, type) entry as its own key, so updating one type never
    * rewrites the user's whole map — the reason MapState exists).
    * Within-batch occurrences accumulate locally and hit the store once
    * per touched type. Run-to-completion gate as [[x43TransformWithState]]
    * (counts only grow → last update per (user, type) wins). */
  final case class TypedRow(user_id: Long, event_type: String)
  final case class TypeCount(user_id: Long, event_type: String, n: Long)
  class UserTypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedRow, TypeCount] {
    @transient private var st: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypedRow],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val batch = scala.collection.mutable.Map.empty[String, Long]
      rows.foreach(r => batch(r.event_type) = batch.getOrElse(r.event_type, 0L) + 1)
      batch.iterator.map { case (tpe, dn) =>
        val n = (if (st.containsKey(tpe)) st.getValue(tpe) else 0L) + dn
        st.updateValue(tpe, n)
        TypeCount(key, tpe, n)
      }
    }
  }

  def x43bTwsMapState(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x43bGate", s, d) {
      val s2 = rocksDbSession(s)
      import s2.implicits._
      gateToParquet(s, "x43b_tws", d, eventsStream(s2, d)
          .select(col("user_id"), col("event_type"))
          .as[TypedRow]
          .groupByKey(_.user_id)
          .transformWithState(new UserTypeCountProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
          .toDF(), "update")(_.processAllAvailable())
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n"))
    }.orderBy(col("user_id"), col("event_type"))

  /** Typed output of the per-window admission controller. */
  final case class QuotaOut(window_start_ms: Long, event_type: String,
      n_total: Long, n_admitted: Long, n_dropped: Long)

  /** Per-(event_type, 15-min window) admission control: a ValueState
    * counter tallies arrivals; ONE event-time timer per key, armed at
    * window end when the key's state is first created, emits the
    * admission report (total, admitted = min(total, quota), dropped)
    * exactly when the watermark proves the window complete — then clears
    * the state, so state is bounded by OPEN windows. The rate-limiter
    * shape every replay/ingestion topology needs (R9 paces the producer;
    * this bounds the consumer per key), with deterministic COUNT
    * semantics: which rows were "admitted" is not an online-decidable
    * identity under arbitrary arrival order, so the contract reports
    * conserved counts, not row identities. Late rows can never arrive
    * after their window's timer fired: the timer fires only once the
    * watermark passes window end, and the same watermark already drops
    * older input rows. */
  class QuotaProcessor(quota: Long) extends org.apache.spark.sql.streaming
      .StatefulProcessor[(String, Long), (String, Long), QuotaOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: (String, Long),
        rows: Iterator[(String, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[QuotaOut] = {
      val fresh = !st.exists()
      val n = (if (fresh) 0L else st.get()) + rows.size
      st.update(n)
      if (fresh) getHandle.registerTimer(key._2 + 900000L)
      Iterator.empty
    }

    override def handleExpiredTimer(key: (String, Long),
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[QuotaOut] = {
      val n = if (st.exists()) st.get() else 0L
      st.clear()
      Iterator.single(QuotaOut(key._2, key._1, n, math.min(n, quota),
        math.max(n - quota, 0L)))
    }
  }

  /** X116 — the admission controller driven to completion (quota 3 per
    * (type, window)): fixture events in one batch, a sentinel advances
    * the watermark past every real window end + delay, so EVERY report
    * row emits through [[QuotaProcessor.handleExpiredTimer]] in the
    * no-data batch — the gate proves the timer path is the only exit.
    * Oracle: batch counts with least/greatest quota arithmetic. */
  def x116QuotaAdmission(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x116Gate", s, d) {
      // transformWithState needs a multi-column-family state store:
      // RocksDB on a child session (the x43 pattern)
      val s2 = rocksDbSession(s)
      import s2.implicits._
      val evs = graft.Tables.t(s2, d, "events")
        .filter(col("event_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type"), unix_millis(col("ts")).as("ts_ms"))
        // fixture-bounded driver collect — MemoryStream input-side only
        // (multi-batch addData is driver API); see x101's note
        .as[(String, Long)].collect()
      val maxTs = evs.map(_._2).max
      implicit val sq: org.apache.spark.sql.SQLContext = s2.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, java.sql.Timestamp)]
      gateToParquet(s, "x116_quota", d, mem.toDS().toDF("event_type", "ts")
          .withWatermark("ts", "30 minutes")
          .select(col("event_type"),
            expr("(unix_millis(ts) div 900000) * 900000").as("win"))
          .as[(String, Long)]
          .groupByKey(identity)
          .transformWithState(new QuotaProcessor(3L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append)
          .toDF(), "append") { q =>
        mem.addData(evs.toSeq.map { case (t, ms) =>
          (t, new java.sql.Timestamp(ms)) })
        q.processAllAvailable()
        mem.addData(Seq(("purchase",
          new java.sql.Timestamp(maxTs + 4 * 1800000L + 1000L))))
        q.processAllAvailable()
      }.filter(col("window_start_ms") <= maxTs)
    }.orderBy(col("window_start_ms"), col("event_type"))

  /** X24e/X43c — the island-merging sessionizer re-expressed in
    * transformWithState with EXPLICIT event-time TIMERS: where
    * [[sessionsWithState]] leans on `GroupStateTimeout.EventTimeTimeout`
    * (one implicit timeout per key via setTimeoutTimestamp), the modern
    * API makes the machinery explicit — `registerTimer(ms)` on the
    * handle, `handleExpiredTimer` invoked in the no-data micro-batch
    * once the watermark passes the registered instant. Same close rule
    * (STRICTLY `end + gap < wm`; see [[sessionsWithState]]'s boundary
    * note), same interval-merge state; one timer per key at the
    * earliest possible close, re-armed on every state change (stale
    * timers deleted — the API keeps every registered instant alive
    * otherwise, and a spurious early fire is harmless because the timer
    * is always re-registered while islands stay open). */
  class SessionTimerProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, java.sql.Timestamp), SessionOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[OpenSessions] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[OpenSessions]("islands",
        org.apache.spark.sql.Encoders.product[OpenSessions],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def mergeSorted(sorted: List[SessState]): List[SessState] =
      sorted.foldLeft(List.empty[SessState]) { (acc, s) =>
        acc match {
          case h :: t if s.start <= h.end + SessionGapMs =>
            SessState(h.start, math.max(h.end, s.end), h.n + s.n) :: t
          case _ => s :: acc
        }
      }.reverse

    private def closeAndRearm(key: Long, islands: List[SessState],
        wm: Long): Iterator[SessionOut] = {
      val (closed, open) = islands.partition(s => s.end + SessionGapMs < wm)
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (open.isEmpty) st.clear()
      else {
        st.update(OpenSessions(open))
        getHandle.registerTimer(open.map(_.end + SessionGapMs).min)
      }
      closed.sortBy(_.start).iterator
        .map(s => SessionOut(key, s.start, s.end, s.n))
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      val sorted = rows.map(_._2.getTime).toArray.sorted
      val batchIslands = sorted.foldLeft(List.empty[SessState]) {
        (acc, ms) => acc match {
          case h :: t if ms - h.end <= SessionGapMs =>
            SessState(h.start, math.max(h.end, ms), h.n + 1) :: t
          case _ => SessState(ms, ms, 1) :: acc
        }
      }.reverse
      val prev = if (st.exists()) st.get().islands else Nil
      closeAndRearm(key, mergeSorted((prev ++ batchIslands).sortBy(_.start)),
        tv.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] =
      closeAndRearm(key, if (st.exists()) st.get().islands else Nil,
        tv.getCurrentWatermarkInMs())
  }

  /** X43c driver gate: the x55 drive (fixture batch + sentinel-user
    * watermark advance → every real session must close through
    * [[SessionTimerProcessor.handleExpiredTimer]] in the no-data batch)
    * on the x43 RocksDB child session. Equality with batch gap
    * sessionization is direct evidence the TIMER path fired for every
    * user — the x55 argument, transplanted to the modern API. */
  def x43cTwsTimers(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x43cGate", s, d) {
      val s2 = rocksDbSession(s)
      import s2.implicits._
      val evs = graft.Tables.t(s2, d, "events")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        // fixture-bounded driver collect — MemoryStream input-side only
        // (multi-batch addData is driver API); see x101's note
        .as[(Long, Long)].collect()
      val maxTs = evs.map(_._2).max
      implicit val sq: org.apache.spark.sql.SQLContext = s2.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp)]
      gateToParquet(s, "x43c_tws", d, mem.toDS().toDF("user_id", "ts")
          .withWatermark("ts", WatermarkDelayStr)
          .select(col("user_id"), col("ts"))
          .as[(Long, java.sql.Timestamp)]
          .groupByKey(_._1)
          .transformWithState(new SessionTimerProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append)
          .toDF(), "append") { q =>
        mem.addData(evs.toSeq.map { case (u, t) =>
          (u, new java.sql.Timestamp(t)) })
        q.processAllAvailable()
        mem.addData(Seq((-1L,
          new java.sql.Timestamp(
            maxTs + SessionGapMs + 2 * WatermarkDelayMs + 1000L))))
        q.processAllAvailable()
      }.filter(col("user_id") >= 0)
    }.orderBy(col("user_id"), col("session_start_ms"))

  /** X55 — [[sessionsWithState]] (the flatMapGroupsWithState sessionizer
    * with EVENT-TIME TIMEOUTS) driven to completion over the fixture:
    * batch 1 feeds every event, batch 2 feeds ONE sentinel event for a
    * user id that exists nowhere in the fixture (-1), advancing the
    * watermark past every real session's `end + gap + delay` — so every
    * user's remaining open islands close through the TIMEOUT branch in
    * the no-data micro-batch (SPARK-24156), not inline. The sentinel's
    * own session never closes and is filtered by user id. Equality with
    * the q22-style batch gap sessionization is therefore direct evidence
    * the timeout machinery fired for every user (x24/x43 exercise
    * NoTimeout; this is the gate for the timeout path). MemoryStream
    * feeds the gate — multi-batch watermark control needs it; the input
    * is bounded by the fixture, and the production path reads a real
    * source. */
  def x55SessionTimeout(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x55Gate", s, d) {
      import s.implicits._
      val evs = graft.Tables.t(s, d, "events")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
        // fixture-bounded driver collect — MemoryStream input-side only
        // (multi-batch addData is driver API); see x101's note
        .as[(Long, Long)].collect()
      val maxTs = evs.map(_._2).max
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp)]
      gateToParquet(s, "x55_sess", d,
          sessionsWithState(s, mem.toDS().toDF("user_id", "ts")).toDF(),
          "append") { q =>
        mem.addData(evs.toSeq.map { case (u, t) => (u, new java.sql.Timestamp(t)) })
        q.processAllAvailable()
        // one sentinel far past every real session's timeout + the
        // declared watermark delay (the SHARED WatermarkDelayMs constant,
        // so a changed delay moves both sides together): the watermark
        // moves, the no-data batch fires every pending timeout
        mem.addData(Seq((-1L,
          new java.sql.Timestamp(
            maxTs + SessionGapMs + 2 * WatermarkDelayMs + 1000L))))
        q.processAllAvailable()
      }.filter(col("user_id") >= 0)
    }.orderBy(col("user_id"), col("session_start_ms"))

  /** X75 — at-least-once redelivery dedup, the canonical
    * `dropDuplicatesWithinWatermark` use: the fixture stream is unioned
    * with itself (every event delivered exactly twice — the redelivery
    * pattern an at-least-once source like Kinesis/Kafka produces on
    * retry) and deduplicated by event_id, so each event must emit
    * exactly once. Unlike `dropDuplicates`, the within-watermark form
    * EXPIRES its key state once the watermark passes a key's first
    * arrival + delay — the property that makes exactly-once projection
    * of an at-least-once stream viable over unbounded time (plain
    * streaming dropDuplicates on a non-event-time key retains every key
    * forever). Both copies carry identical payloads, so the surviving
    * row is deterministic in every projected column. Append mode: dedup
    * emits eagerly on first sight — no watermark flush needed for the
    * gate. The result is O(input), so the readout is
    * [[runToParquet]] (executor-side parquet append per micro-batch) —
    * no O(data) collect on the driver, unlike the aggregate-sized
    * memory-sink gates. */
  def x75StreamDedupRedelivery(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x75Gate", s, d) {
      val ev = eventsStream(s, d)
      runToParquet(s, "x75_dedup", d) {
        ev.union(ev)
          .withWatermark("ts", "30 minutes")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"))
      }
    }.orderBy(col("event_id"))

  /** X87 — stream-static enrichment join: every micro-batch of the
    * event stream joins the STATIC documents dimension (user_id →
    * doc_id → source), the lookup-enrich shape of a serving pipeline.
    * Spark re-plans the static side per micro-batch — it broadcasts
    * under the threshold exactly like the batch q03 dimension join, and
    * a dimension update lands at the next batch without restarting the
    * query; an inner stream-static join needs no watermark (no state —
    * the static side is the state). Emitted rows equal the batch inner
    * join, which is the oracle. The enriched stream is O(input), so the
    * readout is [[runToParquet]] — per-batch executor-side parquet
    * append, no O(data) collect on the driver. */
  def x87StreamStaticEnrich(s: SparkSession, d: String): DataFrame =
    graft.ops.PerAppCache.cachedPerApp("StreamingOps.x87Gate", s, d) {
      val dim = graft.Tables.t(s, d, "documents")
        .select(col("doc_id"), col("source"))
      runToParquet(s, "x87_enrich", d) {
        eventsStream(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .join(dim, col("user_id") === col("doc_id"))
          .select(col("event_id"), col("user_id"), col("source"))
      }
    }.orderBy(col("event_id"), col("user_id"), col("source"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x134_upsert_sink" -> (x134UpsertSink _),
    "x105_chained_stateful" -> (x105ChainedStateful _),
    "x115_multisource_union" -> (x115MultisourceUnion _),
    "x116_quota_admission" -> (x116QuotaAdmission _),
    "x101_stream_left_join" -> (x101StreamLeftJoin _),
    "x87_stream_enrich" -> (x87StreamStaticEnrich _),
    "x75_stream_dedup" -> (x75StreamDedupRedelivery _),
    "x24_stateful_funnel" -> (x24StatefulFunnel _),
    "x42_stream_join" -> (x42StreamJoin _),
    "x43_tws_user_agg" -> (x43TransformWithState _),
    "x43b_tws_map_state" -> (x43bTwsMapState _),
    "x43c_tws_timers" -> (x43cTwsTimers _),
    "x55_session_timeout" -> (x55SessionTimeout _))
  /** The online funnel's completion state equals the batch event-time
    * funnel on an in-order stream — so it replays against q27's oracle;
    * the completed stream-stream inner interval join equals the batch
    * self-join (inner joins emit eagerly; watermarks only bound state). */
  val oracles: Map[String, String] = Map(
    // the completed idempotent-upsert sink state == the plain batch
    // argmax per key by (ts, event_id) — batching must not matter
    "x134_upsert_sink" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
        |  FROM events
        |  WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_ms DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, ts_ms AS last_ts_ms, event_id AS last_event_id,
        |  event_type AS last_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the completed stream-static inner join == the batch inner join
    // (per-batch joins against an immutable static side compose to
    // exactly the batch relation; inner joins emit eagerly)
    "x87_stream_enrich" ->
      """SELECT e.event_id, e.user_id, d.source
        |FROM events e JOIN documents d ON e.user_id = d.doc_id
        |ORDER BY event_id, user_id, source""".stripMargin,
    // doubled-then-deduplicated stream == the original event set, by id
    "x75_stream_dedup" ->
      """SELECT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,
    "x24_stateful_funnel" -> graft.ops.Windows.oracles("q27_funnel"),
    // the completed MapState counts equal the batch (user, type) counts
    "x43b_tws_map_state" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin,
    // the completed dedup→window chain == batch window counts over
    // DISTINCT events (identical redelivered payloads collapse; the
    // 15-min window start is epoch-floor arithmetic in both engines)
    // the completed admission report == batch counts with the quota
    // arithmetic applied per (type, window): counts are conserved
    // (admitted + dropped = total) and every row exited via the timer
    "x116_quota_admission" ->
      """SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 900000) * 900000
        |    AS window_start_ms,
        |  event_type, count(*) AS n_total,
        |  CAST(least(count(*), 3) AS BIGINT) AS n_admitted,
        |  CAST(greatest(count(*) - 3, 0) AS BIGINT) AS n_dropped
        |FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |  AND event_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY window_start_ms, event_type""".stripMargin,
    // the completed two-source union == the batch window count over ALL
    // rows (no dedup in this pipeline — redelivery is x105's concern);
    // the parity split is a partition of the rows, so the union restores
    // exactly the batch relation
    "x115_multisource_union" ->
      """SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 900000) * 900000
        |    AS window_start_ms,
        |  event_type, count(*) AS n
        |FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |  AND event_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY window_start_ms, event_type""".stripMargin,
    "x105_chained_stateful" ->
      """WITH ev AS (
        |  SELECT DISTINCT event_id, ts, event_type FROM events
        |  WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL)
        |SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 900000) * 900000
        |    AS window_start_ms,
        |  event_type, count(*) AS n
        |FROM ev GROUP BY 1, 2
        |ORDER BY window_start_ms, event_type""".stripMargin,
    // the COMPLETED left-outer interval join == the batch LEFT JOIN:
    // matched rows emit eagerly, null rows emit exactly when the
    // sentinel-advanced watermark proves the purchase unmatchable —
    // equality of the full relation is the proof the expiry path fired.
    // NULL signup ordering never matters: a purchase has either one null
    // row or only non-null rows, and purchase_id leads the sort
    "x101_stream_left_join" ->
      """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
        |  p.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase'
        |       AND event_id IS NOT NULL AND user_id IS NOT NULL
        |       AND ts IS NOT NULL) p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup'
        |       AND event_id IS NOT NULL AND user_id IS NOT NULL
        |       AND ts IS NOT NULL) s
        |  ON p.user_id = s.user_id
        | AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, signup_id""".stripMargin,
    "x42_stream_join" ->
      """SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
        |  p.user_id AS user_id
        |FROM events p JOIN events s
        |  ON p.user_id = s.user_id
        | AND p.event_type = 'purchase' AND s.event_type = 'signup'
        | AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, signup_id""".stripMargin,
    // the completed timeout-sessionizer equals batch gap sessionization
    // (same 30-min rule as q22, aggregated to the session grain; the
    // session_id numbering is dropped — start_ms identifies the session)
    // the x43c timer-path sessionizer is held to the SAME oracle as x55:
    // identical session semantics, different timeout machinery
    "x43c_tws_timers" -> gapSessionOracleSql,
    "x55_session_timeout" -> gapSessionOracleSql,
    // the completed running state per user is just the batch aggregate
    "x43_tws_user_agg" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(epoch_ms(CAST(ts AS TIMESTAMP))) AS BIGINT) AS high_water_ms
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)

  private lazy val gapSessionOracleSql: String =
      """WITH flagged AS (
        | SELECT user_id, event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |  CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) - lag(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
        |    OVER (PARTITION BY user_id ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) > 1800000
        |   THEN 1
        |   WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP)), 1)
        |    OVER (PARTITION BY user_id ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) IS NULL
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events),
        |sess AS (
        | SELECT user_id, ts_ms,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM flagged)
        |SELECT user_id, min(ts_ms) AS session_start_ms,
        | max(ts_ms) AS session_end_ms, count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start_ms""".stripMargin

  /** X24 — arbitrary stateful processing: per-user running event count +
    * high-water mark via mapGroupsWithState (the general escape hatch the
    * declarative ops above make mostly unnecessary). */
  final case class UserAgg(user_id: Long, n_events: Long, high_water_ms: Long)
  def runningUserState(spark: SparkSession, events: DataFrame): Dataset[UserAgg] = {
    import spark.implicits._
    events.select(col("user_id"), unix_millis(col("ts")).as("ts_ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserAgg, UserAgg](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(user, 0L, Long.MinValue))
          var n = prev.n_events
          var hw = prev.high_water_ms
          rows.foreach { case (_, ms) => n += 1; if (ms > hw) hw = ms }
          val next = UserAgg(user, n, hw)
          state.update(next)
          next
      }
  }
}
