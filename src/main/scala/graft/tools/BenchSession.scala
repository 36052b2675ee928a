package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE recipe for a timing-comparable session — shared by Bench and
  * QueryTime so the sweep number and its isolated-run arbiter cannot
  * drift apart (they had: timezone, warm-up scope). */
private[graft] object BenchSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Builder-only: local[cpus], cpus shuffle partitions, no UI. The
    * session timezone is left at the JVM default on purpose — Bench has
    * timed the sweep under it since round 1, and changing it would move
    * tz-sensitive filters/truncations for reasons unrelated to code. */
  def open(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Page-cache warm-up: touch every table once so first-touch I/O is
    * not billed to whichever query scans a table first. Tables.t, not
    * raw spark.read: events.parquet is TIMESTAMP(NANOS), which a raw
    * read rejects — the catch would hide that and leave the one
    * replay-query table cold. */
  def warmTables(s: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { tbl =>
      try graft.Tables.t(s, sfDir, tbl).foreach(_ => ())
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Engine warm-up beyond the page cache: the first broadcast join and
    * hash aggregation of a session pay one-time costs (janino compiler
    * init, broadcast thread pool, exchange machinery) of ~2s that would
    * otherwise be billed to whichever query runs first. */
  def warmEngine(s: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      val r = graft.Tables.t(s, sfDir, "region")
      val n = graft.Tables.t(s, sfDir, "nation")
      n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name")).agg(count(lit(1))).foreach(_ => ())
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Best-effort one-line artifact write: an unwritable cwd must not
    * flip a green run to a nonzero exit after stdout already went out. */
  def writeArtifact(path: String, line: String): Unit =
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] $path not written: ${e.getMessage}") }

  /** Hypervisor steal time, in seconds, summed since boot — the r16
    * measurement-accuracy instrument: /proc/stat on this box shows
    * steal EXCEEDING user time (17.2k s stolen vs 10.6k s user at one
    * reading), i.e. the host freezes the guest's vCPUs for multi-second
    * stretches that land on whichever query is running (the r15 driver
    * artifact's "11 queries at 10-50x committed warm" burst). Reading
    * the counter around each timed run attributes a slow run to the
    * box DIRECTLY, instead of inferring from bracketing canary samples.
    * Returns NaN where /proc/stat is unavailable (non-Linux), which
    * disables steal-based adjudication cleanly. */
  // NOTE (r16 ADVICE): this reads the aggregate "cpu " line — steal
  // summed over ALL vCPUs — while the flag threshold in Bench compares
  // it to single-query wall clock, so the verdict is a BOX-level "the
  // hypervisor was stealing during this run" signal, not a per-core
  // attribution: background steal spread across idle cores can flag a
  // clean run (costing one redundant retime — min-of-passes keeps the
  // number honest), and steal concentrated on one busy core of a short
  // run can slip under. Retained as-is deliberately: per-cpu parsing
  // buys precision the min-over-attempts reporting doesn't need.
  // USER_HZ is 100 on every mainstream Linux (hardcoded below).
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().find(_.startsWith("cpu "))
        cpu.map { l =>
          val f = l.trim.split("\\s+")
          // field 8 (1-based after the "cpu" tag) is steal; jiffies are
          // USER_HZ = 100 on every mainstream Linux
          if (f.length > 8) f(8).toDouble / 100.0 else Double.NaN
        }.getOrElse(Double.NaN)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }

  /** One timed run of query `name`: (elapsed seconds, ok, stolen). A
    * failure is logged to stderr and reported as not ok. Each run carries
    * its own hypervisor-steal verdict — /proc/stat steal read around the
    * timed region (r16: the benchmark host steals vCPUs for multi-second
    * stretches); steal during a run > max(0.1 s, 15% of elapsed) marks the
    * run as box-distorted, the DIRECT form of the canary's inference. */
  def timeOnce(name: String, fn: (SparkSession, String) => DataFrame,
      spark: SparkSession, sfDir: String): (Double, Boolean, Boolean) = {
    val s0 = stealSeconds()
    val t0 = System.nanoTime()
    val ok = try { fn(spark, sfDir).count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
    val el = (System.nanoTime() - t0) / 1e9
    val st = stealSeconds() - s0
    (el, ok, !st.isNaN && st > math.max(0.1, el * 0.15))
  }

  /** Inter-query scrub: evict the shared per-app caches, then give the
    * collector one explicit pass. Measured (r16 litter probe): without
    * the GC, garbage accumulated by earlier queries is collected DURING
    * a later query's timed region and bills it for work it didn't do
    * (x167 warm read 86-91 s in-sequence vs 1.6 s scrubbed — the same
    * code, same data). The scrub runs OUTSIDE every timed region, so a
    * query's own allocation cost still lands on that query. */
  def scrub(): Unit = {
    graft.ops.PerAppCache.evictAll()
    System.gc()
  }
}
