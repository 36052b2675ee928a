package graft.layerbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch microseconds; `parent` is the id of
  * the span that caused this one ("" for a root). `attrs` is a JSON object. */
final case class Span(id: String, parent: String, name: String, startUs: Long,
    endUs: Long, attrs: String = "{}")

/** In-memory span recorder. Spans are kept in a queue and written as JSONL
  * when the run ends.
  *
  * Whether a span is recorded is decided where the traced work starts, not
  * when its event arrives: call spans while `enabled`; Spark jobs, their
  * stages and their tasks' spans when the job carries a call span's id as a
  * local property; streaming triggers when their query started while
  * `enabled`. Events that Spark's asynchronous buses deliver after tracing
  * was switched off are therefore kept, and late events of an untraced unit
  * are not recorded.
  *
  * Span sources, all outside the program under test:
  *  - call spans around the benchmark's calls into each layer ([[span]]);
  *    while one is open, jobs started from that thread carry its id as a
  *    local property, which is how a Spark job finds its parent;
  *  - Spark's listener bus: one span per job and per stage ([[SpanListener]])
  *    and one per streaming trigger ([[TriggerListener]]);
  *  - task-side spans from the checking sender and the pacing sleeper, whose
  *    parent is the stage the task belongs to. */
object Trace {
  val SpanKey = "layerbench.span"
  private val SyncKey = "layerbench.sync"

  @volatile var enabled = false
  @volatile var runId = ""

  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[String]] { override def initialValue() = Nil }

  def nextId(prefix: String): String = prefix + ids.incrementAndGet()
  private def record(s: Span): Unit = spans.add(s)

  /** Record a span from inside a task when the task's job is traced (from
    * the driver: when tracing is on). */
  def add(s: Span): Unit = {
    val tc = TaskContext.get()
    if (if (tc == null) enabled else tc.getLocalProperty(SpanKey) != null) record(s)
  }

  /** Innermost call span open on this thread, or "". */
  def current: String = open.get().headOption.getOrElse("")

  /** Time `body` as a call span named `name`; jobs it starts are its
    * children. With tracing off this is just `body`. */
  def span[T](sc: SparkContext, name: String, attrs: => String = "{}")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId("d")
      val parent = current
      val t0 = nowUs
      open.set(id :: open.get())
      sc.setLocalProperty(SpanKey, id)
      try body
      finally {
        open.set(open.get().tail)
        sc.setLocalProperty(SpanKey, if (parent.isEmpty) null else parent)
        record(Span(id, parent, name, t0, nowUs, attrs))
      }
    }

  /** Parent id for a span recorded inside a running task: its stage. */
  def taskParent: String = {
    val tc = TaskContext.get()
    if (tc == null) current else s"s${tc.stageId()}.${tc.stageAttemptNumber()}"
  }

  /** Wait until the listener bus has delivered every event posted before
    * this call: a marker job's end reaches the listener only after them. */
  def sync(sc: SparkContext, l: SpanListener): Unit = {
    val token = nextId("sync")
    sc.setLocalProperty(SyncKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SyncKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!l.synced(token) && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def json(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** Write every recorded span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(s"""{"run":${json(runId)},"id":${json(s.id)},"parent":${json(s.parent)},""" +
        s""""name":${json(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},"attrs":${s.attrs}}""")
      w.write('\n')
    } finally w.close()
  }

  /** Spark's own listener bus: a span per job (parent: the call span or
    * streaming trigger that started it) and per stage (parent: its job),
    * with the stage's aggregated task metrics as attributes. Only jobs
    * started under a call span are recorded; a streaming query's jobs
    * inherit the property from the call that started the query. */
  final class SpanListener extends SparkListener {
    // start ms, parent, sync token; traced jobs and sync markers only
    private val jobs = TrieMap.empty[Int, (Long, String, String)]
    private val stageJob = TrieMap.empty[Int, Int]
    private val syncedTokens = TrieMap.empty[String, Boolean]

    def synced(token: String): Boolean = syncedTokens.contains(token)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val parent = prop("streaming.sql.batchId") match {
        case Some(b) => s"t${prop("spark.jobGroup.id").getOrElse("")}-$b"
        case None => prop(SpanKey).getOrElse("")
      }
      val token = prop(SyncKey).orNull
      if (prop(SpanKey).isDefined || token != null) {
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        jobs.put(e.jobId, (e.time, parent, token))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (t0, parent, token) =>
        if (token != null) syncedTokens.put(token, true)
        else record(Span(s"j${e.jobId}", parent, "spark.job", t0 * 1000, e.time * 1000))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val job = stageJob.get(i.stageId)
      val m = i.taskMetrics
      if (job.isDefined && jobs.get(job.get).forall(_._3 == null) && m != null) {
        val scans = i.rddInfos.exists(_.name == "FileScanRDD")
        val attrs = s"""{"stage":${json(i.name)},"tasks":${i.numTasks},"file_scan":$scans,""" +
          s""""cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
          s""""input_bytes":${m.inputMetrics.bytesRead},""" +
          s""""shuffle_write_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
          s""""shuffle_read_bytes":${m.shuffleReadMetrics.totalBytesRead},""" +
          s""""spill_bytes":${m.memoryBytesSpilled + m.diskBytesSpilled}}"""
        record(Span(s"s${i.stageId}.${i.attemptNumber()}", s"j${job.get}", "spark.stage",
          i.submissionTime.getOrElse(0L) * 1000, i.completionTime.getOrElse(0L) * 1000, attrs))
      }
    }
  }

  /** Per-trigger progress of a streaming query (Structured Streaming's
    * `StreamingQueryProgress`) as spans under the call span that started
    * the query. `onQueryStarted` runs before `start()` returns, so whether a
    * query is traced, and its parent, are read while its call is open. */
  final class TriggerListener(parentOf: () => String) extends StreamingQueryListener {
    val terminated = new AtomicLong(0)
    private val traced = TrieMap.empty[java.util.UUID, String] // run id -> parent span
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (enabled) traced.put(e.runId, parentOf())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      traced.get(p.runId).foreach { parent =>
        record(Span(s"t${p.runId}-${p.batchId}", parent, "stream.trigger", t0 * 1000,
          (t0 + ms("triggerExecution")) * 1000,
          s"""{"add_batch_ms":${ms("addBatch")},"input_rows":${p.numInputRows}}"""))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
  }
}
