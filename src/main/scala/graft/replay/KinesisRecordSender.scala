package graft.replay

import java.lang.reflect.{InvocationTargetException, Method}

/** R10/R11 — the real Kinesis `PutRecords` transport.
  *
  * The AWS SDK is not on this build's (offline) classpath, so the adapter
  * COMPILES without the SDK and ACTIVATES when the jars are present at
  * runtime (spark-submit `--jars`). Everything protocol-shaped stays in
  * [[Sink]] — ≤500-record, ≤5 MiB batches, partial-failure requeue,
  * `min(2000, 2^a·100)` backoff (KinesisProducer.java:139-169) — this class
  * maps exactly one batch to one `PutRecords` call and reports the failed
  * indices.
  *
  * The calls it makes are a fixed set, bound once per sender by exact
  * signature on the SDK's declared public types ([[KinesisRecordSender.Sdk]]);
  * the send path is plain `Method.invoke`. Binding on the public interfaces
  * is also what lets the SDK's package-private impls (`BuilderImpl`,
  * `DefaultKinesisClient`) be invoked at all:
  *
  *   - `core.SdkBytes.fromByteArray(byte[])`;
  *   - `PutRecordsRequestEntry.builder()`, then `$Builder.data(SdkBytes)`,
  *     `.partitionKey(String)` (a random UUID per record —
  *     KinesisProducer.java:182-199; random keys spread records across
  *     shards, destroying cross-shard order by design, SURVEY.md §8.6) and
  *     `.build()`;
  *   - `PutRecordsRequest.builder()`, then `$Builder.streamARN(String)`,
  *     `.records(java.util.Collection)` and `.build()`
  *     (KinesisProducer.java:174-179);
  *   - `KinesisClient.putRecords(PutRecordsRequest)`, then the response's
  *     `failedRecordCount()`, `records()` and each result entry's
  *     `errorCode()` (KinesisProducer.java:187-195), returned as 0-based
  *     indices for [[Sink]]'s requeue loop;
  *   - `core.exception.SdkException.retryable()`;
  *   - the default client: `regions.Region.of(String)`,
  *     `KinesisClient.builder()`, `KinesisClientBuilder.region(Region)` and
  *     `.build()`.
  *
  * `sdkRoot` redirects the package root so the chain is contract-tested
  * against stub classes of the same shape without the real SDK (SinkSpec);
  * `clientFactory` substitutes the client. One client per sender instance,
  * like the reference's one client per sender thread
  * (KinesisProducer.java:100); `lazy` defers the binding and the client to
  * first use on the executor after task deserialization.
  */
final class KinesisRecordSender(
    streamArn: String,
    sdkRoot: String = KinesisRecordSender.DefaultSdkRoot,
    clientFactory: Option[() => AnyRef] = None) extends RecordSender {
  import KinesisRecordSender._

  require(StreamArn.validate(streamArn), s"invalid Kinesis stream ARN: $streamArn")

  @transient private lazy val sdk: Sdk = new Sdk(sdkRoot)

  @transient private lazy val client: AnyRef =
    clientFactory.map(_.apply()).getOrElse(defaultClient(sdk, streamArn))

  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    val entries = new java.util.ArrayList[AnyRef](records.size)
    records.foreach(bytes =>
      entries.add(sdk.entry(bytes, java.util.UUID.randomUUID().toString)))
    // Request-level failures (the call THROWS instead of reporting
    // per-record errorCodes — whole-request throttle, 5 MiB cap, transient
    // network/5xx): the reference has no handling at all here (a thrown
    // putRecords exits its process, KinesisProducer.java:124-126), but in
    // a Spark task that would re-run the whole partition and duplicate
    // every already-sent record. Classify by the SDK's own verdict:
    // SdkException.retryable() → report the whole batch as failed indices
    // so [[Sink]]'s 2^attempt backoff engages; non-retryable
    // (ResourceNotFound, AccessDenied, Validation…) → rethrow and fail
    // fast per the [[RecordSender]] contract.
    try sdk.failedIndices(sdk.putRecords(client, streamArn, entries))
    catch {
      case e: Exception if sdk.isRetryable(e) => records.indices
    }
  }
}

object KinesisRecordSender {

  val DefaultSdkRoot = "software.amazon.awssdk"

  /** True when the Kinesis SDK is loadable — the activation switch. */
  def sdkPresent(sdkRoot: String = DefaultSdkRoot): Boolean =
    try { Class.forName(s"$sdkRoot.services.kinesis.KinesisClient"); true }
    catch { case _: ClassNotFoundException | _: NoClassDefFoundError => false }

  /** How many [[Sdk]] tables this JVM has bound: one per sender that sent. */
  private[replay] val bindings = new java.util.concurrent.atomic.AtomicLong

  /** The SDK calls the sender makes, each looked up once by its exact
    * signature on the SDK's declared public type under `root`. */
  private[replay] final class Sdk(val root: String) {
    bindings.incrementAndGet()

    private def cls(name: String): Class[_] = Class.forName(s"$root.$name")
    private val bytesCls = cls("core.SdkBytes")
    private val entryCls = cls("services.kinesis.model.PutRecordsRequestEntry")
    private val entryBuilder = cls("services.kinesis.model.PutRecordsRequestEntry$Builder")
    private val requestCls = cls("services.kinesis.model.PutRecordsRequest")
    private val requestBuilder = cls("services.kinesis.model.PutRecordsRequest$Builder")
    private val responseCls = cls("services.kinesis.model.PutRecordsResponse")
    private val resultEntryCls = cls("services.kinesis.model.PutRecordsResultEntry")
    private val clientCls = cls("services.kinesis.KinesisClient")
    private val clientBuilder = cls("services.kinesis.KinesisClientBuilder")
    private val regionCls = cls("regions.Region")
    private val sdkException = cls("core.exception.SdkException")

    private val fromByteArray = bytesCls.getMethod("fromByteArray", classOf[Array[Byte]])
    private val newEntry = entryCls.getMethod("builder")
    private val entryData = entryBuilder.getMethod("data", bytesCls)
    private val entryKey = entryBuilder.getMethod("partitionKey", classOf[String])
    private val entryBuild = entryBuilder.getMethod("build")
    private val newRequest = requestCls.getMethod("builder")
    private val requestArn = requestBuilder.getMethod("streamARN", classOf[String])
    private[replay] val requestRecords =
      requestBuilder.getMethod("records", classOf[java.util.Collection[_]])
    private val requestBuild = requestBuilder.getMethod("build")
    private val put = clientCls.getMethod("putRecords", requestCls)
    private val failedCount = responseCls.getMethod("failedRecordCount")
    private val results = responseCls.getMethod("records")
    private val errorCode = resultEntryCls.getMethod("errorCode")
    private val retryable = sdkException.getMethod("retryable")
    private val regionOf = regionCls.getMethod("of", classOf[String])
    private val newClientBuilder = clientCls.getMethod("builder")
    private val clientRegion = clientBuilder.getMethod("region", regionCls)
    private val clientBuild = clientBuilder.getMethod("build")

    /** One `PutRecordsRequestEntry` with `data` and `partitionKey`. */
    def entry(data: Array[Byte], partitionKey: String): AnyRef = {
      val b = invoke(newEntry, null)
      invoke(entryData, b, invoke(fromByteArray, null, data))
      invoke(entryKey, b, partitionKey)
      invoke(entryBuild, b)
    }

    /** `client.putRecords` of one request carrying `streamArn` and `entries`. */
    def putRecords(client: AnyRef, streamArn: String,
        entries: java.util.Collection[AnyRef]): AnyRef = {
      val b = invoke(newRequest, null)
      invoke(requestArn, b, streamArn)
      invoke(requestRecords, b, entries)
      invoke(put, client, invoke(requestBuild, b))
    }

    /** 0-based indices of entries with a non-null `errorCode`
      * (KinesisProducer.java:187-195); fast path when none failed. */
    def failedIndices(response: AnyRef): Seq[Int] = {
      val n = invoke(failedCount, response) match {
        case null => 0
        case x: Number => x.intValue()
      }
      if (n <= 0) Nil
      else {
        val recs = invoke(results, response).asInstanceOf[java.util.List[AnyRef]]
        (0 until recs.size()).filter(i => invoke(errorCode, recs.get(i)) != null)
      }
    }

    /** The SDK's own retryability verdict: `SdkException.retryable()` is
      * true for throttling, transient 5xx and IO failures, false for
      * misconfiguration-shaped errors; a non-SDK exception is not
      * retryable. */
    def isRetryable(e: Throwable): Boolean =
      sdkException.isInstance(e) && invoke(retryable, e) == java.lang.Boolean.TRUE

    /** `KinesisClient.builder().region(Region.of(region)).build()`. */
    def newClient(region: String): AnyRef = {
      val b = invoke(newClientBuilder, null)
      invoke(clientRegion, b, invoke(regionOf, null, region))
      invoke(clientBuild, b)
    }
  }

  // one client per (sdkRoot, region) per JVM: sender instances are
  // deserialized per task closure, and a fresh HTTP client (connection
  // pool, threads) per task would leak unbounded on the streaming path —
  // the JVM-lifetime singleton is the executor-side analog of the
  // reference's one client per sender thread
  private val clientCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), AnyRef]

  /** The reference's per-sender client (KinesisProducer.java:100) in the
    * stream ARN's region (R11), cached per JVM and region. */
  private def defaultClient(sdk: Sdk, streamArn: String): AnyRef = {
    val region = StreamArn.extractRegion(streamArn)
    clientCache.getOrElseUpdate((sdk.root, region), sdk.newClient(region))
  }

  /** Method.invoke wraps anything the target throws in
    * InvocationTargetException; unwrap so callers see the REAL exception
    * (the actionable `ResourceNotFoundException`, not a reflection
    * artifact) — instanceof-based handling like [[Sdk.isRetryable]] could
    * never match the wrapper. */
  private[replay] def invoke(m: Method, target: AnyRef, args: AnyRef*): AnyRef =
    try m.invoke(target, args: _*)
    catch {
      case e: InvocationTargetException if e.getCause != null => throw e.getCause
    }
}
