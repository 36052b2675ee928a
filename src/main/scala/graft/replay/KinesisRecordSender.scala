package graft.replay

/** R10/R11 — the real Kinesis `PutRecords` transport, reflection-loaded.
  *
  * The AWS SDK is not on this build's (offline) classpath, so the adapter
  * binds `software.amazon.awssdk` entirely via reflection: it COMPILES
  * without the SDK and ACTIVATES when the jars are present at runtime
  * (spark-submit `--jars`). Everything protocol-shaped stays in [[Sink]] —
  * ≤500-record, ≤5 MiB batches, partial-failure requeue, `min(2000, 2^a·100)`
  * backoff (KinesisProducer.java:139-169) — this class maps exactly one
  * batch to one `PutRecords` call and reports the failed indices:
  *
  *   - entries: `PutRecordsRequestEntry.builder().data(SdkBytes).
  *     partitionKey(randomUUID)` (KinesisProducer.java:182-199 — random
  *     keys spread records across shards, destroying cross-shard order by
  *     design, SURVEY.md §8.6);
  *   - request: `PutRecordsRequest.builder().streamARN(arn).records(...)`
  *     (KinesisProducer.java:174-179);
  *   - failures: entries whose `errorCode` is non-null
  *     (KinesisProducer.java:187-195), returned as 0-based indices for
  *     [[Sink]]'s requeue loop.
  *
  * `sdkRoot` redirects the package root so the reflective chain is
  * contract-tested against stub classes without the real SDK (SinkSpec).
  * One client per sender instance, like the reference's one client per
  * sender thread (KinesisProducer.java:100); `lazy` defers construction to
  * first use on the executor after task deserialization.
  */
final class KinesisRecordSender(
    streamArn: String,
    sdkRoot: String = KinesisRecordSender.DefaultSdkRoot,
    clientFactory: Option[() => AnyRef] = None) extends RecordSender {
  import KinesisRecordSender._

  require(StreamArn.validate(streamArn), s"invalid Kinesis stream ARN: $streamArn")

  @transient private lazy val client: AnyRef =
    clientFactory.map(_.apply()).getOrElse(defaultClient(sdkRoot, streamArn))

  override def send(records: Seq[Array[Byte]]): Seq[Int] = {
    val entries = new java.util.ArrayList[AnyRef](records.size)
    records.foreach { bytes =>
      val data = callStatic(s"$sdkRoot.core.SdkBytes", "fromByteArray", bytes)
      val b = callStatic(s"$sdkRoot.services.kinesis.model.PutRecordsRequestEntry", "builder")
      call(b, "data", data)
      call(b, "partitionKey", java.util.UUID.randomUUID().toString)
      entries.add(call(b, "build"))
    }
    val rb = callStatic(s"$sdkRoot.services.kinesis.model.PutRecordsRequest", "builder")
    call(rb, "streamARN", streamArn)
    call(rb, "records", entries)
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
    try failedIndices(call(client, "putRecords", call(rb, "build")))
    catch {
      case e: Exception if isRetryableSdkException(sdkRoot, e) =>
        records.indices
    }
  }
}

object KinesisRecordSender {

  val DefaultSdkRoot = "software.amazon.awssdk"

  /** True when the Kinesis SDK is loadable — the activation switch. */
  def sdkPresent(sdkRoot: String = DefaultSdkRoot): Boolean =
    try { Class.forName(s"$sdkRoot.services.kinesis.KinesisClient"); true }
    catch { case _: ClassNotFoundException | _: NoClassDefFoundError => false }

  // one client per (sdkRoot, region) per JVM: sender instances are
  // deserialized per task closure, and a fresh HTTP client (connection
  // pool, threads) per task would leak unbounded on the streaming path —
  // the JVM-lifetime singleton is the executor-side analog of the
  // reference's one client per sender thread
  private val clientCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), AnyRef]

  /** `KinesisClient.builder().region(Region.of(<arn region>)).build()` —
    * the reference's per-sender client (KinesisProducer.java:100), cached
    * per JVM and region. */
  private def defaultClient(sdkRoot: String, streamArn: String): AnyRef = {
    val regionName = StreamArn.extractRegion(streamArn) // R11
    clientCache.getOrElseUpdate((sdkRoot, regionName), {
      val region = callStatic(s"$sdkRoot.regions.Region", "of", regionName)
      val b = callStatic(s"$sdkRoot.services.kinesis.KinesisClient", "builder")
      call(b, "region", region)
      call(b, "build")
    })
  }

  /** The SDK's own retryability verdict, bound reflectively:
    * `SdkException.retryable()` is true for throttling, transient 5xx and
    * IO failures, false for misconfiguration-shaped errors. Absent SDK (or
    * a non-SDK exception) → not retryable. */
  private[replay] def isRetryableSdkException(sdkRoot: String, e: Throwable): Boolean =
    try {
      val sdkEx = Class.forName(s"$sdkRoot.core.exception.SdkException")
      sdkEx.isInstance(e) && (call(e.asInstanceOf[AnyRef], "retryable") match {
        case b: java.lang.Boolean => b.booleanValue()
        case _ => false
      })
    } catch { case _: ReflectiveOperationException => false }

  /** 0-based indices of entries with a non-null `errorCode`
    * (KinesisProducer.java:187-195); fast path when none failed. */
  private[replay] def failedIndices(response: AnyRef): Seq[Int] = {
    val n = call(response, "failedRecordCount") match {
      case null => 0
      case x: Number => x.intValue()
    }
    if (n <= 0) Nil
    else {
      val recs = call(response, "records").asInstanceOf[java.util.List[AnyRef]]
      (0 until recs.size()).filter(i => call(recs.get(i), "errorCode") != null)
    }
  }

  /** Boxed view of a (possibly primitive) parameter type, so primitive
    * parameters only accept their matching box — `getMethods` order is
    * unspecified, and "any arg fits a primitive" could bind an overloaded
    * SDK method to the wrong overload (or IllegalArgumentException at
    * invoke time). */
  private def boxed(p: Class[_]): Class[_] = p match {
    case java.lang.Boolean.TYPE => classOf[java.lang.Boolean]
    case java.lang.Byte.TYPE => classOf[java.lang.Byte]
    case java.lang.Short.TYPE => classOf[java.lang.Short]
    case java.lang.Character.TYPE => classOf[java.lang.Character]
    case java.lang.Integer.TYPE => classOf[java.lang.Integer]
    case java.lang.Long.TYPE => classOf[java.lang.Long]
    case java.lang.Float.TYPE => classOf[java.lang.Float]
    case java.lang.Double.TYPE => classOf[java.lang.Double]
    case other => other
  }

  private def paramFits(exact: Boolean)(p: Class[_], a: AnyRef): Boolean = {
    val t = boxed(p)
    if (a == null) !p.isPrimitive // null can never fill a primitive slot
    else if (exact) t == a.getClass
    else t.isAssignableFrom(a.getClass)
  }

  /** Overload resolution shared by [[call]]/[[callStatic]]: an exact-type
    * pass first (deterministic under overloading), then an
    * assignable-types pass. */
  private def resolve(methods: Seq[java.lang.reflect.Method], name: String,
      args: Seq[AnyRef]): Option[java.lang.reflect.Method] = {
    val cands = methods.filter(m =>
      m.getName == name && m.getParameterCount == args.length)
    def pass(exact: Boolean) = cands.find(
      _.getParameterTypes.toSeq.zip(args).forall { case (p, a) =>
        paramFits(exact)(p, a) })
    pass(exact = true).orElse(pass(exact = false))
  }

  /** Re-resolve a method onto a PUBLIC declaring type. The SDK's builders
    * and clients are package-private impls (`BuilderImpl`,
    * `DefaultKinesisClient`) of public interfaces: a Method reflected off
    * the impl class throws IllegalAccessException on invoke even though
    * the method itself is public — the invocation must go through the
    * public interface's Method object. */
  private def accessible(m: java.lang.reflect.Method): java.lang.reflect.Method = {
    def isPub(c: Class[_]) = java.lang.reflect.Modifier.isPublic(c.getModifiers)
    if (isPub(m.getDeclaringClass)) m
    else {
      def supertypes(c: Class[_]): Iterator[Class[_]] =
        if (c == null) Iterator.empty
        else Iterator(c) ++ c.getInterfaces.iterator.flatMap(supertypes) ++
          supertypes(c.getSuperclass)
      supertypes(m.getDeclaringClass).filter(isPub)
        .flatMap(c =>
          try Iterator(c.getMethod(m.getName, m.getParameterTypes: _*))
          catch { case _: NoSuchMethodException => Iterator.empty })
        .nextOption()
        .getOrElse { m.trySetAccessible(); m }
    }
  }

  /** Method.invoke wraps anything the target throws in
    * InvocationTargetException; unwrap so callers see the REAL exception
    * (the actionable `ResourceNotFoundException`, not a reflection
    * artifact) — instanceof-based handling like [[isRetryableSdkException]]
    * could never match the wrapper. */
  private def invokeUnwrapped(m: java.lang.reflect.Method, target: AnyRef,
      args: Seq[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch {
      case e: java.lang.reflect.InvocationTargetException if e.getCause != null =>
        throw e.getCause
    }

  /** Duck-typed instance call: exact-match overload first, then first
    * assignable match, re-homed onto a public declaring type (see
    * [[accessible]]). The SDK's fluent builders return `this`, so chained
    * configuration is just repeated `call`s on the builder. */
  private[replay] def call(target: AnyRef, method: String, args: AnyRef*): AnyRef =
    invokeUnwrapped(
      accessible(resolve(target.getClass.getMethods.toSeq, method, args)
        .getOrElse(throw new NoSuchMethodException(
          s"${target.getClass.getName}.$method/${args.length}"))),
      target, args)

  /** Static (or Scala-object) call on a class resolved by name. */
  private[replay] def callStatic(className: String, method: String, args: AnyRef*): AnyRef = {
    val cls = Class.forName(className)
    val statics = cls.getMethods.toSeq.filter(m =>
      java.lang.reflect.Modifier.isStatic(m.getModifiers))
    resolve(statics, method, args) match {
      case Some(m) => invokeUnwrapped(m, null, args)
      case None => // Scala object without static forwarders
        val module = Class.forName(className + "$").getField("MODULE$").get(null)
        call(module, method, args: _*)
    }
  }
}
