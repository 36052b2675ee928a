/** Stub of the AWS SDK v2 surface [[graft.replay.KinesisRecordSender]]
  * binds — the same declared types as SDK v2 under a different package
  * root: builders are interfaces nested in their model class (binary name
  * `…$Builder`) implemented by impl classes, `KinesisClient` is an
  * interface with a static `builder()`, and the request builder carries
  * the SDK's `records` overloads. The whole chain (entry building, request
  * building, response parsing, the default client) is thereby
  * contract-testable on the offline classpath. */
package graft.replay.fakesdk.core {

  class SdkBytes private (val byteArray: Array[Byte]) {
    def asByteArray(): Array[Byte] = byteArray
  }
  object SdkBytes {
    def fromByteArray(b: Array[Byte]): SdkBytes = new SdkBytes(b.clone())
  }
}

package graft.replay.fakesdk.core.exception {

  /** Root of the SDK's exception hierarchy, with the retryability verdict
    * the sender binds. */
  class SdkException(msg: String, retry: Boolean) extends RuntimeException(msg) {
    def retryable(): Boolean = retry
  }
}

package graft.replay.fakesdk.regions {

  final class Region private (val id: String)
  object Region {
    def of(id: String): Region = new Region(id)
  }
}

package graft.replay.fakesdk.services.kinesis {

  import graft.replay.fakesdk.regions.Region
  import graft.replay.fakesdk.services.kinesis.model.{FakeKinesisClient, PutRecordsRequest, PutRecordsResponse}

  trait KinesisClient {
    def putRecords(req: PutRecordsRequest): PutRecordsResponse
  }
  object KinesisClient {
    /** Every client the builder chain has built, with its region id. */
    val built = scala.collection.mutable.ArrayBuffer[(String, FakeKinesisClient)]()
    def builder(): KinesisClientBuilder = new KinesisClientBuilder.Impl
  }

  trait KinesisClientBuilder {
    def region(r: Region): KinesisClientBuilder
    def build(): KinesisClient
  }
  object KinesisClientBuilder {
    private[kinesis] final class Impl extends KinesisClientBuilder {
      private var region: Region = _
      def region(r: Region): KinesisClientBuilder = { region = r; this }
      def build(): KinesisClient = KinesisClient.built.synchronized {
        val c = new FakeKinesisClient(Nil)
        KinesisClient.built += ((region.id, c))
        c
      }
    }
  }
}

package graft.replay.fakesdk.services.kinesis.model {

  import graft.replay.fakesdk.core.SdkBytes
  import graft.replay.fakesdk.services.kinesis.KinesisClient

  final class PutRecordsRequestEntry(val data: SdkBytes, val partitionKey: String)
  object PutRecordsRequestEntry {
    trait Builder {
      def data(b: SdkBytes): Builder
      def partitionKey(k: String): Builder
      def build(): PutRecordsRequestEntry
    }
    private final class BuilderImpl extends Builder {
      private var d: SdkBytes = _
      private var pk: String = _
      def data(b: SdkBytes): Builder = { d = b; this }
      def partitionKey(k: String): Builder = { pk = k; this }
      def build(): PutRecordsRequestEntry = new PutRecordsRequestEntry(d, pk)
    }
    def builder(): Builder = new BuilderImpl
  }

  final class PutRecordsRequest(
      val streamARN: String,
      val records: java.util.List[PutRecordsRequestEntry])
  object PutRecordsRequest {
    /** The SDK's three `records` overloads: a collection, varargs entries
      * and varargs entry-builder consumers. */
    trait Builder {
      def streamARN(a: String): Builder
      def records(r: java.util.Collection[PutRecordsRequestEntry]): Builder
      @scala.annotation.varargs def records(r: PutRecordsRequestEntry*): Builder
      def records(c: java.util.function.Consumer[PutRecordsRequestEntry.Builder]): Builder
      def build(): PutRecordsRequest
    }
    private final class BuilderImpl extends Builder {
      private var arn: String = _
      private var recs: java.util.List[PutRecordsRequestEntry] = _
      def streamARN(a: String): Builder = { arn = a; this }
      def records(r: java.util.Collection[PutRecordsRequestEntry]): Builder = {
        recs = new java.util.ArrayList(r); this
      }
      @scala.annotation.varargs def records(r: PutRecordsRequestEntry*): Builder = {
        recs = java.util.List.of(r: _*); this
      }
      def records(c: java.util.function.Consumer[PutRecordsRequestEntry.Builder]): Builder = {
        val b = PutRecordsRequestEntry.builder(); c.accept(b)
        recs = java.util.List.of(b.build()); this
      }
      def build(): PutRecordsRequest = new PutRecordsRequest(arn, recs)
    }
    def builder(): Builder = new BuilderImpl
  }

  final class PutRecordsResultEntry(err: String) {
    def errorCode(): String = err
  }

  final class PutRecordsResponse(failed: Seq[Int], n: Int) {
    def failedRecordCount(): Integer = Integer.valueOf(failed.size)
    def records(): java.util.List[PutRecordsResultEntry] = {
      val l = new java.util.ArrayList[PutRecordsResultEntry](n)
      (0 until n).foreach(i =>
        l.add(new PutRecordsResultEntry(
          if (failed.contains(i)) "ProvisionedThroughputExceededException" else null)))
      l
    }
  }

  /** Scripted fake client: fails the given indices per successive call;
    * `throwPlan` makes call N THROW instead (request-level failure — the
    * whole putRecords raises rather than reporting per-record errorCodes). */
  final class FakeKinesisClient(failPlan: Seq[Seq[Int]],
      throwPlan: Map[Int, Throwable] = Map.empty) extends KinesisClient {
    val batches = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val partitionKeys = scala.collection.mutable.ArrayBuffer[String]()
    val arns = scala.collection.mutable.ArrayBuffer[String]()
    private var calls = 0

    def putRecords(req: PutRecordsRequest): PutRecordsResponse = {
      throwPlan.get(calls).foreach { t => calls += 1; throw t }
      arns += req.streamARN
      val it = req.records.iterator()
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val e = it.next()
        b += new String(e.data.asByteArray(), java.nio.charset.StandardCharsets.UTF_8)
        partitionKeys += e.partitionKey
      }
      batches += b.result()
      val fails = if (calls < failPlan.size) failPlan(calls) else Nil
      calls += 1
      new PutRecordsResponse(fails, req.records.size())
    }
  }
}
