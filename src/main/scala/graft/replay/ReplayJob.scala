package graft.replay

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}
import java.nio.ByteBuffer
import org.apache.spark.RangePartitioner
import org.apache.spark.rdd.ShuffledRDD
import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer, SerializerInstance}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** The whole replay pipeline, wired like RePlayer.main (SURVEY.md §3.1):
  * a `text` source scan, then one parse-and-seek pass per line feeding a
  * paced sink:
  *
  *   source (R1–R4) → parse (R5–R6) → seek (R7) → order (R8)
  *     → schedule (R6/R9) → paced batched sink (R9–R11) → stats (R12)
  *
  * Ordering contract: total event-time order within each sink partition;
  * cross-partition order is best-effort — same as the reference, whose 4
  * sender threads and random partition keys already destroy global order on
  * the wire (KinesisProducer.java:197-199, SURVEY.md §8.6).
  *
  * Termination (R14): a batch job ends at end-of-input — the semantics of
  * `Trigger.AvailableNow` — with none of the reference's `fill()` hang
  * (SURVEY.md §8.1): "buffer full or source exhausted" is implicit here.
  */
object ReplayJob {

  /** Run the replay: pace each event to its simulated ingestion time and
    * push through the sender in requests of ≤500 records and ≤5 MiB.
    * Sender parallelism = sink partitions (reference: 4 sender threads,
    * RePlayer.java:28).
    *
    * A pass is three Spark jobs:
    *   1. scan and decode the `text` source, then parse and seek each
    *      line in one pass ([[Parse.records]]: one Jackson byte-parser pass
    *      per line), kept as `(event ms, payload bytes)` rows, persisted
    *      `MEMORY_AND_DISK` and folded to the schedule anchor (min event
    *      time) and the row count;
    *   2. the range partitioner's sample of event times, over the cache
    *      (none with one sender; a second sample job re-samples an input
    *      partition holding far more rows than the others);
    *   3. the range shuffle on event ms, sorted within each partition, and
    *      the paced sink (one job, two stages). The shuffle is what
    *      `repartitionAndSortWithinPartitions` builds, but its records go
    *      through [[RecordShuffleSerializer]], not Kryo.
    * The cache is what keeps the whole input from being listed, decoded
    * and parsed once per job; it is dropped when the pass ends, also on
    * failure.
    *
    * Event-time order is the schedule order: `Schedule.ingestionMs` is
    * non-decreasing in event time, so sorting on event ms alone yields
    * the `(ingestion_ms, event ms)` order. Each sink task is one
    * [[Sink.replay]], which computes its records' due times as they
    * arrive, as the streaming path's tasks do. Each task replays a
    * contiguous slice of event time, in event-time order.
    *
    * Pacing sleeps inside sink tasks; with senderParallelism ≪ cores this
    * holds few cores, and at high speedup the sleeps vanish — the
    * reference has the same behavior on its main thread.
    * Returns total records sent. */
  def run(spark: SparkSession, cfg: ReplayConfig, sender: RecordSender,
      nowMs: () => Long = () => System.currentTimeMillis(),
      sleeper: Long => Unit = Thread.sleep): Long = {
    Parse.requireAddressable(cfg.timestampAttributeName)
    val startMs = cfg.ingestionStartMs.getOrElse(System.currentTimeMillis())
    val rows = Parse.records(Source.jsonLines(spark, cfg), cfg.timestampAttributeName, cfg.seek)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (firstMs, count) = rows.aggregate((Long.MaxValue, 0L))(
        (acc, r) => (math.min(acc._1, r._1), acc._2 + 1),
        (a, b) => (math.min(a._1, b._1), a._2 + b._2))
      if (count == 0) 0L else {
        val sentAcc = spark.sparkContext.longAccumulator("records_sent")
        val retryAcc = spark.sparkContext.longAccumulator("send_retries")
        val statsFreq = cfg.statisticsFrequencyMillis
        val speedup = cfg.speedupFactor
        new ShuffledRDD[Long, Array[Byte], Array[Byte]](rows,
            new RangePartitioner(cfg.senderParallelism, rows))
          .setKeyOrdering(Ordering.Long)
          .setSerializer(RecordShuffleSerializer)
          .foreachPartition { it =>
            val (sent, retries) = Sink.replay(it, firstMs, startMs, speedup, statsFreq,
              sender, nowMs, sleeper)
            sentAcc.add(sent)
            retryAcc.add(retries)
          }
        sentAcc.value
      }
    } finally rows.unpersist()
  }
}

/** Shuffle encoding of one replay record: the event ms, then the payload's
  * length and bytes. Kryo, which Spark picks for these types, tags every
  * object with its class and tracks every byte array by reference. */
private[replay] object RecordShuffleSerializer extends Serializer with Serializable {
  override def newInstance(): SerializerInstance = new SerializerInstance {
    private def streamOnly = throw new UnsupportedOperationException("stream-only serializer")
    override def serialize[T: ClassTag](t: T): ByteBuffer = streamOnly
    override def deserialize[T: ClassTag](bytes: ByteBuffer): T = streamOnly
    override def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T = streamOnly

    override def serializeStream(s: OutputStream): SerializationStream = new SerializationStream {
      private val out = new DataOutputStream(s)
      override def writeObject[T: ClassTag](t: T): SerializationStream = {
        t match {
          case ms: java.lang.Long => out.writeLong(ms)
          case payload: Array[Byte] => out.writeInt(payload.length); out.write(payload)
        }
        this
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }

    override def deserializeStream(s: InputStream): DeserializationStream = new DeserializationStream {
      private val in = new DataInputStream(s)
      override def readObject[T: ClassTag](): T = streamOnly
      override def readKey[T: ClassTag](): T = in.readLong().asInstanceOf[T]
      override def readValue[T: ClassTag](): T = {
        val payload = new Array[Byte](in.readInt())
        in.readFully(payload)
        payload.asInstanceOf[T]
      }
      override def close(): Unit = in.close()
    }
  }
}
