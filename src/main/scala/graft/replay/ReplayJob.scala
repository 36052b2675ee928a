package graft.replay

import java.io.{DataInputStream, DataOutputStream, InputStream, OutputStream}
import java.nio.ByteBuffer
import org.apache.spark.Partitioner
import org.apache.spark.rdd.ShuffledRDD
import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer, SerializerInstance}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.hash.Murmur3_x86_32
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
    * Sender parallelism = sink partitions, called lanes here (reference: 4
    * sender threads, RePlayer.java:28).
    *
    * A pass is one Spark job of two stages:
    *   1. scan and decode the `text` source, parse and seek each line in
    *      one pass ([[Parse.records]]: one Jackson byte-parser pass per
    *      line), and write the shuffle of `(event ms, payload bytes)`
    *      records, after which each task appends its anchor records;
    *   2. per lane, sort the records on event ms and run the paced sink.
    * The shuffle is what `repartitionAndSortWithinPartitions` builds, but
    * its records go through [[RecordShuffleSerializer]], not Kryo. Nothing
    * is persisted.
    *
    * Lanes: [[LanePartitioner]] sends a record to a well-mixed hash of its
    * event ms modulo the lane count, so equal event times never split
    * across lanes, and every lane holds an interleaved share of the whole
    * time span. Under pacing all lanes send at once, as the reference's
    * sender threads drain one queue together (KinesisProducer.java:104-130).
    *
    * Anchor: the schedule is anchored at the minimum event time of the
    * whole input. Each map task tracks its own minimum and, after its last
    * record, appends one anchor record per lane with the key
    * [[LanePartitioner.anchorKey]] and its minimum as an 8-byte payload.
    * Anchor keys lie below every event ms, so they sort first in their
    * lane, and each sink task takes the minimum over its leading anchor
    * records as the anchor before it replays the rest. Every non-empty map
    * task reaches every lane, so each lane sees the global minimum; a task
    * retry rebuilds the same anchors. Anchor records are never sent.
    *
    * Event-time order is the schedule order: `Schedule.ingestionMs` is
    * non-decreasing in event time, so sorting on event ms alone yields
    * the `(ingestion_ms, event ms)` order. Each sink task is one
    * [[Sink.replay]], which computes its records' due times as they
    * arrive, as the streaming path's tasks do.
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
    val lanes = new LanePartitioner(cfg.senderParallelism)
    val records = Parse.records(Source.jsonLines(spark, cfg), cfg.timestampAttributeName, cfg.seek)
      .mapPartitions(lanes.withAnchors)
    val sentAcc = spark.sparkContext.longAccumulator("records_sent")
    val retryAcc = spark.sparkContext.longAccumulator("send_retries")
    val statsFreq = cfg.statisticsFrequencyMillis
    val speedup = cfg.speedupFactor
    new ShuffledRDD[Long, Array[Byte], Array[Byte]](records, lanes)
      .setKeyOrdering(Ordering.Long)
      .setSerializer(RecordShuffleSerializer)
      .foreachPartition { it =>
        val lane = it.buffered
        val firstMs = LanePartitioner.takeAnchors(lane)
        val (sent, retries) = Sink.replay(lane, firstMs, startMs, speedup, statsFreq,
          sender, nowMs, sleeper)
        sentAcc.add(sent)
        retryAcc.add(retries)
      }
    sentAcc.value
  }
}

/** The batch path's lanes: an event goes to `mix(event ms) mod lanes`, and
  * lane `l`'s anchor key to lane `l`. `mix` is Murmur3 of the whole long,
  * with the seed of Spark's `hash`. `Long.hashCode mod 4` would send every
  * second-aligned event time of a span under 49 days to one lane: 1000 is
  * a multiple of 8, and the high word barely changes. */
private[replay] final class LanePartitioner(lanes: Int) extends Partitioner {
  override def numPartitions: Int = lanes
  override def getPartition(key: Any): Int = key.asInstanceOf[Long] match {
    case ms if LanePartitioner.isAnchor(ms) => (ms - Long.MinValue).toInt
    case ms => Math.floorMod(Murmur3_x86_32.hashLong(ms, 42), lanes)
  }

  /** The records of one map task, then, if there were any, one anchor
    * record per lane carrying the task's minimum event ms. */
  def withAnchors(records: Iterator[(Long, Array[Byte])]): Iterator[(Long, Array[Byte])] = {
    var minMs = Long.MaxValue
    // `++` takes its argument by name: the anchors are built once the
    // records are drained
    records.map { r => if (r._1 < minMs) minMs = r._1; r } ++ {
      if (minMs == Long.MaxValue) Iterator.empty
      else {
        val payload = ByteBuffer.allocate(8).putLong(minMs).array()
        Iterator.tabulate(lanes)(l => (LanePartitioner.anchorKey(l), payload))
      }
    }
  }
}

private[replay] object LanePartitioner {
  /** Event ms are floors of event microseconds, so at least
    * `Long.MinValue / 1000 - 1`: far above every anchor key. */
  def anchorKey(lane: Int): Long = Long.MinValue + lane
  def isAnchor(key: Long): Boolean = key <= Long.MinValue + Int.MaxValue

  /** Takes the anchor records at the head of a sorted lane and returns the
    * least minimum they carry: the whole input's minimum event ms. */
  def takeAnchors(lane: BufferedIterator[(Long, Array[Byte])]): Long = {
    var firstMs = Long.MaxValue
    while (lane.hasNext && isAnchor(lane.head._1))
      firstMs = math.min(firstMs, ByteBuffer.wrap(lane.next()._2).getLong)
    firstMs
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
