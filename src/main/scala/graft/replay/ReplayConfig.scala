package graft.replay

import java.time.Instant

/** Full configuration surface of the replay job — same knobs and defaults
  * as the reference CLI (SURVEY.md §2A R13; defaults RePlayer.java:20-28).
  *
  * `inputPath` generalizes the reference's (bucketName, objectPrefix) pair:
  * any Hadoop-FS URI works (`s3a://bucket/prefix/`, `file:/...`, local dir).
  */
final case class ReplayConfig(
    inputPath: String = "s3a://aws-bigdata-blog/artifacts/kinesis-analytics-taxi-consumer/taxi-trips.json.lz4/",
    streamArn: String = "",
    speedupFactor: Double = 6480.0, // RePlayer.java:23 (a float there — fractional speedups are legal)
    timestampAttributeName: String = "dropoff_datetime", // RePlayer.java:25
    seek: Option[Instant] = None, // RePlayer.java:49-51
    statisticsFrequencyMillis: Long = 20000L, // RePlayer.java:24
    // Hard capacity of the streaming reorder buffer (RePlayer.java:26, the
    // reference's 100k bounded queue); the batch path has no in-process
    // buffer (Spark's shuffle sorts each hashed sender lane) so it
    // ignores this.
    readerBufferSize: Int = 100000,
    senderParallelism: Int = 4, // RePlayer.java:28 — sink partition count
    objectSuffixToSkip: String = "README.md", // JsonEventS3Iterator.java:71-73
    ingestionStartMs: Option[Long] = None // pin for deterministic tests; None = wall clock
) {
  // speedup 0 (or negative) would otherwise round delta/0 = Infinity into a
  // silently corrupt Long.MaxValue schedule — reject at construction time
  require(speedupFactor > 0, s"speedupFactor must be > 0, got $speedupFactor")
  require(senderParallelism > 0, s"senderParallelism must be > 0, got $senderParallelism")
  // 0 would make every stats-window check fire (now - start >= 0 always)
  // with a divide-by-zero rate — a garbage log line per replayed event
  require(statisticsFrequencyMillis > 0,
    s"statisticsFrequencyMillis must be > 0, got $statisticsFrequencyMillis")
}

/** ARN validation + region extraction (R11, KinesisProducer.java:61-72). */
object StreamArn {
  private val ArnPattern =
    "^arn:aws:kinesis:([a-z0-9-]+):(\\d{12}):stream/([a-zA-Z0-9_.-]+)$".r

  def validate(arn: String): Boolean = ArnPattern.matches(arn)

  /** Region is the 4th ':'-separated field (KinesisProducer.java:69-72). */
  def extractRegion(arn: String): String = arn match {
    case ArnPattern(region, _, _) => region
    case _ => throw new IllegalArgumentException(s"invalid Kinesis stream ARN: $arn")
  }

  def streamName(arn: String): String = arn match {
    case ArnPattern(_, _, name) => name
    case _ => throw new IllegalArgumentException(s"invalid Kinesis stream ARN: $arn")
  }
}
