package graft.replay

import org.apache.spark.sql.SparkSession

/** R13 — the reference's CLI surface (RePlayer.java:64-92), same options
  * and defaults, plus `-inputPath`/`-dryRun` because the offline build has
  * no AWS SDK (a Kinesis RecordSender is a thin adapter over this CLI).
  *
  * Usage: graft.replay.ReplayCli -inputPath file:/data/events/ -dryRun \
  *   [-speedup 6480] [-timestampAttributeName dropoff_datetime] \
  *   [-seek 2024-01-15T00:00:00Z] [-statisticsFrequency 20000] \
  *   [-kinesisSenderThreads 4] [-streamArn arn:aws:kinesis:...]
  */
object ReplayCli {

  def parseArgs(args: Array[String]): (ReplayConfig, Boolean) = {
    var cfg = ReplayConfig()
    var dryRun = false
    var i = 0
    def next(): String = {
      i += 1
      if (i >= args.length)
        throw new IllegalArgumentException(
          s"option ${args(i - 1)} requires a value\n$usage")
      args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "-inputPath" | "--inputPath" => cfg = cfg.copy(inputPath = next())
        case "-s" | "-streamArn" | "--streamArn" =>
          val arn = next()
          require(StreamArn.validate(arn), s"invalid stream ARN: $arn") // R11
          cfg = cfg.copy(streamArn = arn)
        case "-speedup" | "--speedup" => cfg = cfg.copy(speedupFactor = next().toDouble)
        case "-timestampAttributeName" | "--timestampAttributeName" =>
          cfg = cfg.copy(timestampAttributeName = next())
        case "-seek" | "--seek" =>
          cfg = cfg.copy(seek = Some(java.time.Instant.parse(next())))
        case "-statisticsFrequency" | "--statisticsFrequency" =>
          cfg = cfg.copy(statisticsFrequencyMillis = next().toLong)
        case "-readerBufferSize" | "--readerBufferSize" =>
          cfg = cfg.copy(readerBufferSize = next().toInt)
        // accepted for parity (RePlayer.java:27) and ignored: there is no
        // producer queue to size, batched sends and trigger limits bound it
        case "-kinesisProducerBuffer" | "--kinesisProducerBuffer" => next().toInt
        case "-kinesisSenderThreads" | "--kinesisSenderThreads" =>
          cfg = cfg.copy(senderParallelism = next().toInt)
        case "-objectSuffixToSkip" | "--objectSuffixToSkip" =>
          cfg = cfg.copy(objectSuffixToSkip = next())
        case "-dryRun" | "--dryRun" => dryRun = true
        case "-help" | "--help" => println(usage); sys.exit(0)
        case other => throw new IllegalArgumentException(s"unknown option: $other\n$usage")
      }
      i += 1
    }
    (cfg, dryRun)
  }

  val usage: String =
    """ReplayCli -inputPath <hadoop-fs-uri> [-streamArn <arn>] [-dryRun]
      |  [-speedup N] [-timestampAttributeName name] [-seek ISO-8601]
      |  [-statisticsFrequency ms] [-readerBufferSize n]
      |  [-kinesisProducerBuffer n] [-kinesisSenderThreads n]
      |  [-objectSuffixToSkip suffix]""".stripMargin

  def main(args: Array[String]): Unit = {
    val (cfg, dryRun) = parseArgs(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[32]"))
      .appName("graft-replay")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val inner: RecordSender =
      if (dryRun) new DiscardingSender() // counts, discards — a collecting sender would OOM on a real dataset
      else if (cfg.streamArn.isEmpty)
        throw new IllegalArgumentException(s"-streamArn is required unless -dryRun\n$usage")
      else if (KinesisRecordSender.sdkPresent())
        new KinesisRecordSender(cfg.streamArn) // SDK PutRecords, bound once per sender
      else throw new IllegalStateException(
        "AWS Kinesis SDK not on the classpath — submit with " +
          "software.amazon.awssdk:kinesis on --jars, or use -dryRun")
    ReplayStats.configureShared(cfg.statisticsFrequencyMillis, m => println(s"[stats] $m"))
    val t0 = System.nanoTime()
    val sent = ReplayJob.run(spark, cfg, inner)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"replayed $sent events from ${cfg.inputPath} in $sec%.1fs " +
      f"(${if (sec > 0) math.round(sent / sec) else 0}%d events/s)")
    spark.stop()
  }
}
