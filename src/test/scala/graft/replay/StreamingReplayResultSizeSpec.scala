package graft.replay

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming replay under a small `spark.driver.maxResultSize`. The limit
  * is checked against the summed results of one job's tasks, so this suite
  * has a session of its own: 1 MiB sits above one partition's rows and
  * below those of `defaultParallelism` partitions together. */
class StreamingReplayResultSizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-result-size-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.maxResultSize", "1m")
    // below the 4 MiB open cost: every file is a partition of its own
    .config("spark.sql.files.maxPartitionBytes", "1m")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming replay completes when a partition fits maxResultSize but defaultParallelism partitions do not") {
    spark.sparkContext.setLogLevel("WARN")
    val files = 6
    val perFile = 1200
    val rng = new scala.util.Random(11)
    val dir = Files.createTempDirectory("replay_result_size")
    for (k <- 0 until files) {
      // event time = id seconds, ids interleaved across files
      val lines = (0 until perFile).map { l =>
        val id = l * files + k
        val ts = java.time.Instant.ofEpochSecond(1704067200L + id)
        s"""{"id":$id,"dropoff_datetime":"$ts","pad":"${rng.alphanumeric.take(200).mkString}"}"""
      }
      Files.write(dir.resolve(f"part-$k%02d.jsonl"), lines.mkString("\n").getBytes(UTF_8))
    }
    val n = files * perFile
    // the fixture is sized to matter: one job over several partitions'
    // lines trips the limit
    val e = intercept[SparkException](
      spark.read.text(dir.toString).rdd.map(_.getString(0)).collect())
    assert(e.getMessage.contains("maxResultSize"), e.getMessage)
    assert(spark.sparkContext.defaultParallelism > 1)

    val cfg = ReplayConfig(inputPath = dir.toString, speedupFactor = 60000L,
      ingestionStartMs = Some(0L), senderParallelism = 2)
    CollectingSender.clear()
    val sent = StreamingReplay.run(spark, cfg, new CollectingSender(),
      nowMs = () => Long.MaxValue, sleeper = _ => ())
    assert(sent == n)
    val ids = CollectingSender.payloads.map(p =>
      """"id":(\d+)""".r.findFirstMatchIn(p).get.group(1).toInt)
    assert(ids.sorted == (0 until n))
  }
}
