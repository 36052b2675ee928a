package graft.replay

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** R1–R4 — the scan side of the replay pipeline.
  *
  * The reference lists an S3 prefix (paginated ListObjectsV2,
  * JsonEventS3Iterator.java:61-62), opens objects sequentially, auto-detects
  * compression (JsonEventS3Iterator.java:162-167), splits on newlines, and
  * skips objects by suffix (JsonEventS3Iterator.java:139-143).
  *
  * Spark-first mapping: the `text` file source does listing, codec
  * resolution, and line splitting inside FileSourceScanExec — distributed
  * over executors instead of one reader thread. Codec choice is by
  * extension (Hadoop CompressionCodecFactory), with the reference's
  * magic-byte content detection re-created inside [[FramedLz4Codec]] for
  * the ambiguous `.lz4` extension (framed vs block format). The suffix
  * anti-filter is applied at file-listing time (a negative filter, which
  * `pathGlobFilter` — positive-only — can't express), so skipped objects
  * are never opened, matching the reference.
  */
object Source {

  /** List files under `path` (any Hadoop FS), dropping suffix-skipped ones.
    * Listing order is lexicographic, like ListObjectsV2.
    *
    * The suffix matches against the DECODED full path — reference parity
    * with `key.endsWith(suffix)` (JsonEventS3Iterator.java:139-143), which
    * operates on the whole object key and so supports suffixes spanning
    * '/' (e.g. `meta/README.md`); a name-only match would silently skip
    * nothing for those. An empty suffix skips nothing (endsWith("") is
    * vacuously true of every path — "skip everything" can never be the
    * intent of an empty CLI value). The streaming path applies the same
    * decoded-path semantics (StreamingReplay.run). */
  def listFiles(spark: SparkSession, path: String, suffixToSkip: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    // plain listStatus, not listFiles: listFiles builds a LocatedFileStatus
    // per file, and on the local filesystem without native Hadoop each one
    // reads its permissions by forking a shell command. listStatus of a
    // file lists the file itself, as listFiles does.
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else if (f.isFile &&
          !(suffixToSkip.nonEmpty && f.getPath.toUri.getPath.endsWith(suffixToSkip)))
        out += f.getPath.toString
    }
    walk(p)
    out.sorted.toSeq
  }

  /** One row per line, column `value: String` — payload kept verbatim
    * (critical for byte-exact replay; `spark.read.json` would re-serialize).
    * Unreadable files are skipped like the reference's object-level skip
    * (JsonEventS3Iterator.java:151-160) via ignoreCorruptFiles. The
    * content-sniffing [[FramedLz4Codec]] handles the reference's framed
    * `.lz4` datasets (R2); other extensions resolve to stock Hadoop codecs. */
  def jsonLines(spark: SparkSession, cfg: ReplayConfig): DataFrame = {
    FramedLz4Codec.register(spark.sparkContext.hadoopConfiguration)
    val files = listFiles(spark, cfg.inputPath, cfg.objectSuffixToSkip)
    require(files.nonEmpty, s"no input files under ${cfg.inputPath}")
    spark.read
      .option("ignoreCorruptFiles", "true")
      .text(files: _*)
  }
}
