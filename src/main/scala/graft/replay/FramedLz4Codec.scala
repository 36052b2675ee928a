package graft.replay

import java.io.{BufferedInputStream, EOFException, FilterInputStream, IOException, InputStream, OutputStream}

import net.jpountz.lz4.LZ4FrameInputStream
import org.apache.commons.compress.compressors.{CompressorException, CompressorStreamFactory}
import org.apache.commons.compress.compressors.lz4.{FramedLZ4CompressorInputStream, FramedLZ4CompressorOutputStream}
import org.apache.hadoop.conf.{Configurable, Configuration}
import org.apache.hadoop.io.compress.{CompressionCodec, CompressionInputStream, CompressionOutputStream, Compressor, Decompressor, DoNotPool, Lz4Codec}

/** R2 — content-based decompression auto-detect for `.lz4` objects.
  *
  * The reference opens every object through
  * `CompressorStreamFactory().createCompressorInputStream(stream)`
  * (JsonEventS3Iterator.java:162-167): the format is detected from the
  * stream's MAGIC BYTES, not the file name, and its default dataset
  * (`taxi-trips.json.lz4`, RePlayer.java:22) is *framed* LZ4 — a format
  * Hadoop's extension-mapped `Lz4Codec` (block format) cannot read.
  *
  * Spark-first mapping: Hadoop codecs are chosen by extension, so this
  * codec takes over the `.lz4` extension (registered last in
  * `io.compression.codecs`, so it wins the factory's extension map) and
  * re-creates the reference's content detection INSIDE the codec. Leading
  * skippable frames (magic 0x184D2A5?, which LZ4 and zstd share and which
  * carry no data in either) are skipped first, so the first real frame's
  * magic picks the route; if no compressor magic follows them, the file
  * raises `IOException`. Routes, tried in this order:
  *
  *  1. LZ4 frame magic → decoded frame by frame, each frame routed by its
  *     own header (magic, FLG and BD bytes; see [[FramedLz4Codec.lz4JavaReads]]):
  *     - version 01, independent blocks, no dictionary ID, reserved bits
  *       clear, a 64 KiB–4 MiB block size → lz4-java's
  *       `LZ4FrameInputStream`, reading that one frame. This is what the
  *       `lz4` CLI, lz4-java and commons-compress write by default, and
  *       lz4-java (Spark's own shuffle codec) decodes it ~25× faster than
  *       commons-compress's pure-Java decoder.
  *     - any other LZ4 frame (linked blocks, dictionary ID, …), which
  *       lz4-java rejects → commons-compress's
  *       `FramedLZ4CompressorInputStream`, reading that one frame.
  *     - skippable frames are skipped; bytes after a frame that do not
  *       start a frame raise `IOException`.
  *  2. any other compressor magic (gzip, bzip2, zstd, xz… on a mislabeled
  *     file) → commons-compress's `CompressorStreamFactory`;
  *  3. no known magic, but a plausible length header → Hadoop's
  *     block-format [[Lz4Codec]], the other format `.lz4` commonly denotes;
  *  4. anything else → passed through as plain text.
  *
  * A corrupt LZ4 stream raises `IOException`, which `ignoreCorruptFiles`
  * turns into a skipped file. That includes a first frame whose header
  * does not parse: through the factory, that header error sent the stream
  * on to the sniff and the pass-through, which replayed the compressed
  * bytes as text. lz4-java also checks a frame's declared content size,
  * which commons-compress skips, so a frame whose size field disagrees
  * with its content raises too, as it does in the `lz4` CLI.
  *
  * Memory: while it reads a frame, lz4-java holds two buffers of the
  * frame's maximum block size — 8 MiB at the 4 MiB block size that the
  * `lz4` CLI and lz4-java write by default — allocated afresh per frame.
  * Commons-compress holds a 64 KiB window. One stream is open per task.
  * The per-frame allocation costs about 1 ms, so a file cut into frames of
  * under ~32 KiB of text each decodes slower than through commons-compress
  * (4 KiB frames: ~4 vs ~30 MB/s); single-frame files and frames of
  * 64 KiB or more decode faster.
  *
  * Scale note: like every non-splittable codec, a compressed object is one
  * task — exactly the reference's per-object sequential read, but across
  * many objects in parallel. The codec holds no state; executors each
  * instantiate their own via ReflectionUtils.
  */
class FramedLz4Codec extends CompressionCodec with Configurable {

  private var conf: Configuration = new Configuration(false)
  override def setConf(c: Configuration): Unit = conf = c
  override def getConf: Configuration = conf

  override def getDefaultExtension: String = ".lz4"

  override def createInputStream(in: InputStream): CompressionInputStream = {
    // mark/reset-capable stream so the factory can sniff then rewind
    val buffered = new BufferedInputStream(in, FramedLz4Codec.BufferBytes)
    // LZ4 and zstd share the skippable-frame magic, which the factory
    // reads as zstd: skip leading skippable frames (they carry no data in
    // either format) so the first real frame's magic picks the decoder
    val skipped = FramedLz4Codec.skipSkippableFrames(buffered)
    try {
      val detected = CompressorStreamFactory.detect(buffered) match { // magic bytes
        case CompressorStreamFactory.LZ4_FRAMED =>
          new FramedLz4Codec.FrameSequenceInputStream(buffered)
        // decompressConcatenated: a multi-member file (`cat a.gz b.gz`)
        // must decode ALL members; the factory default stops at the first
        // member's end and silently truncates the rest of the object
        // (data-loss-shaped, no error raised)
        case format =>
          new CompressorStreamFactory(true).createCompressorInputStream(format, buffered)
      }
      new FramedLz4Codec.DelegatedInputStream(detected, buffered)
    } catch {
      case e: CompressorException if skipped =>
        throw new IOException("skippable frames not followed by a compressed frame", e)
      case _: CompressorException =>
        if (FramedLz4Codec.looksLikeBlockLz4(buffered,
            FramedLz4Codec.maxBlockBytes(conf))) {
          // plausible Hadoop block-LZ4 wire format (length-prefixed, no
          // magic — sniffed structurally, see looksLikeBlockLz4)
          val block = new Lz4Codec()
          block.setConf(conf)
          block.createInputStream(buffered)
        } else {
          // reference parity: "probably just uncompressed"
          // (JsonEventS3Iterator.java:164-166) — a plaintext file named
          // `*.lz4` must replay, not throw at read time and be silently
          // dropped by ignoreCorruptFiles (data-loss-shaped)
          //
          // One misroute hides here: a block-LZ4 file written by a cluster
          // with io.compression.codec.lz4.buffersize above this reader's
          // ceiling fails the structural sniff and lands in pass-through,
          // where its binary rows are then dropped as malformed JSON. Make
          // that observable: if the leading 8 bytes parse as internally
          // consistent lengths whose only defect is exceeding the ceiling,
          // warn with the remedy before passing through.
          FramedLz4Codec.warnIfPlausibleOverCeiling(buffered,
            FramedLz4Codec.maxBlockBytes(conf))
          new FramedLz4Codec.DelegatedInputStream(buffered, buffered)
        }
    }
  }

  /** Pooled (possibly null) decompressors are inert here — the inner
    * streams decompress for themselves. */
  override def createInputStream(in: InputStream, d: Decompressor): CompressionInputStream =
    createInputStream(in)

  override def createOutputStream(out: OutputStream): CompressionOutputStream =
    new FramedLz4Codec.DelegatedOutputStream(out)

  override def createOutputStream(out: OutputStream, c: Compressor): CompressionOutputStream =
    createOutputStream(out)

  override def getCompressorType: Class[_ <: Compressor] =
    classOf[FramedLz4Codec.InertCompressor]
  override def createCompressor(): Compressor = new FramedLz4Codec.InertCompressor
  override def getDecompressorType: Class[_ <: Decompressor] =
    classOf[FramedLz4Codec.InertDecompressor]
  override def createDecompressor(): Decompressor = new FramedLz4Codec.InertDecompressor
}

object FramedLz4Codec {

  private val BufferBytes = 64 * 1024

  /** Largest plausible original-chunk length in a block-LZ4 header. Hadoop
    * writes io.compression.codec.lz4.buffersize-sized chunks (256 KiB by
    * default); the ceiling follows the CONFIGURED buffer size so a cluster
    * writing outsized blocks still routes to the block decoder (never
    * below 64 MiB, never at/above 2^31 where plain-text leading bytes —
    * e.g. `{"ty` = 0x7B227479 — would start passing as lengths). */
  private val DefaultMaxBlockBytes = 64 * 1024 * 1024
  private def maxBlockBytes(conf: Configuration): Long = {
    val configured =
      if (conf == null) 0L
      else conf.getLong("io.compression.codec.lz4.buffersize", 0L)
    math.min(Int.MaxValue.toLong - 1,
      math.max(DefaultMaxBlockBytes.toLong, 2L * configured))
  }

  /** The two big-endian int32 lengths that would open a Hadoop block-LZ4
    * stream — [origLen][compLen][chunk…], no magic bytes — peeked from the
    * head of `in`; None when it holds fewer than 8 bytes. */
  private def blockHeader(in: BufferedInputStream): Option[(Long, Long)] = {
    in.mark(16)
    val hdr = in.readNBytes(8)
    in.reset()
    def be(o: Int): Long =
      ((hdr(o) & 0xffL) << 24) | ((hdr(o + 1) & 0xffL) << 16) |
        ((hdr(o + 2) & 0xffL) << 8) | (hdr(o + 3) & 0xffL)
    if (hdr.length < 8) None else Some((be(0), be(4)))
  }

  /** LZ4's worst-case expansion: a chunk of `orig` bytes compresses to at
    * most this many. */
  private def fitsLz4Bound(orig: Long, comp: Long): Boolean =
    comp > 0 && comp <= orig + orig / 250 + 64

  /** Structural sniff for Hadoop's block-LZ4 wire format: both lengths
    * positive, origLen bounded, and compLen ≤ LZ4's worst-case expansion
    * of origLen. Text fails this: e.g. a JSON line's first 4 bytes
    * (`{"ty` = 0x7B227479) parse as ~2.07e9 > the ceiling — so
    * unrecognized content falls through to pass-through, matching the
    * reference's plain-text branch. */
  private def looksLikeBlockLz4(in: BufferedInputStream, ceiling: Long): Boolean =
    blockHeader(in).exists { case (orig, comp) =>
      orig > 0 && orig <= ceiling && fitsLz4Bound(orig, comp) }

  /** The pass-through branch's observability hook: true (and logged) when
    * the head of the stream is length-consistent block-LZ4 whose original
    * length merely exceeds `ceiling` — i.e. the one case where pass-through
    * is plausibly a misroute rather than genuine plain text. */
  private[replay] def warnIfPlausibleOverCeiling(
      in: BufferedInputStream, ceiling: Long): Boolean =
    blockHeader(in).exists { case (orig, comp) =>
      // consistent as block-LZ4 except for the ceiling — but only within a
      // bounded band above it (a writer buffersize within 8× of the
      // reader's expectation is the plausible misconfiguration). The band
      // cap matters for precision: printable-ASCII text decodes both words
      // to ~0.5–2.1e9 and would otherwise trip the length test ~half the
      // time, while real block-LZ4 headers in the band keep their leading
      // byte non-printable (512 MiB = 0x20000000 is exactly where ASCII
      // begins)
      val suspicious = orig > ceiling &&
        orig <= math.min(8L * ceiling, Int.MaxValue.toLong - 1) &&
        fitsLz4Bound(orig, comp)
      if (suspicious)
        org.slf4j.LoggerFactory.getLogger(classOf[FramedLz4Codec]).warn(
          s"no compressor magic matched; passing stream through as plain " +
            s"text, but its first 8 bytes parse as a block-LZ4 header with " +
            s"original length $orig above the configured ceiling $ceiling " +
            s"— if this file was written by a cluster with a larger " +
            s"io.compression.codec.lz4.buffersize, set that key on the " +
            s"reader to at least half its value or its rows will be " +
            s"dropped as malformed")
      suspicious
    }

  /** Hadoop config key listing extra codecs; appending this codec makes it
    * the `.lz4` handler (extension map is last-write-wins). */
  val ConfKey = "io.compression.codecs"

  /** Idempotently register this codec on a Hadoop configuration. */
  def register(conf: Configuration): Unit = {
    val cls = classOf[FramedLz4Codec].getName
    val existing = Option(conf.get(ConfKey)).filter(_.nonEmpty)
    if (!existing.exists(_.contains(cls)))
      conf.set(ConfKey, existing.fold(cls)(e => s"$e,$cls"))
  }

  private val FrameMagic = 0x184d2204 // little-endian on the wire
  private val SkippableMagic = 0x184d2a50 // low nibble free: 0x184D2A5?
  /** Magic, FLG and BD: the bytes a frame's route is chosen from. */
  private val FrameHeadBytes = 6

  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xff) << 24)

  /** Skips the skippable frames (magic 0x184D2A5?, a 32-bit length, then
    * that many bytes) at the head of `in`; true when there was one. LZ4 and
    * zstd share this frame type, and it carries no data in either. */
  private def skipSkippableFrames(in: BufferedInputStream): Boolean = {
    def atSkippable(): Boolean = {
      in.mark(4)
      val magic = in.readNBytes(4)
      in.reset()
      magic.length == 4 && (le32(magic, 0) & 0xfffffff0) == SkippableMagic
    }
    var skipped = false
    while (atSkippable()) {
      in.skipNBytes(4)
      val size = in.readNBytes(4)
      if (size.length < 4) throw new EOFException("truncated skippable frame")
      in.skipNBytes(le32(size, 0) & 0xffffffffL)
      skipped = true
    }
    skipped
  }

  /** True when lz4-java reads the LZ4 frame that starts with `head` (its
    * magic, FLG and BD bytes): FLG version 01, block independence set,
    * dictionary-ID and reserved bits clear, and a BD byte with clear
    * reserved bits naming a 64 KiB–4 MiB block size. lz4-java throws on
    * every other header, so any other frame goes to commons-compress. */
  private[replay] def lz4JavaReads(head: Array[Byte]): Boolean =
    head.length >= FrameHeadBytes && le32(head, 0) == FrameMagic && {
      val flg = head(4) & 0xff
      val bd = head(5) & 0xff
      (flg >>> 6) == 1 && (flg & 0x20) != 0 && (flg & 0x03) == 0 &&
        (bd & 0x0f) == 0 && ((bd >>> 4) & 7) >= 4
    }

  /** Decodes a stream of LZ4 frames one frame at a time, each by the
    * decoder its header calls for ([[lz4JavaReads]]). Skippable frames are
    * skipped; bytes after a frame that do not start a frame raise
    * `IOException`, as commons-compress does for a concatenated stream.
    * `in` must be positioned at a frame magic. */
  private final class FrameSequenceInputStream(in: BufferedInputStream)
      extends InputStream {
    // frame decoders close their input; `in` belongs to the caller
    private val unclosable = new FilterInputStream(in) {
      override def close(): Unit = ()
    }
    private var frame: InputStream = nextFrame()
    private val one = new Array[Byte](1)

    /** The decoder for the next frame, null at the end of the stream. */
    private def nextFrame(): InputStream = {
      skipSkippableFrames(in)
      in.mark(FrameHeadBytes)
      val head = in.readNBytes(FrameHeadBytes)
      in.reset()
      if (head.isEmpty) null
      else if (head.length >= 4 && le32(head, 0) == FrameMagic) {
        if (lz4JavaReads(head)) new LZ4FrameInputStream(unclosable, true)
        else new FramedLZ4CompressorInputStream(unclosable, false)
      } else throw new IOException("LZ4 frame stream followed by garbage")
    }

    override def read(): Int = if (read(one, 0, 1) < 0) -1 else one(0) & 0xff

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else {
        var n = -1
        while (n < 0 && frame != null) {
          n = frame.read(b, off, len)
          if (n < 0) { frame.close(); frame = nextFrame() }
        }
        n
      }

    override def close(): Unit = if (frame != null) { frame.close(); frame = null }
  }

  /** CompressionInputStream view over an already-decompressing stream.
    * `raw` (the underlying file stream) goes to super for position/close;
    * reads come from `decompressed`. */
  private final class DelegatedInputStream(decompressed: InputStream, raw: InputStream)
      extends CompressionInputStream(raw) {
    override def read(): Int = decompressed.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      decompressed.read(b, off, len)
    override def resetState(): Unit =
      throw new UnsupportedOperationException("not a splittable codec")
    override def close(): Unit =
      try decompressed.close() finally super.close()
  }

  /** CompressionOutputStream writing the LZ4 *frame* format — what the
    * reference's datasets actually contain. */
  private final class DelegatedOutputStream(raw: OutputStream)
      extends CompressionOutputStream(raw) {
    private val lz4 = new FramedLZ4CompressorOutputStream(raw)
    override def write(b: Int): Unit = lz4.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      lz4.write(b, off, len)
    override def finish(): Unit = lz4.finish()
    override def resetState(): Unit =
      throw new UnsupportedOperationException("not a splittable codec")
    override def close(): Unit =
      try lz4.close() finally super.close()
  }

  /** The codec pool insists on (de)compressor instances even though the
    * delegated streams do all the work — these satisfy the contract and
    * must never be asked to actually (de)compress. */
  @DoNotPool
  final class InertDecompressor extends Decompressor {
    override def setInput(b: Array[Byte], off: Int, len: Int): Unit = ()
    override def needsInput(): Boolean = true
    override def setDictionary(b: Array[Byte], off: Int, len: Int): Unit = ()
    override def needsDictionary(): Boolean = false
    override def finished(): Boolean = false
    override def decompress(b: Array[Byte], off: Int, len: Int): Int =
      throw new UnsupportedOperationException("stream-delegated codec")
    override def getRemaining: Int = 0
    override def reset(): Unit = ()
    override def end(): Unit = ()
  }

  @DoNotPool
  final class InertCompressor extends Compressor {
    override def setInput(b: Array[Byte], off: Int, len: Int): Unit = ()
    override def needsInput(): Boolean = true
    override def setDictionary(b: Array[Byte], off: Int, len: Int): Unit = ()
    override def getBytesRead: Long = 0L
    override def getBytesWritten: Long = 0L
    override def finish(): Unit = ()
    override def finished(): Boolean = false
    override def compress(b: Array[Byte], off: Int, len: Int): Int =
      throw new UnsupportedOperationException("stream-delegated codec")
    override def reset(): Unit = ()
    override def end(): Unit = ()
    override def reinit(c: Configuration): Unit = ()
  }
}
