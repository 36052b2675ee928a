package graft.replay

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import net.jpountz.lz4.LZ4FrameOutputStream
import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream
import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream.{BlockSize, Parameters}
import org.scalatest.funsuite.AnyFunSuite

/** R2 at stream level: which decoder reads each LZ4 frame, and that every
  * route decodes byte-exactly or fails with an `IOException`. */
class FramedLz4CodecSpec extends AnyFunSuite {
  import FramedLz4CodecSpec._

  private def decode(file: Array[Byte]): Array[Byte] = {
    val in = new FramedLz4Codec().createInputStream(new ByteArrayInputStream(file))
    try in.readAllBytes() finally in.close()
  }

  /** Over 64 KiB, so every frame below holds several blocks. */
  private val data = text(lines(0, 2000))

  test("an lz4-java frame with block and content checksums takes the lz4-java route, byte-exactly") {
    val frame = lz4Java(data, FLG.Bits.BLOCK_CHECKSUM, FLG.Bits.CONTENT_CHECKSUM)
    assert(FramedLz4Codec.lz4JavaReads(frame))
    assert(decode(frame).sameElements(data))
    // commons-compress's default frame (independent blocks) goes there too
    val commonsDefault = new ByteArrayOutputStream()
    val f = new FramedLZ4CompressorOutputStream(commonsDefault)
    f.write(data); f.close()
    assert(FramedLz4Codec.lz4JavaReads(commonsDefault.toByteArray))
  }

  test("a linked-block frame takes the commons-compress route, byte-exactly") {
    val frame = linked(data)
    assert(!FramedLz4Codec.lz4JavaReads(frame))
    assert(decode(frame).sameElements(data))
  }

  test("independent, skippable, linked and independent frames in one file decode every line in order") {
    val parts = Seq(lines(0, 700), lines(700, 700), lines(1400, 700))
    val file = lz4Java(text(parts(0)), FLG.Bits.CONTENT_CHECKSUM) ++ Skippable ++
      linked(text(parts(1))) ++ lz4Java(text(parts(2)))
    assert(new String(decode(file), UTF_8).split("\n").toSeq == parts.flatten)
  }

  test("a corrupted content checksum raises IOException on both routes") {
    for (frame <- Seq(lz4Java(data, FLG.Bits.CONTENT_CHECKSUM), linked(data))) {
      val bad = frame.clone()
      bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x5a).toByte // last byte of the checksum
      intercept[IOException](decode(bad))
    }
  }

  test("bytes after the last frame that do not start a frame raise IOException") {
    val frame = lz4Java(data)
    for (tail <- Seq("garbage\n".getBytes(UTF_8), Array[Byte](1, 2)))
      intercept[IOException](decode(frame ++ tail))
    // a trailing skippable frame is not garbage
    assert(decode(frame ++ Skippable).sameElements(data))
  }

  test("a first frame whose header is corrupt raises IOException, not a pass-through") {
    val bad = lz4Java(data)
    bad(6) = (bad(6) ^ 1).toByte // header checksum
    intercept[IOException](decode(bad))
  }

  test("a zstd stream behind a leading skippable frame still decodes as zstd") {
    val out = new ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(out)
    z.write(data); z.close()
    assert(decode(Skippable ++ out.toByteArray).sameElements(data))
  }

  test("skippable frames followed by no compressed frame raise IOException") {
    intercept[IOException](decode(Skippable ++ "plain text\n".getBytes(UTF_8)))
  }

  test("a frame whose declared content size disagrees with its content raises IOException") {
    val out = new ByteArrayOutputStream()
    val f = new LZ4FrameOutputStream(out, BLOCKSIZE.SIZE_64KB, data.length + 5L,
      FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_SIZE)
    f.write(data); f.close()
    intercept[IOException](decode(out.toByteArray))
  }
}

object FramedLz4CodecSpec {
  def lines(from: Int, n: Int): Seq[String] = (from until from + n).map(i =>
    f"""{"id":$i,"dropoff_datetime":"2024-01-01T${i / 3600 % 24}%02d:${i / 60 % 60}%02d:${i % 60}%02dZ","note":"${"ab" * (i % 40)}"}""")

  def text(ls: Seq[String]): Array[Byte] = ls.map(_ + "\n").mkString.getBytes(UTF_8)

  /** One frame as lz4-java writes it: independent 64 KiB blocks plus `bits`. */
  def lz4Java(data: Array[Byte], bits: FLG.Bits*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val f = new LZ4FrameOutputStream(out, BLOCKSIZE.SIZE_64KB, (FLG.Bits.BLOCK_INDEPENDENCE +: bits): _*)
    f.write(data); f.close()
    out.toByteArray
  }

  /** One linked-block frame with a content checksum, which lz4-java cannot read. */
  def linked(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val f = new FramedLZ4CompressorOutputStream(out, new Parameters(BlockSize.K64, true, false, true))
    f.write(data); f.close()
    out.toByteArray
  }

  /** A skippable frame holding three bytes. */
  val Skippable: Array[Byte] = Array(0x50, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 7, 7, 7).map(_.toByte)
}
