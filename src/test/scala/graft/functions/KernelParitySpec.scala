package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Generated code against interpreted `eval` for every native expression,
  * on the same rows: nulls, zero vectors and scales, NaN, mismatched
  * dimensions, texts shorter than n tokens. `GenerateUnsafeProjection`
  * compiles the expression with no interpreted fallback, so a kernel
  * that is wrong on only one path fails here. Thrown errors compare by
  * class and message. */
class KernelParitySpec extends AnyFunSuite {

  private def floats(xs: Float*): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
  private def longs(xs: Long*): ArrayData = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private val FloatArr = ArrayType(FloatType, containsNull = false)
  private val Nan = Float.NaN

  private val vectors = Seq(floats(0.5f, -0.25f, 0.125f), floats(1f, 2f, 3f),
    floats(0f, 0f, 0f), floats(-0f, 0f, -0f), floats(Nan, 1f, 2f),
    floats(Float.PositiveInfinity, 0f, 1f), floats(3e38f, -3e38f, 1e-45f),
    floats(), floats(1f, 2f), null)
  private val packed = Seq(bytes(1, 2, 3), bytes(127, -127, 0), bytes(-128, 5, 9),
    bytes(), bytes(4, 5), null)
  private val scales = Seq(0.01, 0.5 / 127, 1.0, 0.0, -1.0, Double.NaN, null)
  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "", "one", "one two", "a b c", "  spaced   out   here  ", " lead", "trail ",
    "tab\tis not a separator here", "İSTANBUL ΣΑΣ ΣΑΣ city", "a b a b a b a b",
    "MiXeD CaSe ü é ß", null)

  private def pairs[A](xs: Seq[A], ys: Seq[A]): Seq[Seq[Any]] =
    for (x <- xs; y <- ys) yield Seq(x, y)

  /** A comparable form of a result: arrays as Seqs, floating point as its
    * canonical bits (NaN equals NaN), strings as Java strings. */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(norm(_, et))
    case (b: Array[Byte], _) => b.toSeq
    case (f: Float, _) => java.lang.Float.floatToIntBits(f)
    case (d: Double, _) => java.lang.Double.doubleToLongBits(d)
    case (s: UTF8String, _) => s.toString
    case _ => v
  }

  private def outcome(f: => Any, dt: DataType): Any =
    try norm(f, dt) catch { case e: Exception => (e.getClass, e.getMessage) }

  /** Holds `build`'s expression to one result per row on both paths, with
    * nullable and (on null-free rows) non-nullable inputs; and checks a
    * wrong input type is an analysis error that names the function. */
  private def parity(name: String, types: Seq[DataType], rows: Seq[Seq[Any]])(
      build: Seq[Expression] => Expression): Unit =
    test(s"$name: generated code equals interpreted eval") {
      for (nullable <- Seq(true, false)) {
        val e = build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable) })
        assert(e.checkInputDataTypes().isSuccess)
        val gen = GenerateUnsafeProjection.generate(Seq(e))
        val use = if (nullable) rows else rows.filterNot(_.contains(null))
        assert(use.nonEmpty)
        use.foreach { values =>
          val row = InternalRow.fromSeq(values)
          val interpreted = outcome(e.eval(row), e.dataType)
          val generated = outcome(gen(row).get(0, e.dataType), e.dataType)
          assert(generated == interpreted, s"$name on ${values.mkString("(", ", ", ")")}")
        }
      }
      val wrong = build(types.indices.map(BoundReference(_, BooleanType, nullable = true)))
      wrong.checkInputDataTypes() match {
        case TypeCheckFailure(msg) => assert(msg.startsWith(name), msg)
        case other => fail(s"$name accepted boolean inputs: $other")
      }
    }

  parity("cosine_sim", Seq(FloatArr, FloatArr), pairs(vectors, vectors))(e =>
    CosineSimilarity(e(0), e(1)))
  parity("dot_product", Seq(FloatArr, FloatArr), pairs(vectors, vectors))(e =>
    DotProduct(e(0), e(1)))
  parity("pack_int8", Seq(FloatArr, DoubleType),
    for (v <- vectors; s <- scales) yield Seq(v, s))(e => PackInt8(e(0), e(1)))
  parity("unpack_int8", Seq(BinaryType, DoubleType),
    for (b <- packed; s <- scales) yield Seq(b, s))(e => UnpackInt8(e(0), e(1)))
  parity("int8_dot", Seq(BinaryType, BinaryType), pairs(packed, packed))(e =>
    Int8DotProduct(e(0), e(1)))
  parity("srp_buckets", Seq(FloatArr), vectors.map(Seq(_)))(e =>
    SrpBuckets(e(0), 3, 4))
  parity("bucket_index", Seq(DoubleType),
    Seq(-5.0, 10.0, 10.0001, 20.0, 35.5, 90.1, Double.NaN, Double.NegativeInfinity, null)
      .map(Seq(_)))(e => BucketIndex(e(0), Seq(10.0, 20.0, 20.0, 35.5, 90.0)))
  parity("shingle_hashes", Seq(StringType), texts.map(t => Seq(utf8(t))))(e =>
    ShingleHashes(e(0), 3))
  parity("token_bigrams", Seq(StringType), texts.map(t => Seq(utf8(t))))(e =>
    TokenBigrams(e(0)))
  parity("sha32_minhash_sigs", Seq(StringType), texts.map(t => Seq(utf8(t))))(e =>
    Sha32MinHashSigs(e(0), 3, 16))
  parity("sha32_kgrams", Seq(StringType), texts.map(t => Seq(utf8(t))))(e =>
    Sha32KgramHashes(e(0), 3))
  parity("winnow_select", Seq(ArrayType(LongType, containsNull = false)),
    Seq(longs(), longs(7), longs(5, 5, 5, 5, 5), longs(6, 5, 4, 3, 2, 1),
      longs(1, 9, 1, 9, 1, 9, 1), null).map(Seq(_)))(e => WinnowSelect(e(0), 4))
  private val words = Seq("", "a", "ca", "abc", "teh", "the", "martha", "marhta",
    "dixon", "dicksonx", "İSTANBUL", "x" * 4097, null).map(utf8)
  parity("damerau_levenshtein", Seq(StringType, StringType), pairs(words, words))(e =>
    DamerauLevenshtein(e(0), e(1)))
  parity("jaro_winkler", Seq(StringType, StringType), pairs(words, words))(e =>
    JaroWinkler(e(0), e(1)))
}
