package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{BucketIndex, CosineSimilarity, DotProduct, Int8DotProduct, PackInt8, Sha32KgramHashes, ShingleHashes, SrpBuckets, TokenBigrams, UnpackInt8, WinnowSelect}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions, so any session started with
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) can use them from plain SQL:
  *
  * {{{
  *   SELECT cosine_sim(a.embedding, b.embedding)        -- fused cosine
  *   SELECT shingle_hashes(text, 3)                      -- n-gram xxhash64s
  *   SELECT srp_buckets(embedding, 8, 4)                 -- LSH bucket keys
  *   SELECT token_bigrams(text)                          -- adjacent pairs
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, cls: Class[_])(
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))

    register("cosine_sim", classOf[CosineSimilarity])(e =>
      CosineSimilarity(e(0), e(1)))
    register("shingle_hashes", classOf[ShingleHashes])(e =>
      ShingleHashes(e(0), intLit(e(1), "shingle size")))
    register("srp_buckets", classOf[SrpBuckets])(e =>
      SrpBuckets(e(0), intLit(e(1), "tables"), intLit(e(2), "bits")))
    register("token_bigrams", classOf[TokenBigrams])(e => TokenBigrams(e(0)))
    register("dot_product", classOf[DotProduct])(e => DotProduct(e(0), e(1)))
    register("pack_int8", classOf[PackInt8])(e => PackInt8(e(0), e(1)))
    register("unpack_int8", classOf[UnpackInt8])(e => UnpackInt8(e(0), e(1)))
    register("int8_dot", classOf[Int8DotProduct])(e =>
      Int8DotProduct(e(0), e(1)))
    register("bucket_index", classOf[BucketIndex]) { exprs =>
      // bounds must be a foldable numeric array (e.g. array(10.0, 20.0)
      // — DECIMAL literals under ANSI SQL, so coerce per element type)
      import org.apache.spark.sql.types._
      val b = exprs(1)
      if (!b.foldable) throw new IllegalArgumentException(
        s"bucket_index bounds must be a foldable numeric array, got $b")
      val bounds = (b.dataType, b.eval()) match {
        case (ArrayType(et, _), a: org.apache.spark.sql.catalyst.util.ArrayData) =>
          (0 until a.numElements()).map { i =>
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              s"bucket_index bounds must not contain NULL (element $i)")
            et match {
              case DoubleType => a.getDouble(i)
              case FloatType => a.getFloat(i).toDouble
              case dt: DecimalType =>
                a.getDecimal(i, dt.precision, dt.scale).toDouble
              case IntegerType => a.getInt(i).toDouble
              case LongType => a.getLong(i).toDouble
              case other => throw new IllegalArgumentException(
                s"bucket_index bounds must be numeric, got element type $other")
            }
          }
        case other => throw new IllegalArgumentException(
          s"bucket_index bounds must be a numeric array, got $other")
      }
      BucketIndex(exprs(0), bounds)
    }
    register("sha32_kgrams", classOf[Sha32KgramHashes])(e =>
      Sha32KgramHashes(e(0), intLit(e(1), "k")))
    register("winnow_select", classOf[WinnowSelect])(e =>
      WinnowSelect(e(0), intLit(e(1), "window")))
  }
}
