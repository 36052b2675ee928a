package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, LongType}

// Vector kernels. Each expression here is evaluated by one kernel, its
// `compute` method ([[Kernel]]): eval calls it and the generated code is
// one call to it, so there is no second, Java-string copy of the loop.

private object Vectors {
  val Floats: DataType = ArrayType(FloatType)

  /** The shared length of two vectors; a mismatch (two embedding models,
    * a corrupt row) fails loudly, since truncating to the shorter vector
    * would rank with a plausible but wrong similarity. */
  def sameDims(name: String, what: String, nx: Int, ny: Int): Int = {
    if (nx != ny) throw new IllegalArgumentException(
      s"$name: $what dimensions differ ($nx vs $ny)")
    nx
  }
}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns (SURVEY.md §2B X27 hot path).
  *
  * The composed form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — allocates
  * an intermediate array and evaluates a boxed lambda per element outside
  * whole-stage codegen. This kernel is a single fused primitive loop (dot
  * and both norms in one pass), keeping the similarity scan inside
  * WholeStageCodegen. Identical left-to-right summation order, so results
  * are bit-equal to the composed form (asserted by VectorExprSpec). A
  * zero-norm side gives null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernel {

  def sqlName: String = "cosine_sim"
  protected def argTypes: Seq[DataType] = Seq(Vectors.Floats, Vectors.Floats)
  override protected def kernelReturnsNull: Boolean = true
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = Vectors.sameDims(sqlName, "vector", x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over two `array<float>` columns — same fused-loop design as
  * [[CosineSimilarity]]. Lets callers precompute per-vector norms once and
  * pay only the dot per pair (cosine recomputes both norms every pair —
  * 3× the arithmetic in an all-pairs scan). Identical left-to-right fold,
  * so `dot(a,b)/(norm(a)*norm(b))` is bit-equal to `cosine_sim(a,b)`. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel {

  def sqlName: String = "dot_product"
  protected def argTypes: Seq[DataType] = Seq(Vectors.Floats, Vectors.Floats)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = Vectors.sameDims(sqlName, "vector", x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Pack a float vector into int8 bytes — the STORAGE form of symmetric
  * quantization (4× smaller than float32; SURVEY.md §2B X30 scale path):
  * `byte_i = floor(x_i / scale + 0.5)` in exact double arithmetic, the
  * identical half-up rule as the columnar quantizeInt8 (so the packed
  * bytes equal its q values — asserted in VectorExprSpec). `scale` is the
  * caller's `max|x| / 127`, which bounds every byte to [-127, 127]; a
  * non-positive scale (zero vector) yields NULL, and values beyond the
  * byte range (an undersized/stale scale) SATURATE to ±127 like every
  * standard int8 quantizer — never two's-complement wrap-around, which
  * would silently flip signs. */
case class PackInt8(left: Expression, right: Expression)
    extends BinaryKernel {

  def sqlName: String = "pack_int8"
  protected def argTypes: Seq[DataType] = Seq(Vectors.Floats, DoubleType)
  override protected def kernelReturnsNull: Boolean = true
  override def dataType: DataType = BinaryType

  override def nullSafeEval(a: Any, s: Any): Any =
    compute(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  def compute(x: ArrayData, scale: Double): Array[Byte] =
    if (scale <= 0.0) null
    else {
      val n = x.numElements()
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        val q = math.floor(x.getFloat(i).toDouble / scale + 0.5).toLong
        out(i) = math.max(-127L, math.min(127L, q)).toByte
        i += 1
      }
      out
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Inverse of [[PackInt8]]: reconstruct `array<float>` as
  * `float(byte_i * scale)` — the dequantize step of the int8 storage
  * path. Reconstruction error per element is bounded by `scale / 2`
  * (asserted in VectorExprSpec). */
case class UnpackInt8(left: Expression, right: Expression)
    extends BinaryKernel {

  def sqlName: String = "unpack_int8"
  protected def argTypes: Seq[DataType] = Seq(BinaryType, DoubleType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(a: Any, s: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], s.asInstanceOf[Double])

  def compute(bytes: Array[Byte], scale: Double): ArrayData = {
    val out = new Array[Float](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = (bytes(i) * scale).toFloat
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over two int8-PACKED vectors (binary columns from
  * [[PackInt8]]) → long — the integer arithmetic a quantized 100 TB
  * vector corpus scans with (4× less memory bandwidth than float32, and
  * exact: sums of byte products fit a long for any realistic dims). Note
  * cosine over packed vectors needs no scales at all — they cancel:
  * `cos(q_a·s_a, q_b·s_b) = dot8(q_a,q_b) / (√dot8(q_a,q_a)·√dot8(q_b,q_b))`. */
case class Int8DotProduct(left: Expression, right: Expression)
    extends BinaryKernel {

  def sqlName: String = "int8_dot"
  protected def argTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  def compute(x: Array[Byte], y: Array[Byte]): Long = {
    val n = Vectors.sameDims(sqlName, "packed vector", x.length, y.length)
    var dot = 0L
    var i = 0
    while (i < n) { dot += x(i).toLong * y(i).toLong; i += 1 }
    dot
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API for [[DotProduct]]. */
  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API for [[CosineSimilarity]]. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API for [[PackInt8]]. */
  def pack_int8(emb: Column, scale: Column): Column =
    GraftBridge.column(PackInt8(
      GraftBridge.expression(emb), GraftBridge.expression(scale)))

  /** Column API for [[UnpackInt8]]. */
  def unpack_int8(bytes: Column, scale: Column): Column =
    GraftBridge.column(UnpackInt8(
      GraftBridge.expression(bytes), GraftBridge.expression(scale)))

  /** Column API for [[Int8DotProduct]]. */
  def int8_dot(a: Column, b: Column): Column =
    GraftBridge.column(Int8DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** SQL registration: `SELECT cosine_sim(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
}
