package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native sign-random-projection bucketer (SURVEY.md §2B X27 scale path):
  * all `tables` LSH bucket keys of an `array<float>` embedding in one pass.
  *
  * Replicates the composed form bit-for-bit (asserted by SrpExprSpec): the
  * hyperplane sign for (table, plane, dim) is
  * `xxhash64(table, plane, dim) % 2 == 0` — Spark's XxHash64 chains
  * hashInt(child, seed) left-to-right from seed 42 — and the projection is
  * the index-ordered left fold of ±x_i in double. The composed version
  * evaluated tables×bits interpreted aggregate/transform lambdas per row
  * (32 passes over every vector); this is one fused loop.
  */
case class SrpBuckets(child: Expression, tables: Int, bits: Int)
    extends UnaryKernel {

  require(tables >= 1 && bits >= 1 && bits <= 63)
  def sqlName: String = "srp_buckets"
  protected def argTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // signs[t*bits + p][i], grown lazily to the observed dimensionality.
  // Published as ONE volatile write of an immutable (dims, table) pair:
  // expression instances may be shared across threads, and two separate
  // non-volatile fields could be observed mid-update (stale array under a
  // new dims). Racing builds are idempotent (pure function of dims).
  // null after deserialization on an executor (@transient skips the
  // initializer), so the read guard must be null-safe
  @transient @volatile
  private var cached: (Int, Array[Array[Boolean]]) = (-1, null)

  private def signsFor(dims: Int): Array[Array[Boolean]] = {
    val c = cached
    if (c != null && c._1 >= dims) c._2
    else {
      val s = Array.ofDim[Array[Boolean]](tables * bits)
      var t = 0
      while (t < tables) {
        var p = 0
        while (p < bits) {
          val row = new Array[Boolean](dims)
          var i = 0
          while (i < dims) {
            var h = XXH64.hashInt(t, 42L)
            h = XXH64.hashInt(p, h)
            h = XXH64.hashInt(i, h)
            row(i) = h % 2 == 0
            i += 1
          }
          s(t * bits + p) = row
          p += 1
        }
        t += 1
      }
      cached = (dims, s)
      s
    }
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): GenericArrayData = {
    val dims = arr.numElements()
    val signs = signsFor(dims)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var p = 0
      while (p < bits) {
        val row = signs(t * bits + p)
        var proj = 0.0
        var i = 0
        while (i < dims) {
          val x = arr.getFloat(i).toDouble
          proj += (if (row(i)) x else -x)
          i += 1
        }
        if (proj > 0) key |= (1L << p)
        p += 1
      }
      out(t) = key
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpFunctions {
  /** `tables` SRP bucket keys (each `bits` wide) for an embedding. */
  def srp_buckets(emb: Column, tables: Int, bits: Int): Column =
    GraftBridge.column(SrpBuckets(GraftBridge.expression(emb), tables, bits))
}
