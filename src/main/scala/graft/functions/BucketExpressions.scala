package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Native range-bucketizer: the index of a double value within a sorted
  * boundary array — `#{b ∈ bounds : b < v}`, exactly the chained-when fold
  * `bounds.foldLeft(0)((acc, b) => acc + if (v > b) 1 else 0)` that the
  * two-pass global-sequence operators (replay emit-rank, sequence packing)
  * previously inlined.
  *
  * The fold is O(nBuckets) comparisons per row AND a depth-nBuckets
  * expression tree — the reason those operators capped nBuckets at 1024
  * (codegen/analyzer depth hazard). This expression is one O(log n)
  * binary search per row with the boundary array held once on the
  * expression (the object generated code calls [[compute]] on), so the
  * per-row cost and the plan size are both independent of the bucket
  * count. Equality with the fold is asserted in
  * BucketExprSpec (including ties: a value EQUAL to a boundary counts
  * only the strictly-smaller bounds, and NaN lands in the LAST bucket —
  * Spark SQL orders NaN above every double, unlike Java's `>`, so the
  * search special-cases it; boundaries themselves are assumed NaN-free,
  * which approxQuantile over non-NaN data guarantees).
  */
case class BucketIndex(child: Expression, bounds: Seq[Double])
    extends UnaryKernel {

  @transient private lazy val arr: Array[Double] = bounds.toArray

  def sqlName: String = "bucket_index"
  protected def argTypes: Seq[DataType] = Seq(DoubleType)
  override def dataType: DataType = IntegerType

  // binary search requires non-decreasing bounds (duplicates are fine —
  // lower-bound counts strictly-smaller entries either way); an unsorted
  // array would silently return wrong indices
  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckSuccess
          if bounds.sliding(2).exists(p => p.length == 2 && !(p(0) <= p(1))) =>
        TypeCheckFailure(s"$sqlName bounds must be sorted ascending")
      case r => r
    }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[Double])

  /** Count of bounds strictly below `v` (bounds ascending): the insertion
    * point of the first bound >= v. */
  def compute(v: Double): Int = {
    if (java.lang.Double.isNaN(v)) return arr.length // Spark: NaN > all
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  override protected def withNewChildInternal(newChild: Expression): BucketIndex =
    copy(child = newChild)
}

object RangeFunctions {
  /** Column wrapper: index of `v` (double) in the sorted `bounds`. */
  def bucket_index(v: Column, bounds: Seq[Double]): Column =
    GraftBridge.column(BucketIndex(GraftBridge.expression(v), bounds))
}
