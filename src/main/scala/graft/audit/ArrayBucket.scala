package graft.audit

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression `graft_array_bucket(sorted, v)`: the number
  * of elements of a SORTED array that are ≤ the probe value (0 when every
  * element is greater, or the array is empty), over `array<double>` with
  * a double probe or `array<bigint>` with a bigint probe. Ties count
  * (t ≤ v is inclusive). Its two uses:
  *
  *  - order-preserving range buckets: with ascending equi-depth
  *    boundaries b, `graft_array_bucket(b, v)` is monotone in v, and equal
  *    values always land in the same bucket — the two properties
  *    global-rank reconstruction needs (graft.analytics.Bands.exactRanks,
  *    under audit_value_quantiles and q_customer_deciles);
  *  - the truncate-boundary lookup of the audit algebra
  *    (AuditLog.truncStates): "the latest TRUNCATE seq at or before my
  *    seq" is `get(ts, graft_array_bucket(ts, seq) - 1)`, NULL when the
  *    count is 0. The T-seq set is a small broadcast array, but one that
  *    GROWS with history length.
  *
  * It exists because the lambda forms (`size(filter(b, x -> x <= v))`,
  * `array_max(filter(ts, t -> t <= seq))`) are O(|b|) interpreted HOFs per
  * row (the truncate lookup measured 48 s at sf1, |T| ≈ 3 000 over 1 M
  * rows); this is an O(log |b|) primitive binary search inside whole-stage
  * codegen. Elements must be non-null and ascending (approx_percentile
  * output and a sort_array of collect_list guarantee both at the call
  * sites).
  *
  * Why not Spark's own `array_binary_search` (4.0+): it is not the same
  * function and it is slower.
  *  - Ties: it returns `java.util.Arrays.binarySearch`'s index, any one of
  *    several equal elements, so it cannot count them: over
  *    [1, 2, 2, 2, 3] with v = 2 it gives index 2 where the count ≤ v is 4.
  *    Equi-depth bounds of skewed values repeat, so the bucket call sites
  *    meet ties.
  *  - Cost: its replacement wraps the array in `ToJavaArray`, a copy of the
  *    whole sorted array on every row before the search, O(|b|) per row.
  *    Timed on 1 M rows against a 3 000-element sorted bigint array (the
  *    sf1 |T| above, a broadcast one-row column as at the call sites,
  *    distinct elements so both give the same sum), `sum` of the count,
  *    Spark 4.1.2 `local[4]` on a 4-vCPU VM, JDK 17, median of 5
  *    alternating warm runs: this expression 0.235 s, the
  *    `array_binary_search` form 1.503 s (6.4×).
  */
case class ArrayBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_array_bucket"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<double> sorted ascending, double) or " +
            s"(array<bigint> sorted ascending, bigint), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = b match {
    case v: Long => ArrayBucket.compute(a.asInstanceOf[ArrayData], v)
    case v: Double => ArrayBucket.compute(a.asInstanceOf[ArrayData], v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (arr, v) => s"graft.audit.ArrayBucket.compute($arr, $v)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayBucket {

  /** Count of the elements of a sorted bigint array that are ≤ v. */
  def compute(sorted: ArrayData, v: Long): Int =
    countAtMost(sorted.numElements(), sorted.getLong(_) <= v)

  /** Count of the elements of a sorted double array that are ≤ v. */
  def compute(sorted: ArrayData, v: Double): Int =
    countAtMost(sorted.numElements(), sorted.getDouble(_) <= v)

  /** Binary search for the first index whose element is > v, given the
    * per-index test `atMost(i)` = element(i) ≤ v (monotone on a sorted
    * array). */
  private def countAtMost(n: Int, atMost: Int => Boolean): Int = {
    var lo = 0
    var hi = n - 1
    var res = 0
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (atMost(mid)) { res = mid + 1; lo = mid + 1 }
      else hi = mid - 1
    }
    res
  }
}
