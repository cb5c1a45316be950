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
  *    global-rank reconstruction needs (AuditQueries.auditValueQuantiles,
  *    Relational's q_customer_deciles);
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
  */
case class ArrayBucket(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_array_bucket"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  private lazy val isLong: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

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

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    var lo = 0
    var hi = arr.numElements() - 1
    var res = 0
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val atMost =
        if (isLong) arr.getLong(mid) <= b.asInstanceOf[Long]
        else arr.getDouble(mid) <= b.asInstanceOf[Double]
      if (atMost) { res = mid + 1; lo = mid + 1 }
      else hi = mid - 1
    }
    res
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, v) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val get = if (isLong) "getLong" else "getDouble"
      s"""
         |int $lo = 0;
         |int $hi = $arr.numElements() - 1;
         |${ev.value} = 0;
         |while ($lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($arr.$get($mid) <= $v) { ${ev.value} = $mid + 1; $lo = $mid + 1; }
         |  else { $hi = $mid - 1; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
