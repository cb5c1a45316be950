package graft.vector

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Scale-18 scalar fixed-point carriers — the rank-mass lane of the
  * iterative graph ops (q_part_pagerank's edge⨝rank exchange).
  *
  * `DECIMAL(38,18)` per-term sums are exact and order-free, but each
  * partial rides the shuffle as a 16-byte unscaled int128 plus null
  * bookkeeping, and the aggregate buffer boxes `Decimal`. When the summed
  * mass is provably bounded (PageRank: total rank mass ≡ 1, every group
  * sum ≤ 1 < 9.2 = Long.MaxValue at scale 18), the SAME integers fit a
  * primitive long lane: `graft_to_scaled18` emits exactly the unscaled
  * value `CAST(x AS DECIMAL(38,18))` would produce, `sum(long)` adds the
  * unscaleds exactly as the decimal sum would (overflow is unreachable:
  * the addends are non-negative and every partial sum is ≤ the group's
  * total mass ≤ 1 = 1e18 unscaled, nine-fold under capacity — NOT
  * guarded by ANSI, which this engine leaves off; the to-scaled
  * CONVERSION is loud via longValueExact), and `graft_from_scaled18` reverses
  * it with the same single correctly-rounded conversion
  * `CAST(DECIMAL(38,18) AS DOUBLE)` performs — so swapping the lane
  * cannot move any output bit (pinned in NativeExprSpec against the
  * decimal path). Roughly half the shuffle width, primitive agg buffers.
  *
  * Conversion fidelity: Spark's double→decimal cast goes through
  * `BigDecimal(Double.toString(x))` then HALF_UP to scale 18; decimal→
  * double is `BigDecimal.doubleValue` (one correctly-rounded step). Both
  * are reproduced verbatim below. Values beyond long capacity at scale 18
  * (|x| ≥ 9.223…) throw ArithmeticException — the FixedPointVec loud-
  * failure discipline, not a silent wrap.
  */
case class ToScaled18(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_to_scaled18"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects double, got ${other.simpleString}")
  }

  override protected def nullSafeEval(x: Any): Any =
    new java.math.BigDecimal(java.lang.Double.toString(x.asInstanceOf[Double]))
      .setScale(18, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
       |${ev.value} = new java.math.BigDecimal(java.lang.Double.toString($x))
       |  .setScale(18, java.math.RoundingMode.HALF_UP)
       |  .unscaledValue().longValueExact();
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_from_scaled18(l)` → DOUBLE: the exact inverse lane —
  * `CAST(DECIMAL(38,18)-with-unscaled-l AS DOUBLE)`, one correctly-rounded
  * BigDecimal→double conversion (NOT `l / 1e18`, which rounds twice and
  * can drift an ulp above 2⁵³). */
case class FromScaled18(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_from_scaled18"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects bigint, got ${other.simpleString}")
  }

  override protected def nullSafeEval(l: Any): Any =
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(l.asInstanceOf[Long]), 18).doubleValue()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, l => s"""
       |${ev.value} = new java.math.BigDecimal(
       |  java.math.BigInteger.valueOf($l), 18).doubleValue();
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scale-parameterized twins of the scale-18 lane, for the moment-sum
  * shapes whose inputs are 2-decimal monetary values (q_measure_
  * correlations): `graft_to_scaled2(x)` emits the unscaled long of
  * `CAST(x AS DECIMAL(38,2))` (exact for any value the monetary columns
  * can hold), products of two scale-2 longs are EXACT scale-4 integers
  * (a long holds them up to |xy| < 9.2e14 — price² tops out ~1.2e14),
  * and the split-lane reassembly `graft_from_scaled4_split(hi, lo)`
  * converts `hi*1e7 + lo` at scale 4 back to DOUBLE in the same single
  * correctly-rounded BigDecimal step the decimal lane's
  * `CAST(DECIMAL AS DOUBLE)` performs. The hi/lo split (base 1e7,
  * balanced so both lanes carry ≤~1.2e7/row for the monetary columns)
  * keeps each `sum(long)` lane inside long capacity to ~7.7e11 input
  * rows — a 100 TB lineitem (~6e11 rows) fits. NOTE: the ANSI posture
  * (`spark.sql.ansi.enabled`) depends on the deployment; with it off,
  * `sum(long)` past capacity would wrap SILENTLY. The only loud path that
  * is guaranteed is the caller-side guard in
  * DataQuality.correlationsFrom (max|x| witness lanes + raise_error). */
case class ToScaledN(child: Expression, scale: Int) extends UnaryExpression {

  override def prettyName: String = s"graft_to_scaled$scale"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects double, got ${other.simpleString}")
  }

  override protected def nullSafeEval(x: Any): Any =
    new java.math.BigDecimal(java.lang.Double.toString(x.asInstanceOf[Double]))
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
       |${ev.value} = new java.math.BigDecimal(java.lang.Double.toString($x))
       |  .setScale($scale, java.math.RoundingMode.HALF_UP)
       |  .unscaledValue().longValueExact();
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_from_scaledN(l)` → DOUBLE at the given scale — same one-step
  * correctly-rounded conversion as [[FromScaled18]]. */
case class FromScaledN(child: Expression, scale: Int) extends UnaryExpression {

  override def prettyName: String = s"graft_from_scaled$scale"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects bigint, got ${other.simpleString}")
  }

  override protected def nullSafeEval(l: Any): Any =
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(l.asInstanceOf[Long]), scale).doubleValue()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, l => s"""
       |${ev.value} = new java.math.BigDecimal(
       |  java.math.BigInteger.valueOf($l), $scale).doubleValue();
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_from_scaled4_split(hi, lo)` → DOUBLE: reassembles a split-lane
  * unscaled sum (`hi*10⁷ + lo`, exact in BigInteger — the total may
  * exceed long capacity) and converts at scale 4 in one correctly-rounded
  * step, identical to `CAST(sum(DECIMAL(38,4)) AS DOUBLE)` over the same
  * addends. Runs on the single aggregate output row only. */
case class FromScaledSplit(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {

  override def prettyName: String = s"graft_from_scaled${scale}_split"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (bigint, bigint), got $other")
    }

  private val base = java.math.BigInteger.valueOf(10000000L)

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi.asInstanceOf[Long]).multiply(base)
        .add(java.math.BigInteger.valueOf(lo.asInstanceOf[Long])), scale)
      .doubleValue()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) => s"""
       |${ev.value} = new java.math.BigDecimal(
       |  java.math.BigInteger.valueOf($hi)
       |    .multiply(java.math.BigInteger.valueOf(10000000L))
       |    .add(java.math.BigInteger.valueOf($lo)), $scale).doubleValue();
     """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
