package graft.vector

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Scalar fixed-point carriers: `graft_to_scaledN(x)` emits exactly the
  * unscaled long `CAST(x AS DECIMAL(38,N))` would carry, and
  * `graft_from_scaledN(l)` ([[FromScaledN]]) reverses it with the same
  * single correctly-rounded conversion `CAST(DECIMAL(38,N) AS DOUBLE)`
  * performs. `sum(long)` then adds the unscaleds exactly as the decimal
  * sum would, so swapping a DECIMAL lane for a long lane cannot move any
  * output bit (pinned in NativeExprSpec against the decimal path). The
  * gain: `DECIMAL(38,N)` partials ride the shuffle as a 16-byte unscaled
  * int128 plus null bookkeeping and the aggregate buffer boxes `Decimal`;
  * the long lane is roughly half the shuffle width with primitive agg
  * buffers.
  *
  * Two lanes are registered, each with its own capacity bound:
  *  - scale 18 (`graft_to_scaled18` / `graft_from_scaled18`), the
  *    rank-mass lane of the iterative graph ops (q_part_pagerank's
  *    edge⨝rank exchange). The summed mass is provably bounded: total
  *    rank mass ≡ 1, the addends are non-negative and every partial sum
  *    is ≤ the group's total mass ≤ 1 = 1e18 unscaled, nine-fold under
  *    Long.MaxValue (≈ 9.2 at scale 18). The bound is the guard: a
  *    deployment can turn ANSI (`spark.sql.ansi.enabled`, on by default
  *    in Spark 4 and left at that default here) off, and with it off
  *    `sum(long)` past capacity would wrap silently.
  *  - scale 2 (`graft_to_scaled2` / `graft_from_scaled2`), for the
  *    moment-sum shapes whose inputs are 2-decimal monetary values
  *    (q_measure_correlations): the cast is exact for any value the
  *    monetary columns can hold, and products of two scale-2 longs are
  *    EXACT scale-4 integers (a long holds them up to |xy| < 9.2e14 —
  *    price² tops out ~1.2e14), reassembled by [[FromScaledSplit]]. The
  *    ANSI posture (`spark.sql.ansi.enabled`) depends on the deployment;
  *    with it off, `sum(long)` past capacity would wrap SILENTLY. The only
  *    loud path that is guaranteed is the caller-side guard in
  *    DataQuality.correlationsFrom (max|x| witness lanes + raise_error).
  *
  * Conversion fidelity: Spark's double→decimal cast goes through
  * `BigDecimal(Double.toString(x))` then HALF_UP to scale N; decimal→
  * double is `BigDecimal.doubleValue` (one correctly-rounded step, NOT
  * `l / 10^N`, which rounds twice and can drift an ulp above 2⁵³). Both
  * are reproduced verbatim in each companion's `compute`, the one method
  * both interpreted eval and generated code call. Values beyond long
  * capacity at scale N (|x| ≥ 9.223… at scale 18) throw
  * ArithmeticException via longValueExact — the FixedPointVec
  * loud-failure discipline, not a silent wrap.
  */
case class ToScaledN(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def prettyName: String = s"graft_to_scaled$scale"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def inputTypes: Seq[DataType] = Seq(DoubleType)

  override protected def nullSafeEval(x: Any): Any =
    ToScaledN.compute(x.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.vector.ToScaledN.compute($x, $scale)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ToScaledN {
  def compute(x: Double, scale: Int): Long =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}

/** `graft_from_scaledN(l)` → DOUBLE at the given scale: the exact inverse
  * of [[ToScaledN]], one correctly-rounded BigDecimal→double step. */
case class FromScaledN(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def prettyName: String = s"graft_from_scaled$scale"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def inputTypes: Seq[DataType] = Seq(LongType)

  override protected def nullSafeEval(l: Any): Any =
    FromScaledN.compute(l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, l => s"graft.vector.FromScaledN.compute($l, $scale)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FromScaledN {
  def compute(l: Long, scale: Int): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(l), scale).doubleValue()
}

/** `graft_from_scaled4_split(hi, lo)` → DOUBLE: reassembles a split-lane
  * unscaled sum (`hi*10⁷ + lo`, exact in BigInteger — the total may
  * exceed long capacity) and converts at scale 4 in one correctly-rounded
  * step, identical to `CAST(sum(DECIMAL(38,4)) AS DOUBLE)` over the same
  * addends. Runs on the single aggregate output row only. The hi/lo split
  * (base 1e7, balanced so both lanes carry ≤~1.2e7/row for the monetary
  * columns) keeps each `sum(long)` lane inside long capacity to ~7.7e11
  * input rows — a 100 TB lineitem (~6e11 rows) fits. */
case class FromScaledSplit(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def prettyName: String = s"graft_from_scaled${scale}_split"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    FromScaledSplit.compute(hi.asInstanceOf[Long], lo.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (hi, lo) =>
      s"graft.vector.FromScaledSplit.compute($hi, $lo, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FromScaledSplit {
  private val base = java.math.BigInteger.valueOf(10000000L)

  def compute(hi: Long, lo: Long, scale: Int): Double =
    new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).multiply(base)
        .add(java.math.BigInteger.valueOf(lo)), scale)
      .doubleValue()
}
