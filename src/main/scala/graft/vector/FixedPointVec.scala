package graft.vector

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact fixed-point vector arithmetic over SCALE-6 doubles — the native
  * fast path under the engine's decimal-determinism contract.
  *
  * Contract: every input double is an exact scale-6 decimal value (the
  * operators round once at the source with `round(x, 6)`), so it is
  * losslessly recovered as a scaled long `X = round(v·10⁶)` and every
  * product/sum below is EXACT integer arithmetic at scale 12 — the same
  * values a `DECIMAL(18,6) × DECIMAL(18,6)` multiply and `DECIMAL` sum
  * produce in any engine, which is what the DuckDB oracle twins compute.
  * Order-independence is inherited from exactness (integer addition is
  * associative), the same argument [[graft.Det]] makes for scalar sums.
  *
  * Why native: the higher-order-function forms
  * (`aggregate(zip_with(...cast decimal...))`) run interpreted lambdas
  * with per-element `Decimal` boxing — measured ~2-3 s PER corpus pass on
  * the sf1 embedding cloud, where a primitive long loop is near-free.
  * Power iteration makes ~7 such passes, so the fold cost WAS the
  * operator cost (the L2Squared lesson, applied to exact arithmetic).
  *
  * Overflow discipline: `multiplyExact`/`addExact` — a violation of the
  * scale-6 magnitude contract fails loudly instead of silently wrapping
  * (a wrapped sum would hash-diverge from the oracle; a thrown error is
  * a visible data bug).
  *
  * Each kernel's arithmetic is one `compute` method on its companion,
  * called by interpreted eval and, as one static call, by generated code.
  */
object FixedPointVec {
  /** v is an exact scale-6 decimal by contract; recover its scaled long.
    * round() (not cast) absorbs the ≤½-ulp binary representation error. */
  @inline def toLong6(v: Double): Long = Math.round(v * 1e6)

  /** HALF_UP (away from zero) rounding of a scale-12 long to scale 6. */
  @inline def halfUp12to6(d: Long): Long =
    if (d >= 0) (d + 500000L) / 1000000L else -((-d + 500000L) / 1000000L)
}

/** `graft_dot612(a, b)` → DECIMAL(28,12): exact dot product of two
  * scale-6 double vectors. Equals DuckDB's
  * `sum(CAST(a AS DECIMAL(18,6)) * CAST(b AS DECIMAL(18,6)))`. */
case class Dot612(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def prettyName: String = "graft_dot612"
  override def dataType: DataType = DecimalType(28, 12)
  override def nullable: Boolean = true

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Dot612.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.vector.Dot612.compute($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Dot612 {
  def compute(x: ArrayData, y: ArrayData): Decimal = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(
        FixedPointVec.toLong6(x.getDouble(i)),
        FixedPointVec.toLong6(y.getDouble(i))))
      i += 1
    }
    Decimal(acc, 28, 12)
  }
}

/** `graft_scalevec612(arr, s)` → ARRAY<DECIMAL(28,12)>: exact elementwise
  * product of a scale-6 double vector with a scale-6 double scalar — the
  * row-level term vector fed to `graft_vec_sum` (matrix-vector products
  * without a per-(row,dim) explode). */
case class ScaleVec612(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def prettyName: String = "graft_scalevec612"
  override def dataType: DataType =
    ArrayType(DecimalType(28, 12), containsNull = false)
  override def nullable: Boolean = true

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), DoubleType)

  override protected def nullSafeEval(a: Any, s: Any): Any =
    ScaleVec612.compute(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, s) => s"graft.vector.ScaleVec612.compute($x, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ScaleVec612 {
  def compute(x: ArrayData, s: Double): ArrayData = {
    val sv = FixedPointVec.toLong6(s)
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = Decimal(
        Math.multiplyExact(FixedPointVec.toLong6(x.getDouble(i)), sv), 28, 12)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_deflate6(c, p, s)` → ARRAY<DOUBLE>: exact per-element
  * `round(c − s·p, 6)` at scale 12, re-rounded HALF_UP to scale 6 — one
  * deflation step of the centered corpus, kept on the scale-6 invariant.
  * Equals DuckDB's `round(CAST(c AS DECIMAL(18,6)) −
  * CAST(s AS DECIMAL(18,6)) * CAST(p AS DECIMAL(18,6)), 6)`. */
case class Deflate6(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def prettyName: String = "graft_deflate6"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)

  override protected def nullSafeEval(c: Any, p: Any, s: Any): Any =
    Deflate6.compute(c.asInstanceOf[ArrayData], p.asInstanceOf[ArrayData],
      s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, p, s) => s"graft.vector.Deflate6.compute($c, $p, $s)")

  override protected def withNewChildrenInternal(
      f: Expression, sec: Expression, t: Expression): Expression =
    copy(first = f, second = sec, third = t)
}

object Deflate6 {
  def compute(c: ArrayData, p: ArrayData, s: Double): ArrayData = {
    val sv = FixedPointVec.toLong6(s)
    val n = math.min(c.numElements(), p.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val c12 = Math.multiplyExact(FixedPointVec.toLong6(c.getDouble(i)), 1000000L)
      val sp = Math.multiplyExact(sv, FixedPointVec.toLong6(p.getDouble(i)))
      out(i) = FixedPointVec.halfUp12to6(Math.subtractExact(c12, sp)) / 1e6
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
