package graft.vector

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
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
    extends BinaryExpression {

  override def prettyName: String = "graft_dot612"
  override def dataType: DataType = DecimalType(28, 12)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, array<double>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xa, ya) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($xa.numElements(), $ya.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact(
         |    java.lang.Math.round($xa.getDouble($i) * 1e6),
         |    java.lang.Math.round($ya.getDouble($i) * 1e6)));
         |}
         |${ev.value} = org.apache.spark.sql.types.Decimal.apply($acc, 28, 12);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_scalevec612(arr, s)` → ARRAY<DECIMAL(28,12)>: exact elementwise
  * product of a scale-6 double vector with a scale-6 double scalar — the
  * row-level term vector fed to `graft_vec_sum` (matrix-vector products
  * without a per-(row,dim) explode). */
case class ScaleVec612(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_scalevec612"
  override def dataType: DataType =
    ArrayType(DecimalType(28, 12), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, double), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(a: Any, s: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val sv = FixedPointVec.toLong6(s.asInstanceOf[Double])
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xa, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sv = ctx.freshName("sv")
      val out = ctx.freshName("out")
      s"""
         |int $n = $xa.numElements();
         |long $sv = java.lang.Math.round($s * 1e6);
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = org.apache.spark.sql.types.Decimal.apply(
         |    java.lang.Math.multiplyExact(
         |      java.lang.Math.round($xa.getDouble($i) * 1e6), $sv), 28, 12);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_deflate6(c, p, s)` → ARRAY<DOUBLE>: exact per-element
  * `round(c − s·p, 6)` at scale 12, re-rounded HALF_UP to scale 6 — one
  * deflation step of the centered corpus, kept on the scale-6 invariant.
  * Equals DuckDB's `round(CAST(c AS DECIMAL(18,6)) −
  * CAST(s AS DECIMAL(18,6)) * CAST(p AS DECIMAL(18,6)), 6)`. */
case class Deflate6(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = "graft_deflate6"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, array<double>, double), got " +
          s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")
    }

  override protected def nullSafeEval(c: Any, p: Any, s: Any): Any = {
    val ca = c.asInstanceOf[ArrayData]
    val pa = p.asInstanceOf[ArrayData]
    val sv = FixedPointVec.toLong6(s.asInstanceOf[Double])
    val n = math.min(ca.numElements(), pa.numElements())
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val c12 = Math.multiplyExact(FixedPointVec.toLong6(ca.getDouble(i)), 1000000L)
      val sp = Math.multiplyExact(sv, FixedPointVec.toLong6(pa.getDouble(i)))
      out(i) = java.lang.Double.valueOf(
        FixedPointVec.halfUp12to6(Math.subtractExact(c12, sp)) / 1e6)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ca, pa, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sv = ctx.freshName("sv")
      val d = ctx.freshName("d")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($ca.numElements(), $pa.numElements());
         |long $sv = java.lang.Math.round($s * 1e6);
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = java.lang.Math.subtractExact(
         |    java.lang.Math.multiplyExact(
         |      java.lang.Math.round($ca.getDouble($i) * 1e6), 1000000L),
         |    java.lang.Math.multiplyExact(
         |      $sv, java.lang.Math.round($pa.getDouble($i) * 1e6)));
         |  $out[$i] = java.lang.Double.valueOf(($d >= 0
         |    ? ($d + 500000L) / 1000000L
         |    : -((-$d + 500000L) / 1000000L)) / 1e6);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, sec: Expression, t: Expression): Expression =
    copy(first = f, second = sec, third = t)
}
