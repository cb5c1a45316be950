package graft.vector

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float or double
  * vectors (both sides the same element type).
  *
  * Stays inside whole-stage codegen (the generated code is one static
  * call into a primitive loop over the unsafe array data — no per-element
  * boxing, no UDF serialization; one loop per element type),
  * which is what makes brute-force scoring viable as the small-side
  * baseline of the ANN operators at scale. Accumulates in double so the
  * result matches an oracle computing over DOUBLE[] exactly; the double
  * overload serves derived vectors (centroids, means) that never were
  * floats.
  *
  * Returns NULL for zero-norm inputs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_cosine"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two arrays of the same float/double type, got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isFloat) CosineSimilarity.ofFloats(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else CosineSimilarity.ofDoubles(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val cos = ctx.freshName("cos")
      val kernel = if (isFloat) "ofFloats" else "ofDoubles"
      s"""
         |java.lang.Double $cos = graft.vector.CosineSimilarity.$kernel($x, $y);
         |${ev.isNull} = $cos == null;
         |if ($cos != null) ${ev.value} = $cos;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Cosine of two float vectors over their common prefix, accumulated
    * in double; null when either norm is zero. */
  def ofFloats(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    of(dot, nx, ny)
  }

  /** [[ofFloats]] over double vectors. */
  def ofDoubles(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    of(dot, nx, ny)
  }

  private def of(dot: Double, nx: Double, ny: Double): java.lang.Double =
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / math.sqrt(nx * ny))
}
