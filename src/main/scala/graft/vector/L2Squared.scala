package graft.vector

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: squared L2 distance of two double vectors,
  * accumulated LEFT-TO-RIGHT in array order — bit-identical to both the
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, +)` higher-order
  * form it replaces and DuckDB's sequential `list_sum(list_transform(...))`
  * oracle fold, so swapping it in changes no query result.
  *
  * Why it exists: the HOF form materializes an intermediate array and runs
  * interpreted lambdas per row — at sf1 the k-means training scan
  * (|corpus| × k cells pairs per Lloyd round) spent ~30 s mostly in that
  * allocation. This is a tight primitive loop, one static call from both
  * interpreted eval (the k-means `aggregate(…)` lambdas) and whole-stage
  * codegen: no intermediate array, no per-element boxing.
  */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def prettyName: String = "graft_l2sq"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    L2Squared.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.vector.L2Squared.compute($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2Squared {

  /** Σ (x_i − y_i)² over the common prefix, left to right. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
