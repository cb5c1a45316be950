package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

import graft.audit.ArrayBucket
import graft.text.{GramStats, MinHashSig, ViterbiSegment, WordShingles}
import graft.vector.{CosineSimilarity, Deflate6, Dot612, FromScaledN, FromScaledSplit, L2Squared, ScaleVec612, ToScaledN, VecSumDec}

/** Engine extension surface: the one way graft's native layer enters a
  * session. At session build time it registers the `graft_*` functions of
  * [[GraftFunctions]], the [[graft.plans.AsOfStrategy]] planner strategy
  * and two optimizer rules, [[graft.plans.AsOfRangePushdown]] and
  * [[graft.plans.SmallInputSinglePartition]].
  *
  * [[GraftSession.build]] installs it (`withExtensions`). A session that
  * graft does not build gets it through Spark's own setting,
  * `spark.sql.extensions=graft.GraftExtensions`, given before the session
  * is created. A session built without either has no `graft_*` function,
  * and the ops that call one fail at analysis with `UNRESOLVED_ROUTINE`.
  * Sessions cloned from a built one (`newSession`, a streaming query's
  * micro-batch session) keep its extensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfRangePushdown)
    e.injectOptimizerRule(_ => graft.plans.SmallInputSinglePartition)
  }
}

object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def fn(name: String, cls: Class[_])(builder: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Builder of an `(array<string>, n)` n-gram kernel. Validated here:
    * builder failures surface as raw internal exceptions at resolution,
    * so the message names the function and the rule. */
  private def gramKernel(name: String)(make: (Expression, Int) => Expression): Builder =
    exprs => {
      if (exprs.length != 2)
        throw new IllegalArgumentException(
          s"$name expects (array<string>, n), got ${exprs.length} arguments")
      if (!exprs(1).foldable)
        throw new IllegalArgumentException(s"$name: n must be a literal integer")
      make(exprs(0), exprs(1).eval() match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long if l == l.intValue.toLong => l.intValue
        case other => throw new IllegalArgumentException(
          s"$name: n must be a literal integer, got $other")
      })
    }

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_cosine", classOf[CosineSimilarity])(e => CosineSimilarity(e(0), e(1))),
    fn("graft_shingles", classOf[WordShingles])(gramKernel("graft_shingles")(WordShingles(_, _))),
    fn("graft_minhash_sig", classOf[MinHashSig])(e => MinHashSig(e(0))),
    fn("graft_l2sq", classOf[L2Squared])(e => L2Squared(e(0), e(1))),
    fn("graft_array_bucket", classOf[ArrayBucket])(e => ArrayBucket(e(0), e(1))),
    fn("graft_vec_sum", classOf[VecSumDec])(e => VecSumDec(e(0))),
    fn("graft_dot612", classOf[Dot612])(e => Dot612(e(0), e(1))),
    fn("graft_scalevec612", classOf[ScaleVec612])(e => ScaleVec612(e(0), e(1))),
    fn("graft_deflate6", classOf[Deflate6])(e => Deflate6(e(0), e(1), e(2))),
    fn("graft_to_scaled18", classOf[ToScaledN])(e => ToScaledN(e(0), 18)),
    fn("graft_from_scaled18", classOf[FromScaledN])(e => FromScaledN(e(0), 18)),
    fn("graft_to_scaled2", classOf[ToScaledN])(e => ToScaledN(e(0), 2)),
    fn("graft_from_scaled2", classOf[FromScaledN])(e => FromScaledN(e(0), 2)),
    fn("graft_viterbi", classOf[ViterbiSegment])(e => ViterbiSegment(e(0), e(1))),
    fn("graft_from_scaled4_split", classOf[FromScaledSplit])(e => FromScaledSplit(e(0), e(1), 4)),
    fn("graft_gram_stats", classOf[GramStats])(gramKernel("graft_gram_stats")(GramStats(_, _))))

  /** Column-API form of the native cosine expression. */
  def graftCosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Column-API form of the native sorted-array search: the count of
    * elements ≤ v (see [[graft.audit.ArrayBucket]]). */
  def graftArrayBucket(sorted: Column, v: Column): Column =
    call_function("graft_array_bucket", sorted, v)

  /** Column-API forms of the scale-18 fixed-point lane (see
    * [[graft.vector.ToScaledN]]): double → unscaled long of
    * CAST(x AS DECIMAL(38,18)), and its exact inverse to DOUBLE. */
  def graftToScaled18(x: Column): Column = call_function("graft_to_scaled18", x)
  def graftFromScaled18(l: Column): Column = call_function("graft_from_scaled18", l)
}
