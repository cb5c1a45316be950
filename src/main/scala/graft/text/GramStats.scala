package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per-document n-gram repetition statistics
  * over an array<string> word column — struct(tot, dist, best) where
  * `tot` = n-gram count, `dist` = distinct n-gram count and `best` = the
  * top n-gram's frequency. The primitive under the Gopher repetition
  * battery (doc_repetition, doc_repetition_topn).
  *
  * Why an Expression: the composition it replaces is either an
  * explode → groupBy(gram) → groupBy(doc) chain (two corpus exchanges
  * carrying gram strings) or an `aggregate(array_sort(...))` higher-order
  * fold (interpreted lambda allocating a 4-field struct per gram — HOFs
  * never enter codegen). This computes all three statistics in one
  * compiled pass: a single frequency map over grams built in place, no
  * gram array materialized, no intermediate sort, and the surrounding
  * Project stays inside whole-stage codegen (the generated code is one
  * static call).
  *
  * Semantics (pinned by NativeExprSpec against both former shapes and by
  * the unchanged doc-level DuckDB oracles): grams are space-joined word
  * windows; fewer than n words ⇒ (0, 0, 0); a gram touching a NULL word
  * (never produced by split(), but the function is public) groups under
  * one null key, exactly like the sorted fold's null-safe `<=>` run and
  * the explode shape's null group. Returns NULL only for NULL input.
  */
case class GramStats(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"gram size must be >= 1, got $n")

  override def prettyName: String = "graft_gram_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("tot", LongType, nullable = false),
    StructField("dist", LongType, nullable = false),
    StructField("best", LongType, nullable = false)))

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    GramStats.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, words => s"graft.text.GramStats.compute($words, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramStats {

  /** One pass: window the word array ([[WordShingles.window]]), count
    * each space-joined gram in a hash map (exact string keys — no hashing
    * shortcut that could merge two grams), then read (total, distinct,
    * max frequency) off the map. */
  def compute(words: ArrayData, n: Int): InternalRow = {
    val m = WordShingles.windows(words, n)
    if (m == 0) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val map = new java.util.HashMap[UTF8String, Array[Int]](m * 2)
    val parts = new Array[UTF8String](n)
    var nullCnt = 0
    var i = 0
    while (i < m) {
      val g = WordShingles.window(words, i, parts)
      if (g == null) nullCnt += 1
      else {
        val c = map.get(g)
        if (c == null) map.put(g, Array(1)) else c(0) += 1
      }
      i += 1
    }
    var best = nullCnt
    val it = map.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > best) best = c
    }
    val dist = map.size() + (if (nullCnt > 0) 1 else 0)
    new GenericInternalRow(Array[Any](m.toLong, dist.toLong, best.toLong))
  }
}
