package graft.text

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: space-joined word n-grams over an
  * array<string> column — the shingling primitive under every
  * shingle-based dedup operator (ngram-jaccard, minhash, decontaminate).
  *
  * Why an Expression and not the `zip_with`-slice composition: Spark's
  * higher-order functions always run interpreted (no codegen), and each
  * `slice` materializes an intermediate array, so an n-gram needs n array
  * copies plus boxed lambda calls per element — outside every
  * whole-stage-codegen span. This expression runs one tight compiled loop
  * over the unsafe array data ([[WordShingles.compute]], a single static
  * call from generated code), producing each shingle with a single
  * `UTF8String.concatWs` and no intermediate arrays, and keeps the
  * surrounding Project inside codegen.
  *
  * Semantics are identical to the composition it replaces (and to the
  * DuckDB oracle's `list_transform(range(...), ...)` twin): documents
  * shorter than n words yield an empty array; output order follows word
  * order; a shingle touching a NULL word is NULL (`concat` semantics —
  * `split()` output never contains nulls, but the function is public).
  * Returns NULL only for NULL input.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def prettyName: String = "graft_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, words => s"graft.text.WordShingles.compute($words, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val sep = UTF8String.fromString(" ")

  /** The shingles: every n-word window in word order. */
  def compute(words: ArrayData, n: Int): ArrayData = {
    val m = windows(words, n)
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      out(i) = window(words, i, parts)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Number of n-word windows of `words`: 0 below n words. */
  def windows(words: ArrayData, n: Int): Int = {
    val k = words.numElements()
    if (k < n) 0 else k - n + 1
  }

  /** The i-th window, its `parts.length` words space-joined (`parts` is
    * caller-owned scratch); null when it touches a NULL word. The one
    * n-gram window of [[compute]] and [[GramStats.compute]]. */
  def window(words: ArrayData, i: Int, parts: Array[UTF8String]): UTF8String = {
    var j = 0
    while (j < parts.length) {
      if (words.isNullAt(i + j)) return null
      parts(j) = words.getUTF8String(i + j)
      j += 1
    }
    UTF8String.concatWs(sep, parts: _*)
  }
}
