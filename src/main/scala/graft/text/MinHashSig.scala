package graft.text

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 4-member MinHash signature of a shingle
  * set in ONE pass — md5 computed once per shingle, all four
  * `(a·h + b) mod p` minima updated in a single loop.
  *
  * The composition it replaces — `array_min(transform(s3, w -> (a *
  * conv(substring(md5(w),1,8),16,10) + b) % p))` × 4 — runs interpreted
  * (higher-order functions never enter codegen) and digests every shingle
  * four times, once per hash parameter. At 100 TB corpora the md5 pass IS
  * the signature cost, so a 4× digest reduction plus codegen is the
  * difference that matters. Both paths run one compiled method,
  * [[MinHashSig.compute]].
  *
  * Arithmetic is bit-identical to the composition and to the DuckDB
  * oracle's nibble-decode twin: h = first 4 md5 bytes big-endian
  * (= the integer value of the first 8 lowercase hex chars), all in
  * non-overflowing long math (a < 2²⁰, h < 2³², a·h < 2⁵² < 2⁶³).
  * NULL elements are skipped, matching the twin exactly (md5(NULL) is
  * NULL and `array_min` ignores NULLs); an input that is NULL, empty, or
  * all-NULL yields NULL (`array_min` of no non-null values).
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def prettyName: String = "graft_minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, shingles => s"""
       |${ev.value} = graft.text.MinHashSig.compute($shingles);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {

  /** (a, b) parameters of the linear hash family over mod-p — the single
    * source of truth shared with the oracle SQL (TextOps). */
  val Params: Seq[(Long, Long)] =
    Seq((999983L, 7L), (424243L, 99991L), (765431L, 12345L), (550007L, 777L))
  val P = 1000000007L

  // Params unpacked once into primitive arrays for the per-shingle loop
  private val A: Array[Long] = Params.map(_._1).toArray
  private val B: Array[Long] = Params.map(_._2).toArray

  /** The signature: per hash k, min over the non-null shingles of
    * `(A(k)·h + B(k)) mod P`, h = [[hash32]] computed once per shingle;
    * null when no shingle is non-null. */
  def compute(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(A.length)(Long.MaxValue)
    var hashed = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        hashed = true
        val h = hash32(shingles.getUTF8String(i))
        var k = 0
        while (k < mins.length) {
          val v = (A(k) * h + B(k)) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (hashed) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First 4 md5 bytes of the string, big-endian unsigned — identical to
    * `conv(substring(md5(w), 1, 8), 16, 10)`. */
  def hash32(w: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(w.getBytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }
}
