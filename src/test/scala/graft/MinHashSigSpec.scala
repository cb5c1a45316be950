package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{MinHashSig, TextOps}

/** The one-pass native MinHash signature vs the 4-transform composition. */
class MinHashSigSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("graft_minhash_sig equals the array_min(transform(...)) composition") {
    val s3 = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), graft.text.Tokens.shingles(3).as("s3"))
    val both = s3.withColumn("__sigs", expr("graft_minhash_sig(s3)"))
    val diff = MinHashSig.Params.indices.map { i =>
      both.filter(element_at(col("__sigs"), i + 1) =!=
        expr(TextOps.minhashSigHofExpr(i)))
    }.reduce(_ union _)
    assert(diff.count() === 0)
  }

  test("empty shingle set yields NULL (array_min semantics), not zeros") {
    val r = Seq(Seq.empty[String], Seq("a b c")).toDF("s3")
      .select(expr("graft_minhash_sig(s3)").as("sigs")).collect()
    assert(r(0).isNullAt(0))
    assert(!r(1).isNullAt(0) && r(1).getSeq[Long](0).length === 4)
  }

  test("null shingles are skipped (array_min semantics); all-null input is NULL") {
    val rows = Seq(
      (1, Seq(Some("x y z"), None)),   // null skipped, hash of the rest
      (2, Seq(Some("x y z"))),         // reference without the null
      (3, Seq[Option[String]](None))   // all-null → NULL signature
    ).toDF("id", "s3")
      .select(col("id"), expr("graft_minhash_sig(s3)").as("sigs"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Long](1) === rows(1).getSeq[Long](1))
    assert(rows(2).isNullAt(1))
    // interpreted path agrees
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("x y z", null), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val viaEval = MinHashSig(lit).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray
    assert(viaEval.toSeq === rows(1).getSeq[Long](1))
  }

  test("interpreted eval matches codegen") {
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("x y z", "y z w"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val viaEval = MinHashSig(lit).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray
    val viaCodegen = Seq(Seq("x y z", "y z w")).toDF("s3")
      .select(expr("graft_minhash_sig(s3)")).head.getSeq[Long](0)
    assert(viaEval.toSeq === viaCodegen)
  }

  test("hash32 equals conv(substring(md5(w),1,8),16,10)") {
    val words = Seq("alpha", "key agg row", "")
    val viaSql = words.toDF("w")
      .select(expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)"))
      .collect().map(_.getLong(0))
    val viaNative = words.map(w =>
      MinHashSig.hash32(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    assert(viaSql.toSeq === viaNative)
  }
}
