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

  test("bandPairs: <, <=, <> over MinHash and sign-LSH bands; a pair once; NULL never collides") {
    import org.apache.spark.sql.{Column, DataFrame}
    // MinHash-shaped (gid, band 0-3, bucket): 1 and 2 collide in bands 0
    // and 2, 1 and 3 in band 3; 4 and 5 carry only NULL buckets
    val sigs = Seq[(Long, Seq[Option[Long]])](
      1L -> Seq(Some(10L), Some(20L), Some(30L), Some(40L)),
      2L -> Seq(Some(10L), Some(21L), Some(30L), Some(41L)),
      3L -> Seq(Some(12L), Some(22L), Some(32L), Some(40L)),
      4L -> Seq(None, None, None, None),
      5L -> Seq(None, None, None, None))
    val minhash = sigs.flatMap { case (g, bs) =>
      bs.zipWithIndex.map { case (b, i) => (g, i, b) } }.toDF("gid", "band", "bucket")
    // sign-LSH-shaped (vec_id, band 1-2, bucket): 1 and 2 collide in both
    // bands, 3 and 4 in band 1; 5 and 6 carry only NULL buckets
    val signLsh = Seq[(Long, Int, Option[Long])](
      (1L, 1, Some(5L)), (1L, 2, Some(6L)), (2L, 1, Some(5L)), (2L, 2, Some(6L)),
      (3L, 1, Some(9L)), (3L, 2, Some(7L)), (4L, 1, Some(9L)), (4L, 2, Some(8L)),
      (5L, 1, None), (5L, 2, None), (6L, 1, None), (6L, 2, None))
      .toDF("vec_id", "band", "bucket")
    // the inline self-join every op spelled before the shared helper
    def inline(bands: DataFrame, id: String, p: (Column, Column) => Column) =
      bands.select(col(id).as("a"), col("band"), col("bucket"))
        .join(bands.select(col(id).as("b"), col("band"), col("bucket")), Seq("band", "bucket"))
        .filter(p(col("a"), col("b"))).select("a", "b").distinct()
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val preds = Seq[(String, (Column, Column) => Column)](
      "<" -> (_ < _), "<=" -> (_ <= _), "<>" -> (_ =!= _))
    Seq((minhash, "gid", Set((1L, 2L), (1L, 3L))),
        (signLsh, "vec_id", Set((1L, 2L), (3L, 4L)))).foreach { case (bands, id, lt) =>
      val self = lt.flatMap { case (a, b) => Seq(a -> a, b -> b) }
      val want = Map("<" -> lt, "<=" -> (lt ++ self), "<>" -> (lt ++ lt.map(_.swap)))
      preds.foreach { case (op, p) =>
        val got = TextOps.bandPairs(bands, id, p)
        assert(got.columns.toSeq === Seq("ga", "gb"))
        assert(got.count() === want(op).size, s"$id $op: a pair came back twice")
        assert(pairs(got) === want(op), s"$id $op")
        assert(pairs(got) === pairs(inline(bands, id, p)), s"$id $op")
      }
    }
  }
}
