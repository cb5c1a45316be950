package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{TextOps, WordShingles}

/** The native codegen shingler vs the composition it replaced. */
class WordShinglesSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("graft_shingles(ws, 3) equals the zip_with composition on the corpus") {
    val ws = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val diff = ws.select(col("doc_id"),
        graft.text.Tokens.shingles(3).as("native"),
        expr(TextOps.shingleHofExpr("ws")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("n=2 and n=4 produce the expected grams, empty below n words") {
    val df = Seq("a b c d", "a b", "a").toDF("text")
      .select(split(col("text"), " ").as("ws"))
      .select(expr("graft_shingles(ws, 2)").as("g2"),
        expr("graft_shingles(ws, 4)").as("g4"))
      .as[(Seq[String], Seq[String])].collect()
    assert(df(0) === (Seq("a b", "b c", "c d"), Seq("a b c d")))
    assert(df(1) === (Seq("a b"), Seq.empty))
    assert(df(2) === (Seq.empty, Seq.empty))
  }

  test("null words yield null shingles (concat semantics), same on both paths") {
    // codegen path over a real column
    val viaCol = Seq(Seq(Some("a"), None, Some("c"))).toDF("ws")
      .select(expr("graft_shingles(ws, 2)").as("g"))
      .head.getSeq[String](0)
    assert(viaCol === Seq(null, null))
    // interpreted path via direct eval
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("a", null, "c"), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val viaEval = WordShingles(lit, 2).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until 2).forall(viaEval.isNullAt))
  }

  test("interpreted eval path matches codegen output") {
    // exercise nullSafeEval directly (codegen is the default path above)
    val e = WordShingles(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "y", "z"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)), 2)
    val out = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until out.numElements()).map(out.getUTF8String(_).toString) ===
      Seq("x y", "y z"))
  }

  test("the shingling Project stays inside whole-stage codegen") {
    val df = Tables.documents(spark, sfDir)
      .select(split(col("text"), " ").as("ws"))
      .select(expr("graft_shingles(ws, 3)").as("s3"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"expected codegen'd Project:\n$plan")
  }
}
