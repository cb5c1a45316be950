package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft_vec_sum (mergeable exact decimal vector sum) must be invisible
  * to results: bit-identical to the posexplode + per-dim Det.dsum9 shape
  * it replaces, stable under repartitioning (the merge path), and strict
  * about the degenerate inputs that would silently corrupt vector math. */
class VecSumSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bit-identical to posexplode + dsum9 per-label means on real embeddings") {
    val e = Tables.embeddings(spark, sf)
    val slow = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((Det.dsum9(col("v").cast("double")) / count(lit(1))).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
    val fast = e
      .groupBy("label")
      .agg(
        expr("graft_vec_sum(transform(embedding, x -> cast(cast(x as double) as decimal(28,9))))").as("sv"),
        count(lit(1)).as("n"))
      .select(col("label"), expr("transform(sv, x -> cast(x as double) / n)").as("cv"))
    val joined = slow.withColumnRenamed("cv", "a")
      .join(fast.withColumnRenamed("cv", "b"), Seq("label"))
    assert(joined.count() > 0)
    assert(joined.filter(!(col("a") <=> col("b"))).count() === 0)
  }

  test("merge path: result identical across partitionings") {
    val e = Tables.embeddings(spark, sf)
      .select(expr("transform(embedding, x -> cast(cast(x as double) as decimal(28,9)))").as("v"))
    def total(df: org.apache.spark.sql.DataFrame) =
      df.agg(expr("graft_vec_sum(v)").as("s")).head().getSeq[java.math.BigDecimal](0)
    val a = total(e.repartition(1))
    val b = total(e.repartition(13))
    assert(a === b)
  }

  test("null arrays are skipped; an all-null group yields NULL") {
    val df = Seq(
      (1, Some(Seq(BigDecimal("1.5"), BigDecimal("2.0")))),
      (1, None),
      (2, None)
    ).toDF("k", "v0")
      .withColumn("v", expr("transform(v0, x -> cast(x as decimal(28,9)))"))
    val out = df.groupBy("k").agg(expr("graft_vec_sum(v)").as("s"))
      .orderBy("k").collect()
    assert(out(0).getSeq[java.math.BigDecimal](1).map(_.toString)
      === Seq("1.500000000", "2.000000000"))
    assert(out(1).isNullAt(1))
  }

  test("ragged vector lengths fail loudly") {
    val df = Seq(Seq(BigDecimal(1)), Seq(BigDecimal(1), BigDecimal(2)))
      .toDF("v0")
      .withColumn("v", expr("transform(v0, x -> cast(x as decimal(28,9)))"))
    val ex = intercept[Exception] {
      df.agg(expr("graft_vec_sum(v)")).collect()
    }
    assert(ex.getMessage != null)
  }
}
