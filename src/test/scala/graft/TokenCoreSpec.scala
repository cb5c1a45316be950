package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus token core (`graft.text.Tokens`) on degenerate and twin
  * texts: every op that folds the corpus through the distinct-text
  * collapse must still publish one row per doc, and twin docs must get
  * identical values. */
class TokenCoreSpec extends AnyFunSuite {
  import TestSession._

  /** sf0.01 documents plus exact twins (same lang/source, corpus-side ids)
    * and the shapes a word split can trip on: empty, whitespace-only,
    * double-space, 1-word and 2-word texts (each shape twice). */
  private lazy val (dir, twins) = {
    val d = java.nio.file.Files.createTempDirectory("graft-token-core").toString
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val maxId = docs.agg(max("doc_id")).first().getLong(0)
    // new ids skip the % 29 == 0 benchmark slice, so both twins of a pair
    // stand on the corpus side of every decontamination op
    val ids = Iterator.from(1).map(maxId + _).filter(_ % 29 != 0)
    val srcIds = Seq(1L, 2L, 3L, 5L, 7L, 40L)
    val twinOf = srcIds.map(i => ids.next() -> i)
    val odd = Seq("", " ", "the  data spark", "spark", "the data")
      .flatMap(t => Seq(t, t)).map(t => ids.next() -> t)
    val src = docs.filter(col("doc_id").isin(srcIds: _*)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val extra = twinOf.map { case (id, of) =>
      val r = src(of)
      (id, r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars"))
    } ++ odd.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    import spark.implicits._
    docs.unionByName(extra.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$d/documents.parquet")
    val oddPairs = odd.grouped(2).map(p => p(0)._1 -> p(1)._1).toSeq
    (d, twinOf ++ oddPairs)
  }

  private def nDocs: Long = spark.read.parquet(s"$dir/documents.parquet").count()

  /** Asserts doc_id is unique in `out` and that each twin pair either has
    * no rows or equal values in every non-id column. */
  private def checkPerDoc(op: String, out: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = out.collect()
    val byId = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byId.forall(_._2.length == 1), s"$op: a doc got more than one row")
    val cols = out.columns.filter(_ != "doc_id")
    def vals(id: Long) = byId.get(id).map(_.head).map(r => cols.map(c => r.getAs[Any](c)).toSeq)
    twins.foreach { case (a, b) =>
      assert(vals(a) === vals(b), s"$op: twins $a and $b differ")
    }
    rows
  }

  // total per-doc ops: one row for every doc, degenerate texts included
  for (op <- Seq("text_quality", "quality_filter", "quality_blocklist", "dedup_simhash",
      "doc_readability")) {
    test(s"$op: one row per doc and equal values for twins on degenerate texts") {
      val rows = checkPerDoc(op, SparkEntry.queries(op)(spark, dir))
      assert(rows.length === nDocs, s"$op dropped or added docs")
    }
  }

  // filtered per-doc ops: at most one row per doc, equal values for twins
  for (op <- Seq("decontaminate", "decontaminate_fuzzy", "doc_lang_outliers",
      "doc_repetition")) {
    test(s"$op: at most one row per doc and equal values for twins on degenerate texts") {
      val rows = checkPerDoc(op, SparkEntry.queries(op)(spark, dir))
      assert(rows.nonEmpty, s"$op returned nothing — vacuous")
      spark.catalog.clearCache()
    }
  }

  // collapsed aggregate ops: degenerate texts do not break the collapse
  for (op <- Seq("lang_id", "lang_id_metrics", "doc_mixed_lang", "corpus_report",
      "quality_source_matrix", "corpus_funnel", "span_dedup", "dedup_span_topk")) {
    test(s"$op: runs over degenerate and twin texts") {
      assert(SparkEntry.queries(op)(spark, dir).count() > 0)
      spark.catalog.clearCache()
    }
  }

  test("corpus_funnel: each twin pair keeps exactly one unique survivor") {
    val f = SparkEntry.queries("corpus_funnel")(spark, dir)
      .agg(sum("n_total"), sum("n_unique")).first()
    val q = SparkEntry.queries("quality_filter")(spark, dir)
      .filter(col("doc_id") % 29 =!= 0 && col("passed") === 1)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // unique = passing in-scope docs minus the non-first members of each
    // exact-text group
    val expectUnique = q.join(docs, "doc_id").groupBy("text").count().count()
    assert(f.getLong(0) === docs.filter(col("doc_id") % 29 =!= 0).count())
    assert(f.getLong(1) === expectUnique)
  }
}
