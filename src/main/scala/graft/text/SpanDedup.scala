package graft.text

import graft.Q
import graft.Tables.{documents => docs}
import graft.text.Tokens.distinctTexts
import org.apache.spark.sql.functions._

/** Exact duplicated-substring audit — the character-span complement to
  * the document-level dedup family. Word/shingle dedup (jaccard, minhash,
  * simhash) scores WHOLE documents; training corpora additionally carry
  * long verbatim spans (licenses, boilerplate headers, quoted passages)
  * embedded inside otherwise-unique documents, and span-level exact dedup
  * is the standard pass that finds them.
  *
  * Geometry: k=40-char windows sampled every stride=20 chars, so every
  * duplicated region of ≥ 2k−stride chars is guaranteed to produce at
  * least one exactly-aligned window pair. A span is "cross-doc
  * duplicated" when the same 40-char string occurs in ≥ 2 distinct
  * documents.
  *
  * Scale posture: spans are md5-folded to 128-bit keys BEFORE any
  * shuffle — the exchange carries the 32-hex fold per span, never the
  * raw span text (the full digest, not a 64-bit prefix: at web scale
  * the span-key universe passes 1e9 and a truncated fold's birthday
  * bound would silently merge two spans' duplication verdicts); cross-doc detection is min≠max over
  * doc_id (partial-aggregated, no countDistinct); the verdict joins back
  * as a hash equi-join on the same key partitioning (one exchange family,
  * reused). Output is the bounded |lang × source| rollup, never per-span.
  */
object SpanDedup {

  private val K = 40
  private val Stride = 20

  /** One row per `K`-char span of `text` (every `Stride` chars from the
    * first): its md5, `key`. */
  private val spanKeys =
    explode(expr(
      s"""transform(sequence(1, cast(n_chars as int) - ${K - 1}, $Stride),
         |  i -> md5(substring(text, i, $K)))""".stripMargin))
      .as("key")

  /** Per-(lang, source) duplicated-span report: how much of each slice's
    * character mass sits in cross-document verbatim spans, and the worst
    * single document's duplicated share. */
  val spanDedup: Q = Q.sql(
    "span_dedup",
    s"""WITH sp0 AS (
       |  SELECT doc_id, lang, source, text,
       |    unnest(generate_series(1, CAST(n_chars AS INT) - ${K - 1}, $Stride)) AS i
       |  FROM documents WHERE n_chars >= $K),
       |sp AS (SELECT doc_id, lang, source,
       |    md5(substr(text, CAST(i AS INT), $K)) AS key
       |  FROM sp0),
       |k AS (SELECT key, min(doc_id) AS mn, max(doc_id) AS mx
       |      FROM sp GROUP BY 1),
       |pd AS (SELECT sp.doc_id, sp.lang, sp.source,
       |    count(*) AS n_spans,
       |    sum(CASE WHEN k.mn <> k.mx THEN 1 ELSE 0 END) AS n_dup
       |  FROM sp JOIN k ON sp.key = k.key GROUP BY 1, 2, 3),
       |r AS (SELECT lang, source,
       |    count(*) AS docs_scanned,
       |    CAST(sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS docs_with_dup,
       |    CAST(sum(n_spans) AS BIGINT) AS n_spans,
       |    CAST(sum(n_dup) AS BIGINT) AS n_dup_spans,
       |    round(max(1.0 * n_dup / n_spans), 4) AS max_doc_dup_share
       |  FROM pd GROUP BY 1, 2),
       |d AS (SELECT lang, source, count(*) AS n_docs
       |      FROM documents GROUP BY 1, 2)
       |SELECT d.lang, d.source, d.n_docs,
       |  coalesce(docs_scanned, 0) AS docs_scanned,
       |  coalesce(docs_with_dup, 0) AS docs_with_dup,
       |  coalesce(n_spans, 0) AS n_spans,
       |  coalesce(n_dup_spans, 0) AS n_dup_spans,
       |  CASE WHEN coalesce(n_spans, 0) = 0 THEN NULL
       |    ELSE round(1.0 * n_dup_spans / n_spans, 4) END AS dup_share,
       |  max_doc_dup_share
       |FROM d LEFT JOIN r ON d.lang = r.lang AND d.source = r.source
       |ORDER BY d.lang, d.source""".stripMargin) { (s, d) =>
    // hash-at-the-source: the transform emits the 32-hex md5 fold of each
    // span, so raw 40-char spans never leave the scan projection.
    // Duplicate-collapse (SURVEY §4): spans derive purely from the text,
    // so the span explode + key aggregation run once per DISTINCT text;
    // "cross-doc" at doc level = the key appears in ≥ 2 distinct texts
    // OR in one text that ≥ 2 docs share (max multiplicity ≥ 2). Per-doc
    // attributes (lang/source) rejoin at the linear doc-level expansion,
    // so two same-text docs from different sources keep their own rows.
    val (keyed, dist) = distinctTexts(docs(s, d), Seq("doc_id", "lang", "source", "n_chars"),
      Seq(min("n_chars").as("n_chars")))
    val sp = dist
      .filter(col("n_chars") >= K)
      .select(col("tkey"), col("m"),
        spanKeys)
    val k = sp.groupBy("key")
      .agg(min("tkey").as("mnt"), max("tkey").as("mxt"), max("m").as("mxm"))
    val perText = sp.join(k, "key")
      .groupBy("tkey")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("mnt") =!= col("mxt") || col("mxm") >= 2, 1).otherwise(0))
          .as("n_dup"))
    val perDoc = keyed.filter(col("n_chars") >= K).join(perText, Seq("tkey"))
    val rollup = perDoc.groupBy("lang", "source")
      .agg(count(lit(1)).as("docs_scanned"),
        sum(when(col("n_dup") > 0, 1).otherwise(0)).as("docs_with_dup"),
        sum("n_spans").as("n_spans"),
        sum("n_dup").as("n_dup_spans"),
        round(max(lit(1.0) * col("n_dup") / col("n_spans")), 4)
          .as("max_doc_dup_share"))
    val totals = docs(s, d).groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
    totals.join(rollup, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"),
        coalesce(col("docs_scanned"), lit(0L)).as("docs_scanned"),
        coalesce(col("docs_with_dup"), lit(0L)).as("docs_with_dup"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0, lit(null))
          .otherwise(round(lit(1.0) * col("n_dup_spans") / col("n_spans"), 4))
          .as("dup_share"),
        col("max_doc_dup_share"))
      .orderBy("lang", "source")
  }

  /** The boilerplate hit-list: the top-20 most-widespread duplicated
    * 40-char spans — what a curation team actually reads to decide which
    * license header / nav bar / disclaimer to strip corpus-wide before
    * the next training run.
    *
    * Two-pass scale shape: pass 1 aggregates the md5-folded span keys
    * (the 128-bit [[spanDedup]] discipline) into per-key
    * df / occurrence / first-doc facts and takes the global top-20 by
    * (df, n_occ, key) — a distributed TakeOrdered, never a global sort;
    * pass 2 recovers the actual span TEXT by re-scanning the corpus with
    * the 20 winning keys broadcast — one extra scan instead of shipping
    * every raw span through the shuffle (at 100 TB: a scan is cheap, a
    * corpus-sized string shuffle is not). Ranking ties break on the key
    * itself so both engines produce one total order. */
  val dedupSpanTopk: Q = Q.sql(
    "dedup_span_topk",
    s"""WITH sp0 AS (
       |  SELECT doc_id, text,
       |    unnest(generate_series(1, CAST(n_chars AS INT) - ${K - 1}, $Stride)) AS i
       |  FROM documents WHERE n_chars >= $K),
       |sp AS (SELECT doc_id, substr(text, CAST(i AS INT), $K) AS span,
       |         md5(substr(text, CAST(i AS INT), $K)) AS key
       |       FROM sp0),
       |k AS (SELECT key, count(*) AS n_occ, count(DISTINCT doc_id) AS df,
       |        min(doc_id) AS first_doc
       |      FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |top AS (SELECT *, row_number() OVER (
       |          ORDER BY df DESC, n_occ DESC, key) AS rank
       |        FROM k QUALIFY rank <= 20),
       |tx AS (SELECT key, min(span) AS span FROM sp
       |       WHERE key IN (SELECT key FROM top) GROUP BY 1)
       |SELECT top.rank, tx.span, top.df, top.n_occ, top.first_doc
       |FROM top JOIN tx ON top.key = tx.key
       |ORDER BY rank""".stripMargin) { (s, d) =>
    // Duplicate-collapse (SURVEY §4): span keys derive purely from the
    // text, so pass 1 aggregates per DISTINCT text — n_occ weights the
    // per-text occurrence count by multiplicity, df is the multiplicity
    // sum over texts containing the key (every doc sharing the text
    // contains it), first_doc is the min doc id over containing texts —
    // and the countDistinct over corpus-scale doc ids disappears. The
    // pass-2 text recovery re-scans only the distinct texts.
    val (_, distAll) = distinctTexts(docs(s, d),
      aggs = Seq(min("n_chars").as("n_chars"), min("doc_id").as("mindoc")))
    val dist = distAll.filter(col("n_chars") >= K)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = dist
      .select(col("tkey"), col("m"), col("mindoc"),
        spanKeys)
    val top = keyed.groupBy("key", "tkey", "m", "mindoc")
      .agg(count(lit(1)).cast("long").as("occ"))
      .groupBy("key")
      .agg(sum(col("occ") * col("m")).cast("long").as("n_occ"),
        sum("m").cast("long").as("df"),
        min("mindoc").as("first_doc"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("n_occ").desc, col("key"))
      .limit(20)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df").desc, col("n_occ").desc, col("key"))))
    val tx = dist
      .select(explode(expr(
        s"""transform(sequence(1, cast(n_chars as int) - ${K - 1}, $Stride),
           |  i -> struct(md5(substring(text, i, $K)) AS key,
           |              substring(text, i, $K) AS span))""".stripMargin))
        .as("s"))
      .select(col("s.key").as("key"), col("s.span").as("span"))
      .join(broadcast(top.select("key")), Seq("key"), "left_semi")
      .groupBy("key").agg(min("span").as("span"))
    top.join(tx, Seq("key"))
      .select(col("rank"), col("span"), col("df"), col("n_occ"),
        col("first_doc"))
      .orderBy("rank")
  }

  val all: Seq[Q] = Seq(spanDedup, dedupSpanTopk)
}
