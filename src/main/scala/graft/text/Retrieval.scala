package graft.text

import graft.Q
import graft.Tables.{documents => docs}
import graft.text.Tokens.{distinctTexts, duckGrams, duckWordList, duckWords, grams, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Retrieval-side operators of the training-data pipeline: within-doc
  * chunking (the unit RAG/context-window serving indexes), lexical BM25
  * top-k (the keyword twin of vector.Similarity's ann_topk), and the
  * corpus n-gram dashboard. Reference analog: the audit engine's view
  * layer exposes row-level history for ad-hoc lookup
  * (/root/reference/audit/audit.go:127-199); these are the lookup
  * structures a corpus-scale system builds over text instead of rows.
  *
  * Same determinism discipline as [[TextOps]]/[[CorpusOps]]: every value
  * is computable token-for-token in DuckDB, double contributions are
  * rounded once then summed as DECIMAL (exact, order-independent — a
  * shuffle must not change a score), ranks order by (value, id).
  */
object Retrieval {

  // --------------------------------------------------------- chunking --

  /** Sliding-window geometry: 64-word chunks every 48 words (16-word
    * overlap), the last window clipped at the document end. */
  private[graft] val ChunkWords = 64
  private[graft] val ChunkStride = 48

  /** The window starts of every document: (doc_id, ws, n, start_word),
    * one row per window, every `ChunkStride` words. */
  private def chunkStarts(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), words.as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(expr(s"sequence(0, n - 1, $ChunkStride)")).as("start_word"))

  /** The md5 digest of a window's text: its words from `start_word`, at
    * most `ChunkWords` of them. */
  private val chunkDigest: Column =
    md5(array_join(expr(s"slice(ws, start_word + 1, $ChunkWords)"), " "))

  /** DuckDB twin of [[chunkStarts]]: the word lists `w` and the windows `s`. */
  private val duckChunkStarts: String =
    s"""${duckWords()},
       |s AS (SELECT doc_id, ws, len(ws) AS n,
       |        unnest(range(0, len(ws), $ChunkStride)) AS start_word
       |      FROM w)""".stripMargin

  /** DuckDB twin of [[chunkDigest]]. */
  private val duckChunkDigest: String =
    s"md5(array_to_string(ws[start_word + 1 : least(start_word + $ChunkWords, n)], ' '))"

  /** Fixed-window word chunking with overlap — the within-document twin of
    * CorpusOps.pack_sequences (which packs ACROSS documents): every doc
    * explodes into 64-word windows on a 48-word stride, each chunk carrying
    * its exact placement (index, start offset, clipped length) and an
    * md5 digest of its text, so a serving index can verify chunk content
    * byte-for-byte without shipping the text twice.
    *
    * Shape: pure per-row flatmap — split, sequence(), one explode, all
    * codegen built-ins; ZERO shuffle before the output sort (spec-pinned).
    * At 100 TB this is the ideal operator: linear scan, no exchange,
    * output partitioning inherited from the input files. */
  val docChunk: Q = Q.sql(
    "doc_chunk",
    s"""WITH $duckChunkStarts
       |SELECT doc_id,
       |  CAST(start_word // $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(start_word AS BIGINT) AS start_word,
       |  CAST(least(n - start_word, $ChunkWords) AS BIGINT) AS chunk_words,
       |  $duckChunkDigest AS chunk_digest
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    chunkStarts(s, d)
      .select(col("doc_id"),
        (col("start_word") / ChunkStride).cast("long").as("chunk_idx"),
        col("start_word").cast("long").as("start_word"),
        least(col("n") - col("start_word"), lit(ChunkWords)).cast("long").as("chunk_words"),
        chunkDigest.as("chunk_digest"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ------------------------------------------------------------- bm25 --

  // scientific notation is load-bearing: a bare `1.2` literal parses as
  // DECIMAL in Spark SQL (the saturation denominator then computes in
  // decimal with mid-expression scale-6 rounding) but promotes to DOUBLE
  // in DuckDB's mixed arithmetic — a ~2e-6 per-term divergence that
  // surfaced as a scale-4 score tie at sf0.001. `1.2E0` is a DOUBLE
  // literal in BOTH dialects, so the whole rational part runs identical
  // IEEE arithmetic.
  private[graft] val K1 = "1.2e0"
  private[graft] val B = "0.75e0"
  private[graft] val TopK = 10

  /** The fixed query workload (id → terms). Terms are drawn from the
    * corpus vocabulary across the df spectrum — 'dup' is rare (markers the
    * generator plants in near-duplicate docs), the rest are common — so
    * the idf weighting is actually exercised. */
  private[graft] val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("dup", "customer", "row"),
    2 -> Seq("spark", "stream", "batch", "window"),
    3 -> Seq("vector", "hash", "join", "merge"))

  /** One BM25 term contribution (Robertson/Spärck Jones idf, k1/b
    * saturation) — ONE formula string evaluated by both engines
    * token-for-token. The TRANSCENDENTAL factor is rounded to 6 by
    * itself: `ln` is the one sub-expression whose libm implementations
    * may differ by an ulp between engines, and quarantining it behind
    * its own rounding means everything downstream is rational IEEE
    * arithmetic on identical operands — bit-identical by the standard,
    * no compounded tie exposure at the final rounding (an sf0.001 score
    * flipped exactly this way before the split). Rounded once more at
    * the end, then summed as DECIMAL: exact, order-independent addition
    * — a shuffle reordering partial sums cannot move a score across a
    * rounding boundary. */
  private val contribRaw: String =
    s"round(ln((n_docs - df + 0.5) / (df + 0.5) + 1), 6) * tf * ($K1 + 1) " +
      s"/ (tf + $K1 * (1 - $B + $B * dl * n_docs / sum_dl))"
  private val contribFormula: String = s"round($contribRaw, 6)"
  /** Same contribution scaled by a per-term query weight `qw` (expanded
    * queries), rounded once AFTER the scaling — one formula string for
    * both engines, like [[contribFormula]]. */
  private val contribWeighted: String = s"round(($contribRaw) * qw, 6)"

  /** Lexical top-k retrieval: BM25 over an inverted index — the keyword
    * twin of ann_topk, and together with it the two serve paths a corpus
    * platform exposes (sparse + dense). Scale shape: the corpus is
    * scanned once into per-(doc, term) tf with dl carried through the
    * partial-aggregating groupBy (no second corpus pass for doc length);
    * QUERY side, per-term df table (≤ |distinct query terms| rows) and the
    * 1-row corpus stats all broadcast — the corpus never shuffles for the
    * probe, exactly the decontaminate posture. Top-k per query ranks the
    * ROUNDED score (ann_pq_search discipline) with doc_id tiebreak. */
  val bm25Search: Q = Q.sql(
    "bm25_search",
    s"""WITH $duckBm25Ranks
       |SELECT query_id, rnk, doc_id, score FROM r
       |WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    bm25Machine(s, d).topk.orderBy("query_id", "rnk")
  }

  /** The query workload as (query_id, term) rows, one per distinct term of
    * a query. */
  private def queryTerms(s: SparkSession): DataFrame = {
    import s.implicits._
    bm25Queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
  }

  /** The shared BM25 engine's frames: the persisted per-(doc, dl, term) tf
    * table, the df of each query term, the one-row corpus stats
    * (n_docs, sum_dl) and the per-query top-k. */
  private final case class Bm25(tf: DataFrame, dft: DataFrame, stats: DataFrame,
      topk: DataFrame)

  /** The shared BM25 engine. bm25_search serves the top-k directly;
    * bm25_eval audits it against a BM25-independent relevance definition
    * over the SAME tf table — composed from the live machinery so the
    * audit cannot drift from what the serve path returns (the ann_recall
    * discipline). */
  private def bm25Machine(s: SparkSession, d: String): Bm25 = {
    import s.implicits._
    val qt = queryTerms(s)
    // distinct terms built driver-side (bounded by the query workload) —
    // a Spark .distinct() here would buy a shuffle to dedup ~10 rows
    val qTerms = bm25Queries.flatMap(_._2).distinct.toDF("term")
    // persisted because BOTH the df pass and the score pass read it —
    // without this the corpus is scanned + exploded + aggregated twice
    // (minhashSigs discipline: MEMORY_AND_DISK so eviction at 100 TB
    // degrades to local-disk reads, not a silent recompute)
    val tf = docs(s, d)
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"), size(col("ws")).as("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = docs(s, d)
      .select(size(words).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val dft = tf.join(broadcast(qTerms), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(qt), Seq("term"))
      .join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("c", expr(contribFormula).cast("decimal(18,6)"))
    val topk = contrib.groupBy("query_id", "doc_id").agg(sum("c").as("dsum"))
      .withColumn("score", round(col("dsum"), 4).cast("double"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rnk") <= TopK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
    Bm25(tf, dft, stats, topk)
  }

  /** DuckDB twin of [[bm25Machine]]'s shared steps: the query terms `qt`,
    * the word lists `w`, the per-(doc, dl, term) tf table `tf`, the corpus
    * stats `st` (n_docs, sum_dl) and the query-term df table `dft`. */
  private lazy val duckBm25Head: String = {
    val values = bm25Queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""qt(query_id, term) AS (VALUES $values),
       |${duckWords()},
       |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM w),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t GROUP BY 1, 2, 3),
       |st AS (SELECT count(*) AS n_docs, sum(len(ws)) AS sum_dl FROM w),
       |dft AS (SELECT term, count(*) AS df FROM tf
       |        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1)""".stripMargin
  }

  /** [[duckBm25Head]] plus the per-query BM25 ranking `r` (query_id,
    * doc_id, score, rnk over every scored doc) — the twin of
    * [[bm25Machine]]'s top-k before its `rnk <= TopK` cut. */
  private lazy val duckBm25Ranks: String =
    s"""$duckBm25Head,
       |c AS (SELECT qt.query_id, tf.doc_id,
       |        CAST($contribFormula AS DECIMAL(18, 6)) AS c
       |      FROM qt JOIN tf ON qt.term = tf.term
       |           JOIN dft ON dft.term = qt.term CROSS JOIN st),
       |sc AS (SELECT query_id, doc_id, CAST(round(sum(c), 4) AS DOUBLE) AS score
       |       FROM c GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id
       |                           ORDER BY score DESC, doc_id) AS rnk
       |      FROM sc)""".stripMargin

  /** Retrieval-quality audit of the BM25 serve path against a
    * BM25-INDEPENDENT relevance definition: a document is relevant to a
    * query iff it contains EVERY query term (conjunctive boolean
    * retrieval — derivable exactly on both engines, no judgment labels
    * needed). Per query: relevant-set size, hits in the top-$TopK,
    * precision@k, recall@k (against the best achievable, min(n_rel, k))
    * and MRR — the dashboard that says whether idf + saturation actually
    * surface conjunctive matches above partial ones on THIS corpus.
    *
    * Scale: relevance candidates come from the same persisted tf table
    * probed by the broadcast query terms (the corpus never shuffles for
    * the probe); the per-(query, doc) match count is a partial-agg
    * groupBy bounded by docs-containing-a-query-term; everything after is
    * ≤ |queries| × k rows. */
  val bm25Eval: Q = Q.sql(
    "bm25_eval",
    s"""WITH $duckBm25Ranks,
       |qn AS (SELECT query_id, count(DISTINCT term) AS nq FROM qt GROUP BY 1),
       |topk AS (SELECT query_id, doc_id, rnk FROM r WHERE rnk <= $TopK),
       |rel AS (SELECT qt.query_id, tf.doc_id
       |        FROM qt JOIN tf ON qt.term = tf.term
       |        GROUP BY qt.query_id, tf.doc_id
       |        HAVING count(DISTINCT qt.term) =
       |          (SELECT nq FROM qn WHERE qn.query_id = qt.query_id)),
       |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
       |hit AS (SELECT topk.query_id,
       |          count(rel.doc_id) AS hits,
       |          min(CASE WHEN rel.doc_id IS NOT NULL THEN topk.rnk END) AS first_rel
       |        FROM topk LEFT JOIN rel
       |          ON topk.query_id = rel.query_id AND topk.doc_id = rel.doc_id
       |        GROUP BY topk.query_id)
       |SELECT qn.query_id,
       |  coalesce(nrel.n_rel, 0) AS n_rel,
       |  coalesce(hit.hits, 0) AS hits,
       |  round(1.0 * coalesce(hit.hits, 0) / $TopK, 4) AS precision_at_k,
       |  CASE WHEN coalesce(nrel.n_rel, 0) = 0 THEN NULL
       |       ELSE round(1.0 * coalesce(hit.hits, 0)
       |                  / least(nrel.n_rel, $TopK), 4) END AS recall_at_k,
       |  round(coalesce(1.0 / hit.first_rel, 0), 4) AS mrr
       |FROM qn LEFT JOIN nrel ON qn.query_id = nrel.query_id
       |        LEFT JOIN hit ON qn.query_id = hit.query_id
       |ORDER BY qn.query_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val Bm25(tf, _, _, topk) = bm25Machine(s, d)
    val qt = queryTerms(s)
    val qn = bm25Queries.map { case (qid, ts) => (qid, ts.distinct.size.toLong) }
      .toDF("query_id", "nq")
    val rel = tf.join(broadcast(qt), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(countDistinct(col("term")).as("nmatch"))
      .join(broadcast(qn), Seq("query_id"))
      .filter(col("nmatch") === col("nq"))
      .select("query_id", "doc_id")
    val nrel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val relR = rel.select(col("query_id").as("rq"), col("doc_id").as("rel_doc"))
    val hits = topk
      .join(relR, col("query_id") === col("rq") && col("doc_id") === col("rel_doc"),
        "left")
      .groupBy("query_id")
      .agg(count(col("rel_doc")).as("hits"),
        min(when(col("rel_doc").isNotNull, col("rnk"))).as("first_rel"))
    qn.join(nrel, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(lit(1.0) * coalesce(col("hits"), lit(0L)) / TopK, 4).as("precision_at_k"),
        when(coalesce(col("n_rel"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(round(lit(1.0) * coalesce(col("hits"), lit(0L))
            / least(col("n_rel"), lit(TopK.toLong)), 4)).as("recall_at_k"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 4).as("mrr"))
      .orderBy("query_id")
  }

  // -------------------------------------------------- tf-idf keywords --

  private[graft] val KeywordsTopK = 3

  /** One tf-idf score — ONE formula string evaluated by both engines
    * (bm25 discipline): plain tf × ln(N/df), rounded once to 6 decimals.
    * No further arithmetic happens after the round, so the score needs no
    * decimal-sum protection — it is a single expression per (doc, term). */
  private val tfidfFormula: String = "round(tf * ln(1.0 * n_docs / df), 6)"

  /** Per-document keyword extraction: the top-3 terms of every document by
    * tf-idf — the compact content descriptor a corpus catalog publishes
    * per doc (and the classical sparse counterpart of an embedding).
    *
    * Scale shape: one pass over DISTINCT texts into per-(text, term) tf
    * (persisted — BOTH the df aggregation and the scoring pass read it,
    * the bm25 discipline), with per-doc rows expanded by a linear
    * membership join at the end (duplicate-collapse, SURVEY §4); df is
    * a partial-aggregating groupBy bounded at |vocab|, weighted by text
    * multiplicity; the tf ⋈ df equi-join shuffles on term with partial
    * aggregation already done on both sides (AQE picks the physical
    * join — df MAY broadcast at small vocab but is not forced to, since
    * vocabulary grows with the corpus); the 1-row doc count broadcasts.
    * The rank window partitions by text key — bounded by document
    * length, never a full-feed partition. */
  val tfidfKeywords: Q = Q.sql(
    "tfidf_keywords",
    s"""WITH ${duckWords()},
       |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs FROM w),
       |sc AS (SELECT tf.doc_id, tf.term, $tfidfFormula AS score
       |       FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN st),
       |r AS (SELECT doc_id, term, score,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY score DESC, term) AS rnk
       |      FROM sc)
       |SELECT doc_id, rnk, term, score FROM r
       |WHERE rnk <= $KeywordsTopK ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    // tf-idf is a pure function of (text, corpus model), and the model
    // itself is multiplicity-weighted: df = Σm over distinct texts
    // containing the term, n_docs = Σm. So the whole chain runs on the
    // distinct-text collapse (SURVEY §4) — twins re-derive identical
    // top-3 lists, published per doc through the linear membership join.
    val (keyed, dist) = distinctTexts(docs(s, d))
    val tf = dist
      .select(col("tkey"), col("m"), explode(words).as("term"))
      .groupBy("tkey", "m", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dft = tf.groupBy("term").agg(sum("m").cast("long").as("df"))
    val stats = dist.agg(sum("m").cast("long").as("n_docs"))
    val top = tf.join(dft, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(tfidfFormula))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("tkey").orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= KeywordsTopK)
    keyed.join(top, Seq("tkey"))
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  // ----------------------------------------------------- chunk overlap --

  /** Cross-document PARTIAL duplication: which documents share full
    * 64-word windows with other documents. Whole-doc dedup (exact/bow/
    * minhash) misses a doc that merely CONTAINS a copied span; the chunk
    * digest stream catches it — the containment complement of
    * dedup_* over the same window geometry doc_chunk serves.
    *
    * Scale shape: full-window digests (clipped tails excluded — their
    * varying lengths make digests trivially unique) → per-(doc, digest)
    * dedup via partial-aggregating groupBy (persisted: read by the
    * digest-count pass AND the per-doc rollup) → digest counts (bounded
    * at |distinct windows|) → equi-join back on digest → per-doc rollup.
    * Nothing is all-pairs: a window shared by k docs costs k join rows,
    * not k². Only docs with at least one shared window are reported. */
  val chunkOverlap: Q = Q.sql(
    "chunk_overlap",
    s"""WITH $duckChunkStarts,
       |ch AS (SELECT doc_id, $duckChunkDigest AS digest
       |       FROM s WHERE n - start_word >= $ChunkWords),
       |dd AS (SELECT DISTINCT doc_id, digest FROM ch),
       |cnt AS (SELECT digest, count(*) AS n_docs FROM dd GROUP BY 1),
       |per AS (SELECT dd.doc_id, count(*) AS n_digests,
       |          sum(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
       |        FROM dd JOIN cnt ON dd.digest = cnt.digest GROUP BY 1)
       |SELECT doc_id, CAST(n_digests AS BIGINT) AS n_digests,
       |  CAST(n_shared AS BIGINT) AS n_shared,
       |  round(1.0 * n_shared / n_digests, 4) AS shared_ratio
       |FROM per WHERE n_shared >= 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dd = chunkStarts(s, d)
      .filter(col("n") - col("start_word") >= ChunkWords)
      .select(col("doc_id"), chunkDigest.as("digest"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = dd.groupBy("digest").agg(count(lit(1)).as("n_docs"))
    dd.join(cnt, Seq("digest"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_digests"),
        sum(when(col("n_docs") >= 2, 1).otherwise(0)).as("n_shared"))
      .filter(col("n_shared") >= 1)
      .select(col("doc_id"), col("n_digests").cast("long").as("n_digests"),
        col("n_shared").cast("long").as("n_shared"),
        round(lit(1.0) * col("n_shared") / col("n_digests"), 4).as("shared_ratio"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ ngram stats --

  private[graft] val NgramTopN = 10
  private[graft] val NgramBuckets = 64

  /** Corpus n-gram dashboard: the top-10 trigrams per language by
    * frequency — what a corpus release publishes to show boilerplate and
    * what decontamination/repetition thresholds are tuned against.
    *
    * Scale shape: explode → one partial-aggregating groupBy (shuffle
    * bounded at |distinct trigrams|, not corpus size) → TWO-PHASE top-k:
    * a per-(lang, hash-bucket) row_number keeps ≤ 10 rows from each of 64
    * buckets, then the global per-lang rank runs over ≤ 640 survivors.
    * A single per-lang rank window would drag every distinct trigram of a
    * language into ONE partition — the audit_value_quantiles trap; the
    * bucket pre-pass is a pure superset reduction (each global top-10 gram
    * is in its own bucket's top-10 under the same (n DESC, gram) order),
    * so the oracle doesn't need to model the buckets at all. */
  val ngramStats: Q = Q.sql(
    "ngram_stats",
    s"""WITH ${duckWords("lang")},
       |g AS (SELECT lang, unnest(${duckGrams(3)}) AS gram
       |      FROM w),
       |c AS (SELECT lang, gram, count(*) AS n FROM g GROUP BY 1, 2),
       |r AS (SELECT lang, gram, n,
       |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rnk
       |      FROM c)
       |SELECT lang, rnk, gram, n FROM r
       |WHERE rnk <= $NgramTopN ORDER BY lang, rnk""".stripMargin) { (s, d) =>
    val counts = docs(s, d)
      .select(col("lang"), words.as("ws"))
      .select(col("lang"), grams(3).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
    // bucket fn needs no oracle parity: membership in the global top-10
    // implies membership in the owning bucket's top-10 for ANY partition
    // of the grams, so the pre-pass only discards non-winners
    val pre = counts
      .withColumn("bucket", pmod(hash(col("gram")), lit(NgramBuckets)))
      .withColumn("pre_rnk", row_number().over(
        Window.partitionBy("lang", "bucket").orderBy(col("n").desc, col("gram"))))
      .filter(col("pre_rnk") <= NgramTopN)
      .drop("bucket", "pre_rnk")
    pre
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("gram"))))
      .filter(col("rnk") <= NgramTopN)
      .select(col("lang"), col("rnk"), col("gram"), col("n"))
      .orderBy("lang", "rnk")
  }

  // ----------------------------------------------------- collocations --

  private[graft] val PmiMinCount = 5

  /** Pointwise mutual information of adjacent word pairs — the
    * collocation table ("strong association", not "high frequency": a
    * rare pair of rare words can outrank the corpus's top bigram). The
    * complement of ngram_stats' frequency top-k; multiword-expression
    * tokenizer vocabularies and phrase-mining both start here.
    *
    * PMI(x,y) = log2( p(xy) / (p(x) p(y)) ) with p from corpus counts;
    * pairs seen < 5 times are cut (PMI of a count-1 pair is noise).
    *
    * Scale shape: unigram and bigram counts are partial-agg groupBys
    * bounded at |vocab| / |distinct bigrams|; both count tables persist
    * MEMORY_AND_DISK (each is read twice — the 1-row total agg AND the
    * scoring join); the two cx/cy probes are term equi-joins against the
    * un-hinted unigram table (vocabulary grows with the corpus); only
    * the two 1-row totals broadcast. Determinism: each log2 of an exact
    * integer count is rounded once to 6 decimals, combined as DECIMAL
    * (exact, order-independent), emitted at scale 6 — no double quotient
    * exists to tie-break across engines. */
  val pmiBigrams: Q = {
    def lg(x: String) = s"CAST(round(log2($x), 6) AS DECIMAL(18, 6))"
    val pmiFormula =
      s"CAST(${lg("cxy")} + 2 * ${lg("n")} - ${lg("nb")} - ${lg("cx")} - ${lg("cy")} AS DOUBLE)"
    Q.sql(
      "pmi_bigrams",
      s"""WITH ${duckWords("")},
         |ug AS (SELECT unnest(ws) AS term FROM w),
         |uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM ug GROUP BY 1),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
         |bg AS (SELECT unnest(${duckGrams(2)}) AS gram FROM w),
         |bc AS (SELECT gram, CAST(count(*) AS BIGINT) AS cxy FROM bg GROUP BY 1),
         |nbt AS (SELECT CAST(sum(cxy) AS BIGINT) AS nb FROM bc),
         |j AS (SELECT gram, cxy, ux.c AS cx, uy.c AS cy, n, nb
         |      FROM bc
         |      JOIN uc ux ON split_part(gram, ' ', 1) = ux.term
         |      JOIN uc uy ON split_part(gram, ' ', 2) = uy.term
         |      CROSS JOIN nt CROSS JOIN nbt
         |      WHERE cxy >= $PmiMinCount)
         |SELECT gram, cxy AS c_pair, cx AS c_left, cy AS c_right,
         |  $pmiFormula AS pmi
         |FROM j ORDER BY gram""".stripMargin) { (s, d) =>
      val w = docs(s, d).select(words.as("ws"))
      val uc = w.select(explode(col("ws")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nt = uc.agg(sum("c").cast("long").as("n"))
      val bc = w.select(grams(2).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cxy"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nbt = bc.agg(sum("cxy").cast("long").as("nb"))
      bc.filter(col("cxy") >= PmiMinCount)
        .withColumn("w1", expr("split_part(gram, ' ', 1)"))
        .withColumn("w2", expr("split_part(gram, ' ', 2)"))
        .join(uc.withColumnRenamed("term", "w1").withColumnRenamed("c", "cx"), Seq("w1"))
        .join(uc.withColumnRenamed("term", "w2").withColumnRenamed("c", "cy"), Seq("w2"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(nbt))
        .withColumn("pmi", expr(pmiFormula))
        .select(col("gram"), col("cxy").as("c_pair"),
          col("cx").as("c_left"), col("cy").as("c_right"), col("pmi"))
        .orderBy("gram")
    }
  }

  // ---------------------------------------------------- hybrid fusion --

  private[graft] val RrfC = 60
  private[graft] val DenseTopK = 10

  /** One reciprocal-rank contribution, rounded once to 6 decimals as
    * DECIMAL (absent-from-list = 0) — evaluated from ONE formula string
    * by both engines so the fused score is bit-identical. */
  private def rrfContrib(rankCol: String): String =
    s"coalesce(CAST(round(1.0 / ($RrfC + $rankCol), 6) AS DECIMAL(18, 6)), " +
      "CAST(0 AS DECIMAL(18, 6)))"

  private val rrfFormula: String =
    s"round(CAST(${rrfContrib("sparse_rnk")} + ${rrfContrib("dense_rnk")} AS DOUBLE), 6)"

  /** Hybrid retrieval: reciprocal-rank fusion of the two serve paths a
    * corpus platform runs side by side — BM25 over the inverted index
    * (sparse) and cosine top-k over the embedding index (dense). RRF
    * (Cormack et al., SIGIR'09) needs no score calibration between the
    * paths: each doc scores Σ 1/(60 + rank) over the lists that returned
    * it, so a doc surfaced by BOTH paths outranks one surfaced by either
    * alone. The dense leg is seeded by pseudo-relevance feedback
    * (query-by-example, the Rocchio pattern): each query's dense vector
    * is the embedding of its top-1 lexical hit, so the dense list pulls
    * docs semantically near the best keyword match — and the seed doc
    * itself rides both lists, anchoring the fusion.
    *
    * Scale shape: the sparse path is bm25Machine unchanged (corpus never
    * shuffles for the probe); the ≤|queries|-row seed set broadcasts into
    * one embedding-scan equi-join to fetch query vectors, then the
    * query-vector side broadcasts against one more embedding scan
    * (ann_topk posture); both rank windows partition by query, bounded by
    * corpus/cell size; the fusion FULL OUTER join and final rank act on
    * ≤ |queries| × (sparse k + dense k) rows — driver-scale arithmetic at
    * any corpus size. Contributions are rounded once then summed as
    * DECIMAL (exact, order-independent); the fused rank orders by the
    * rounded score with doc_id tiebreak. */
  val hybridRrf: Q = Q.sql(
    "hybrid_rrf",
    s"""WITH $duckBm25Ranks,
       |sk AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |         CAST(rnk AS BIGINT) AS sparse_rnk
       |       FROM r WHERE rnk <= $TopK),
       |seed AS (SELECT query_id, doc_id FROM sk WHERE sparse_rnk = 1),
       |q AS (SELECT seed.query_id, CAST(e.embedding AS DOUBLE[]) AS qe
       |      FROM seed JOIN embeddings e ON e.vec_id = seed.doc_id),
       |${graft.vector.Similarity.duckEmb(name = "ce")},
       |ds AS (SELECT query_id, vec_id AS doc_id,
       |         round(list_cosine_similarity(qe, emb), 4) AS cos_sim
       |       FROM q, ce),
       |dk AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS dense_rnk
       |       FROM (SELECT query_id, doc_id,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY cos_sim DESC, doc_id) AS rnk
       |             FROM ds) WHERE rnk <= $DenseTopK),
       |f AS (SELECT query_id, doc_id, sparse_rnk, dense_rnk,
       |        $rrfFormula AS rrf_score
       |      FROM sk FULL JOIN dk USING (query_id, doc_id)),
       |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY rrf_score DESC, doc_id) AS fused_rank FROM f)
       |SELECT query_id, fused_rank, doc_id, rrf_score, sparse_rnk, dense_rnk
       |FROM fr WHERE fused_rank <= $TopK
       |ORDER BY query_id, fused_rank""".stripMargin) { (s, d) =>
    val sk = bm25Machine(s, d).topk.select(col("query_id").cast("long").as("query_id"),
      col("doc_id"), col("rnk").cast("long").as("sparse_rnk"))
    val e = graft.Tables.embeddings(s, d)
    val seed = sk.filter(col("sparse_rnk") === 1).select("query_id", "doc_id")
    val q = e.join(broadcast(seed), col("vec_id") === col("doc_id"))
      .select(col("query_id"), col("embedding").as("qe"))
    val denseW = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("doc_id"))
    val dk = e.select(col("vec_id").as("doc_id"), col("embedding").as("emb"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("doc_id"),
        round(call_function("graft_cosine", col("qe"), col("emb")), 4)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(denseW))
      .filter(col("rnk") <= DenseTopK)
      .select(col("query_id"), col("doc_id"), col("rnk").cast("long").as("dense_rnk"))
    val fusedW = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("doc_id"))
    sk.join(dk, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", expr(rrfFormula))
      .withColumn("fused_rank", row_number().over(fusedW))
      .filter(col("fused_rank") <= TopK)
      .select(col("query_id"), col("fused_rank"), col("doc_id"),
        col("rrf_score"), col("sparse_rnk"), col("dense_rnk"))
      .orderBy("query_id", "fused_rank")
  }

  /** Chunk-granular dedup over doc_chunk's sliding windows: digests that
    * recur across ≥2 DOCUMENTS — the boilerplate/quoted-passage dup that
    * document-level dedup can't see (two distinct pages sharing a footer
    * or a quoted paragraph dedup_exact scores as different docs). Runs on
    * the SAME chunk geometry the RAG serving path uses (ChunkWords/
    * ChunkStride), so "duplicate chunk" here = duplicate retrieval unit.
    *
    * Scale shape: doc_chunk's explode is linear; the digest groupBy is a
    * hash partial-agg (dedup_exact's shape) bounded by |distinct
    * digests|; the ≥2-docs filter runs on the aggregate. Within-doc
    * self-overlap (stride < window re-hashing the same words) cannot
    * inflate the report: the count is distinct DOCS per digest. */
  val chunkDedup: Q = Q.sql(
    "chunk_dedup",
    s"""WITH $duckChunkStarts,
       |c AS (SELECT doc_id, $duckChunkDigest AS chunk_digest FROM s)
       |SELECT chunk_digest, count(*) AS n_chunks,
       |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
       |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY chunk_digest""".stripMargin) { (s, d) =>
    chunkStarts(s, d)
      .select(col("doc_id"), chunkDigest.as("chunk_digest"))
      .groupBy("chunk_digest")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_digest")
  }

  /** BM25 knob-sensitivity report: the k1/b grid (saturation and
    * length-normalization strength, including the b = 0.1 near-off and
    * b = 1.0 full-normalization corners) re-ranked against the default
    * (1.2, 0.75) serve path — per config, the mean top-10 Jaccard and
    * the share of queries whose TOP hit survives. The pre-deploy answer
    * to "can we tune ranking without re-indexing churn": overlap ≈ 1
    * means the knob is free; a b-row collapsing the overlap means doc
    * length, not term mix, is driving this corpus's ranking. Candidate
    * sets are knob-independent (any-term match), so Jaccard compares
    * equal-size lists and isolates pure rank movement.
    *
    * Determinism: one parameterized contribution string (k1v/bv as
    * columns) evaluated token-identically by both engines, rounded once
    * and DECIMAL-summed (the bm25_search discipline); per-query Jaccard
    * rounded once then DECIMAL-summed into the mean.
    *
    * Scale: reuses the ONE persisted tf table; the config grid
    * multiplies only probe-hit rows (≤ |configs|·|query-term matches|);
    * every window partitions on (config, query). */
  val bm25ParamSensitivity: Q = {
    val cfgRows = Seq((1, "1.2", "0.75"), (2, "0.6", "0.75"),
      (3, "2.0", "0.75"), (4, "1.2", "0.1"), (5, "1.2", "1.0"))
    val paramContrib =
      "round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf * (k1v + 1) " +
        "/ (tf + k1v * (1 - bv + bv * dl * n_docs / sum_dl)), 6)"
    val duckCfgValues = cfgRows
      .map { case (id, k1v, bv) => s"($id, $k1v, $bv)" }.mkString(", ")
    Q.sql(
      "bm25_param_sensitivity",
      s"""WITH $duckBm25Head,
        |cfg(cfg_id, k1v, bv) AS (VALUES $duckCfgValues),
        |c AS (SELECT cfg.cfg_id, qt.query_id, tf.doc_id,
        |        CAST($paramContrib AS DECIMAL(18, 6)) AS c
        |      FROM qt JOIN tf ON qt.term = tf.term
        |           JOIN dft ON dft.term = qt.term CROSS JOIN st CROSS JOIN cfg),
        |sc AS (SELECT cfg_id, query_id, doc_id,
        |         CAST(round(sum(c), 4) AS DOUBLE) AS score
        |       FROM c GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY cfg_id, query_id
        |        ORDER BY score DESC, doc_id) AS rnk FROM sc),
        |top AS (SELECT cfg_id, query_id, doc_id, rnk FROM r WHERE rnk <= $TopK),
        |base AS (SELECT query_id, doc_id, rnk FROM top WHERE cfg_id = 1),
        |inter AS (SELECT t.cfg_id, t.query_id, CAST(count(*) AS BIGINT) AS ix
        |          FROM top t JOIN base b
        |            ON t.query_id = b.query_id AND t.doc_id = b.doc_id
        |          GROUP BY 1, 2),
        |sizes AS (SELECT cfg_id, query_id, CAST(count(*) AS BIGINT) AS sz,
        |            min(CASE WHEN rnk = 1 THEN doc_id END) AS top1
        |          FROM top GROUP BY 1, 2),
        |bsz AS (SELECT query_id, CAST(count(*) AS BIGINT) AS bs,
        |          min(CASE WHEN rnk = 1 THEN doc_id END) AS btop1
        |        FROM base GROUP BY 1),
        |j AS (SELECT s.cfg_id, s.query_id,
        |        CAST(round(1.0 * coalesce(ix, 0) / (sz + bs - coalesce(ix, 0)), 6)
        |          AS DECIMAL(18, 6)) AS jacc,
        |        CASE WHEN s.top1 = b.btop1 THEN 1 ELSE 0 END AS t1
        |      FROM sizes s JOIN bsz b ON s.query_id = b.query_id
        |        LEFT JOIN inter i ON i.cfg_id = s.cfg_id AND i.query_id = s.query_id)
        |SELECT cfg.cfg_id, CAST(cfg.k1v AS DOUBLE) AS k1, CAST(cfg.bv AS DOUBLE) AS b,
        |  CAST(count(*) AS BIGINT) AS n_queries,
        |  round(CAST(sum(jacc) AS DOUBLE) / count(*), 4) AS mean_top10_jaccard,
        |  round(1.0 * sum(t1) / count(*), 4) AS top1_match_share
        |FROM j JOIN cfg ON j.cfg_id = cfg.cfg_id
        |GROUP BY 1, 2, 3 ORDER BY cfg.cfg_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val Bm25(tf, dft, stats, _) = bm25Machine(s, d)
      val qt = queryTerms(s)
      val cfg = cfgRows.map { case (id, k1v, bv) => (id, k1v.toDouble, bv.toDouble) }
        .toDF("cfg_id", "k1v", "bv")
      val top = tf.join(broadcast(qt), Seq("term"))
        .join(broadcast(dft), Seq("term"))
        .crossJoin(broadcast(stats))
        .crossJoin(broadcast(cfg))
        .withColumn("c", expr(paramContrib).cast("decimal(18,6)"))
        .groupBy("cfg_id", "query_id", "doc_id").agg(sum("c").as("dsum"))
        .withColumn("score", round(col("dsum"), 4).cast("double"))
        .withColumn("rnk", row_number().over(Window
          .partitionBy("cfg_id", "query_id")
          .orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rnk") <= TopK)
        .select("cfg_id", "query_id", "doc_id", "rnk")
        // read twice (the cfg_id=1 baseline + the overlap join) — pin the
        // <=|cfg|*|q|*k-row frame so the score chain runs once (the
        // tok_unigram chain-depth lesson)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = top.filter(col("cfg_id") === 1)
        .select(col("query_id"), col("doc_id"),
          col("rnk").as("brnk"))
      val inter = top.join(broadcast(base), Seq("query_id", "doc_id"))
        .groupBy("cfg_id", "query_id").agg(count(lit(1)).cast("long").as("ix"))
      val sizes = top.groupBy("cfg_id", "query_id")
        .agg(count(lit(1)).cast("long").as("sz"),
          min(when(col("rnk") === 1, col("doc_id"))).as("top1"))
      val bsz = base.groupBy("query_id")
        .agg(count(lit(1)).cast("long").as("bs"),
          min(when(col("brnk") === 1, col("doc_id"))).as("btop1"))
      val j = sizes.join(broadcast(bsz), Seq("query_id"))
        .join(inter, Seq("cfg_id", "query_id"), "left")
        .select(col("cfg_id"),
          expr("CAST(round(1.0 * coalesce(ix, 0) / (sz + bs - coalesce(ix, 0)), 6) AS DECIMAL(18, 6))")
            .as("jacc"),
          when(col("top1") === col("btop1"), 1).otherwise(0).as("t1"))
      j.join(broadcast(cfg), Seq("cfg_id"))
        .groupBy(col("cfg_id"), col("k1v").as("k1"), col("bv").as("b"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          round(sum("jacc").cast("double") / count(lit(1)), 4)
            .as("mean_top10_jaccard"),
          round(lit(1.0) * sum("t1") / count(lit(1)), 4).as("top1_match_share"))
        .orderBy("cfg_id")
    }
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM1-lite) on the
    * LIVE BM25 machinery: take each query's top-3 BM25 docs as the
    * pseudo-relevant set, mine the 2 highest tf·idf terms from them (the
    * original query terms excluded), re-score with the expanded query
    * (original terms weight 1.0, expansion terms 0.5), and report the new
    * top-k with an entered_topk flag for docs the expansion surfaced.
    *
    * Scale posture is the bm25_search posture end to end: the corpus tf
    * table is built once (persisted) and every probe side stays bounded —
    * feedback docs (3/query), candidate terms (terms of 3 docs), expanded
    * terms (≤ |query terms|+2/query) and df tables all broadcast; the
    * corpus never shuffles for the probe. Weights and contributions round
    * once to 6 decimals (shared formula strings), sums ride DECIMAL. */
  val queryExpansionPrf: Q = Q.sql(
    "query_expansion_prf",
    s"""WITH $duckBm25Ranks,
       |rtop AS (SELECT query_id, doc_id FROM r WHERE rnk <= $TopK),
       |fb AS (SELECT query_id, doc_id FROM r WHERE rnk <= 3),
       |fbw AS (SELECT f.query_id, tf.term, CAST(sum(tf.tf) AS BIGINT) AS fbw
       |        FROM fb f JOIN tf ON tf.doc_id = f.doc_id GROUP BY 1, 2),
       |cd AS (SELECT term, count(*) AS df FROM tf
       |       WHERE term IN (SELECT DISTINCT term FROM fbw) GROUP BY 1),
       |ex AS (SELECT query_id, term, 0.5 AS qw FROM (
       |         SELECT fbw.query_id, fbw.term,
       |           row_number() OVER (PARTITION BY fbw.query_id
       |             ORDER BY round(fbw.fbw * ln(1.0 * st.n_docs / cd.df), 6) DESC,
       |                      fbw.term) AS rn
       |         FROM fbw JOIN cd ON cd.term = fbw.term CROSS JOIN st
       |         LEFT JOIN qt q ON q.query_id = fbw.query_id AND q.term = fbw.term
       |         WHERE q.term IS NULL)
       |       WHERE rn <= 2),
       |exq AS (SELECT query_id, term, 1.0 AS qw FROM qt
       |        UNION ALL SELECT query_id, term, qw FROM ex),
       |dft2 AS (SELECT term, count(*) AS df FROM tf
       |         WHERE term IN (SELECT DISTINCT term FROM exq) GROUP BY 1),
       |c2 AS (SELECT e.query_id, tf.doc_id,
       |         CAST($contribWeighted AS DECIMAL(18, 6)) AS c
       |       FROM exq e JOIN tf ON tf.term = e.term
       |            JOIN dft2 ON dft2.term = e.term CROSS JOIN st),
       |sc2 AS (SELECT query_id, doc_id, CAST(round(sum(c), 4) AS DOUBLE) AS score
       |        FROM c2 GROUP BY 1, 2),
       |r2 AS (SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, doc_id) AS rnk
       |       FROM sc2)
       |SELECT r2.query_id, CAST(r2.rnk AS BIGINT) AS rnk, r2.doc_id, r2.score,
       |  (o.doc_id IS NULL) AS entered_topk
       |FROM r2 LEFT JOIN rtop o
       |  ON o.query_id = r2.query_id AND o.doc_id = r2.doc_id
       |WHERE r2.rnk <= $TopK ORDER BY r2.query_id, r2.rnk""".stripMargin) { (s, d) =>
    val Bm25(tf, _, stats, topk0) = bm25Machine(s, d)
    // the serve ranking is read twice (feedback docs + the entered_topk
    // join) and the expansion chain is ~10 sequential jobs deep — pin
    // the <=|q|*k-row frame so the second read is a cache hit, not a
    // second corpus pass (the tok_unigram chain-depth lesson)
    val topk = topk0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qt = queryTerms(s)
    val fb = topk.filter(col("rnk") <= 3).select(col("query_id"), col("doc_id"))
    val fbw = tf.join(broadcast(fb), Seq("doc_id"))
      .groupBy("query_id", "term").agg(sum("tf").cast("long").as("fbw"))
    // ONE df pass serves both readers: cd (feedback-term idf for the
    // expansion rank) and dft2 (the re-score) — exq's terms are a
    // subset of fbw-terms ∪ query-terms by construction, so separate
    // cd/dft2 passes would scan tf twice for the same counts
    val dfAll = tf.join(
        broadcast(fbw.select("term").unionByName(qt.select("term")).distinct()),
        Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val cd = dfAll
    val exW = Window.partitionBy("query_id")
      .orderBy(round(col("fbw") * log(lit(1.0) * col("n_docs") / col("df")), 6).desc,
        col("term"))
    val ex = fbw.join(qt, Seq("query_id", "term"), "left_anti")
      .join(broadcast(cd), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("rn", row_number().over(exW))
      .filter(col("rn") <= 2)
      .select(col("query_id"), col("term"), lit(0.5).as("qw"))
    val exq = qt.withColumn("qw", lit(1.0)).unionByName(ex)
    val dft2 = dfAll
    val c2 = tf.join(broadcast(exq), Seq("term"))
      .join(broadcast(dft2), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("c", expr(contribWeighted).cast("decimal(18,6)"))
    val r2 = c2.groupBy("query_id", "doc_id").agg(sum("c").as("dsum"))
      .withColumn("score", round(col("dsum"), 4).cast("double"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rnk") <= TopK)
    val orig = topk.select(col("query_id").as("oq"), col("doc_id").as("od"))
    r2.join(broadcast(orig),
        col("oq") === col("query_id") && col("od") === col("doc_id"), "left")
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"),
        col("od").isNull.as("entered_topk"))
      .orderBy("query_id", "rnk")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): split each document into
    * candidate phrases at stopword boundaries (the house stopword set —
    * the [[graft.text.CorpusOps]] quality-gate trio), score each word
    * within its document by degree/frequency (degree = summed length of
    * the phrase occurrences containing it — words that travel in long
    * phrases score high), and rank each doc's phrases by the sum of
    * their words' scores. The per-document co-occurrence complement of
    * [[tfidfKeywords]]' corpus-statistical scoring: tf-idf finds words
    * rare ACROSS docs, RAKE finds multi-word phrases central WITHIN one.
    * Top-3 phrases per doc, ties by phrase string.
    *
    * Scale shape: the whole chain runs once per DISTINCT text (RAKE is
    * a pure function of the text — the duplicate-collapse discipline,
    * SURVEY §4) with the per-doc rows expanded by a linear membership
    * join at the end; phrase segmentation is the gaps-and-islands
    * window PER TEXT (text-key partitions — corpus-cardinality keys,
    * never a low-cardinality global window); word stats
    * partial-aggregate on (text, word); the phrase-score join keys on
    * (text, word) — every stage lives in the same text-keyed exchange
    * family.
    *
    * Determinism: degree and frequency are exact integers; each word
    * ratio is rounded once to 6 and the phrase score is a DECIMAL sum
    * of rounded ratios (order-free), ranked with phrase tiebreak. */
  val docKeyphraseRake: Q = {
    // The RAKE chain is a pure function of `text`, parameterized on its
    // document source so the scale twin can run it once per DISTINCT text
    def rakeCtes(src: String): String =
      s"""t AS (SELECT doc_id, w AS word, CAST(i AS BIGINT) AS pos,
      |    CASE WHEN w IN ('the', 'a', 'of') THEN 1 ELSE 0 END AS stop
      |  FROM (SELECT doc_id, unnest(${duckWordList()}) AS w,
      |          generate_subscripts(${duckWordList()}, 1) AS i
      |        FROM $src)
      |  WHERE length(w) > 0),
      |nw AS (SELECT doc_id, word, pos,
      |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
      |           AS grp
      |       FROM t WHERE stop = 0),
      |ph AS (SELECT doc_id, grp,
      |         string_agg(word, ' ' ORDER BY pos) AS phrase,
      |         CAST(count(*) AS BIGINT) AS plen
      |       FROM nw GROUP BY 1, 2),
      |wo AS (SELECT nw.doc_id, nw.word, nw.grp, ph.plen
      |       FROM nw JOIN ph ON nw.doc_id = ph.doc_id AND nw.grp = ph.grp),
      |ws AS (SELECT doc_id, word, CAST(sum(plen) AS BIGINT) AS deg,
      |         CAST(count(*) AS BIGINT) AS freq
      |       FROM wo GROUP BY 1, 2),
      |psc AS (SELECT wo.doc_id, wo.grp,
      |          sum(CAST(round((1e0 * ws.deg) / ws.freq, 6)
      |            AS DECIMAL(18, 6))) AS sdec
      |        FROM wo JOIN ws ON wo.doc_id = ws.doc_id AND wo.word = ws.word
      |        GROUP BY 1, 2),
      |r AS (SELECT ph.doc_id, ph.phrase,
      |        CAST(round(psc.sdec, 4) AS DOUBLE) AS score,
      |        row_number() OVER (PARTITION BY ph.doc_id
      |          ORDER BY round(psc.sdec, 4) DESC, ph.phrase) AS rnk
      |      FROM ph JOIN psc ON ph.doc_id = psc.doc_id AND ph.grp = psc.grp)""".stripMargin
    // Scale twin: RAKE depends on nothing but the text (the stopword set
    // is fixed), so 100x exact twinning re-derives the same phrases 100x
    // in the naive shape — enough token-window mass to OOM single-box
    // DuckDB. The twin segments/scores one representative per distinct
    // text and joins the per-doc rows back through the membership map.
    val scaleOracle =
      s"""WITH grp AS MATERIALIZED (SELECT min(doc_id) AS gid, text
      |       FROM documents GROUP BY text),
      |gmr AS MATERIALIZED (SELECT d.doc_id, g.gid
      |       FROM documents d JOIN grp g USING (text)),
      |gdoc AS MATERIALIZED (SELECT gid AS doc_id, text FROM grp),
      |${rakeCtes("gdoc")}
      |SELECT gmr.doc_id, CAST(r.rnk AS BIGINT) AS rnk, r.phrase, r.score
      |FROM r JOIN gmr ON r.doc_id = gmr.gid
      |WHERE r.rnk <= 3 ORDER BY 1, 2""".stripMargin
    Q.sqlDual(
    "doc_keyphrase_rake",
    s"""WITH ${rakeCtes("documents")}
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, phrase, score FROM r
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    scaleOracle) { (s, d) =>
    // RAKE is a pure function of the text, so the Spark side mirrors the
    // scale twin: segment + score once per DISTINCT text (the
    // Tokens.distinctTexts collapse — tkey replaces doc_id through
    // the whole chain) and expand the ≤3 phrase rows per doc through
    // the linear membership join at the end. Twin docs re-derive
    // identical phrases, so the output is bit-identical to the per-doc
    // run the naive oracle computes.
    val (keyed, dist) = distinctTexts(docs(s, d))
    val t = dist
      .select(col("tkey"), posexplode(words).as(Seq("p", "word")))
      .filter(length(col("word")) > 0)
      .select(col("tkey"), col("word"), (col("p") + 1).cast("long").as("pos"),
        when(col("word").isin("the", "a", "of"), 1).otherwise(0).as("stop"))
    val islandW = Window.partitionBy("tkey").orderBy("pos")
    val nw = t.filter(col("stop") === 0)
      .withColumn("grp", col("pos") - row_number().over(islandW))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ph = nw.groupBy("tkey", "grp")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, word))), x -> x.word), ' ')")
        .as("phrase"),
        count(lit(1)).cast("long").as("plen"))
    val wo = nw.select(col("tkey"), col("word"), col("grp"))
      .join(ph.select(col("tkey"), col("grp"), col("plen")), Seq("tkey", "grp"))
    val wscore = wo.groupBy("tkey", "word")
      .agg(sum("plen").cast("long").as("deg"), count(lit(1)).cast("long").as("freq"))
    val psc = wo.join(wscore, Seq("tkey", "word"))
      .groupBy("tkey", "grp")
      .agg(sum(round(lit(1e0) * col("deg") / col("freq"), 6)
        .cast("decimal(18,6)")).as("sdec"))
    // round the DECIMAL, not a double cast of it: the exact sum can end
    // in …5 at the 5th decimal, and a double round there is the engine-
    // split tie class (pii_dp_histogram's lesson); decimal HALF_UP is
    // identical in both engines
    val rankW = Window.partitionBy("tkey")
      .orderBy(round(col("sdec"), 4).desc, col("phrase"))
    val top = ph.join(psc, Seq("tkey", "grp"))
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= 3)
      .select(col("tkey"), col("rnk").cast("long").as("rnk"),
        col("phrase"), round(col("sdec"), 4).cast("double").as("score"))
    keyed.join(top, Seq("tkey"))
      .select(col("doc_id"), col("rnk"), col("phrase"), col("score"))
      .orderBy("doc_id", "rnk")
    }
  }

  /** Fixed phrase workload for [[bm25Phrase]] — (query_id, phrase,
    * word count); mixed 2- and 3-word phrases so both n-gram paths are
    * exercised. */
  private[graft] val phraseQueries: Seq[(Int, String, Int)] = Seq(
    (1, "order fast", 2), (2, "stream column", 2), (3, "big order scan", 3))

  /** Phrase retrieval: exact adjacent-word match ranked by BM25 with the
    * PHRASE as the indexing unit — the positional-index query class
    * [[bm25Search]]'s bag-of-words scoring cannot express ("stream
    * column" ≠ docs containing both words somewhere). Phrase term
    * frequency = occurrence count of the exact n-gram; document
    * frequency = docs containing it; both feed the same quarantined
    * [[contribFormula]] so phrase and term scores live on one scale and
    * a hybrid ranker can mix them.
    *
    * Scale shape: the corpus is scanned ONCE per n-gram length actually
    * present in the workload (here 2 and 3) through the native shingler,
    * filtered by a BROADCAST phrase list before any aggregation — the
    * shuffle carries only matching (doc, phrase) rows, which is the
    * phrase's postings list, not the corpus. df and corpus stats are
    * ≤|queries|-row broadcasts; ranking windows on per-query postings. */
  val bm25Phrase: Q = {
    val duckPhraseValues = phraseQueries
      .map { case (qid, p, l) => s"($qid, '$p', $l)" }.mkString(", ")
    Q.sql(
      "bm25_phrase",
      s"""WITH pq(query_id, phrase, plen) AS (VALUES $duckPhraseValues),
         |${duckWords()},
         |st AS (SELECT count(*) AS n_docs, sum(len(ws)) AS sum_dl FROM w),
         |g2 AS (SELECT doc_id, len(ws) AS dl,
         |         unnest(${duckGrams(2)}) AS gram FROM w),
         |g3 AS (SELECT doc_id, len(ws) AS dl,
         |         unnest(${duckGrams(3)}) AS gram
         |       FROM w),
         |hits AS (SELECT pq.query_id, g.doc_id, g.dl, count(*) AS tf
         |         FROM pq JOIN g2 g ON pq.plen = 2 AND g.gram = pq.phrase
         |         GROUP BY 1, 2, 3
         |         UNION ALL
         |         SELECT pq.query_id, g.doc_id, g.dl, count(*) AS tf
         |         FROM pq JOIN g3 g ON pq.plen = 3 AND g.gram = pq.phrase
         |         GROUP BY 1, 2, 3),
         |dfp AS (SELECT query_id, CAST(count(*) AS BIGINT) AS df
         |        FROM hits GROUP BY 1),
         |c AS (SELECT h.query_id, h.doc_id, h.tf,
         |        CAST($contribFormula AS DECIMAL(18, 6)) AS c
         |      FROM hits h JOIN dfp ON h.query_id = dfp.query_id CROSS JOIN st),
         |r AS (SELECT query_id, doc_id, CAST(tf AS BIGINT) AS phrase_tf,
         |        CAST(round(c, 4) AS DOUBLE) AS score,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY round(c, 4) DESC, doc_id) AS rnk
         |      FROM c)
         |SELECT query_id, rnk, doc_id, phrase_tf, score FROM r
         |WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
      import s.implicits._
      val pq = phraseQueries.toDF("query_id", "phrase", "plen")
      val w = docs(s, d)
        .select(col("doc_id"), words.as("ws"))
      val st = w.agg(count(lit(1)).as("n_docs"), sum(size(col("ws"))).as("sum_dl"))
      val hits = Seq(2, 3).map { l =>
        w.select(col("doc_id"), size(col("ws")).as("dl"), grams(l).as("gram"))
          .join(broadcast(pq.filter(col("plen") === l)),
            col("gram") === col("phrase"))
          .groupBy("query_id", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      }.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfp = hits.groupBy("query_id").agg(count(lit(1)).cast("long").as("df"))
      val rankW = Window.partitionBy("query_id")
        .orderBy(round(col("c"), 4).desc, col("doc_id"))
      hits.join(broadcast(dfp), Seq("query_id"))
        .crossJoin(broadcast(st))
        .withColumn("c", expr(contribFormula).cast("decimal(18,6)"))
        .withColumn("rnk", row_number().over(rankW))
        .filter(col("rnk") <= TopK)
        .select(col("query_id"), col("rnk"), col("doc_id"),
          col("tf").cast("long").as("phrase_tf"),
          round(col("c"), 4).cast("double").as("score"))
        .orderBy("query_id", "rnk")
    }
  }

  val all: Seq[Q] = Seq(docChunk, bm25Search, bm25Eval, tfidfKeywords, chunkOverlap,
    ngramStats, pmiBigrams, hybridRrf, chunkDedup, bm25ParamSensitivity,
    queryExpansionPrf, bm25Phrase, docKeyphraseRake)
}
