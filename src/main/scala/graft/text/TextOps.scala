package graft.text

import graft.Q
import graft.Tables.{documents => docs}
import graft.text.Tokens.{distinctTexts, duckDistinctTexts, duckGrams, duckShingleCtes,
  duckShingleRows, duckWordList, duckWords, shingles, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis + deduplication operators over the `documents` table.
  *
  * Hash-family discipline: every hash used by an oracle-verified operator
  * is built from primitives with identical semantics in Spark and DuckDB —
  * md5 hex, 1-based substring, strpos/instr nibble decode, explicit mod-p
  * integer arithmetic. Ratios are computed as exact int/int double
  * divisions before rounding, so both engines see bit-identical values.
  *
  * Scale design: all dedup operators are *blocked* (lang×source blocks,
  * MinHash bands, SimHash buckets) so candidate generation is an equi-join
  * on the block key — at 100 TB the pair space is bounded per block and the
  * join shuffle-partitions cleanly; nothing here is O(n²) over the corpus.
  */
object TextOps {

  // ------------------------------------------------------------ exact --

  /** Exact duplicate groups via content hash. */
  val dedupExact: Q = Q.sql(
    "dedup_exact",
    """SELECT md5(text) AS fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin) { (s, d) =>
    docs(s, d).groupBy(md5(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .orderBy("fingerprint")
  }

  /** Prefix-duplicate groups: documents sharing their first 96 chars —
    * the truncated-crawl / pagination-duplicate detector. A crawler that
    * re-fetches a page and gets cut off (or an extractor that appends
    * navigation tails) produces documents whose HEADS are identical while
    * full-text hashing sees distinct content and shingle methods dilute
    * the overlap across the whole doc; head-keyed dedup is the standard
    * complement (CCNet-style URL+prefix keys). Per group (>1 member):
    * member count, how many distinct FULL texts it spans (n_full_variants
    * = 1 means dedup_exact already catches it; > 1 is the incremental
    * yield of this detector), source spread, the kept doc (min id) and
    * the chars an erasure of the rest reclaims.
    *
    * Scale: one hash groupBy (map-side partial agg) — the dedup_exact
    * shape with a substring key; no joins, no windows. */
  val dedupPrefix: Q = Q.sql(
    "dedup_prefix",
    """WITH g AS (
      |  SELECT md5(substr(text, 1, 96)) AS prefix_hash,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_full_variants,
      |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |    min(doc_id) AS keeper_doc,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    CAST(min_by(n_chars, doc_id) AS BIGINT) AS keeper_chars
      |  FROM documents GROUP BY 1)
      |SELECT prefix_hash, n_docs, n_full_variants, n_sources, keeper_doc,
      |  CAST(total_chars - keeper_chars AS BIGINT) AS reclaimable_chars
      |FROM g WHERE n_docs > 1 ORDER BY prefix_hash""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy(md5(expr("substring(text, 1, 96)")).as("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_full_variants"),
        countDistinct("source").as("n_sources"),
        min("doc_id").as("keeper_doc"),
        sum("n_chars").cast("long").as("total_chars"),
        expr("min_by(n_chars, doc_id)").cast("long").as("keeper_chars"))
      .filter(col("n_docs") > 1)
      .select(col("prefix_hash"), col("n_docs"), col("n_full_variants"),
        col("n_sources"), col("keeper_doc"),
        (col("total_chars") - col("keeper_chars")).cast("long")
          .as("reclaimable_chars"))
      .orderBy("prefix_hash")
  }

  /** Sorted bag-of-words fingerprint — single definition shared by
    * dedup_bow and dedup_source_matrix (both dialects). */
  private val duckBowFp =
    s"md5(array_to_string(list_sort(list_distinct(${duckWordList()})), ' '))"
  private def bowFp: org.apache.spark.sql.Column =
    md5(array_join(array_sort(array_distinct(words)), " "))

  /** Word-order-insensitive duplicates: sorted bag-of-words fingerprint. */
  val dedupBow: Q = Q.sql(
    "dedup_bow",
    s"""SELECT $duckBowFp AS fingerprint,
      |  count(*) AS n_docs, min(doc_id) AS min_doc_id
      |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin) { (s, d) =>
    docs(s, d)
      .groupBy(bowFp.as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .orderBy("fingerprint")
  }

  /** Cross-source duplicate-flow matrix: which sources copy from which —
    * the provenance readout dedup clusters flatten away (a scraper
    * mirroring another feed, a vendor reselling a crawl, boilerplate
    * syndication all surface as off-diagonal mass). Pairs are counted on
    * the bag-of-words plane (this corpus has no byte-exact dups — the
    * bow fingerprint is the [[dedupBow]] definition, shared verbatim);
    * diagonal rows carry within-source dup pairs c·(c−1)/2, off-diagonal
    * rows cₐ·c_b per shared fingerprint. Sparse: zero cells are omitted.
    *
    * Scale: one corpus scan partial-aggregates to the (fingerprint,
    * source) frame (persisted MEMORY_AND_DISK — read by the cross join
    * AND the diagonal pass); the self-join is an equi-join on the
    * fingerprint whose per-key fan-out is bounded by |sources|; the
    * matrix is ≤ |sources|² rows. No pair of raw documents is ever
    * materialized. */
  val dedupSourceMatrix: Q = Q.sql(
    "dedup_source_matrix",
    s"""WITH ds AS (
      |  SELECT $duckBowFp AS fp, source, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |x AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    count(*) AS n_shared_fp, CAST(sum(a.c * b.c) AS BIGINT) AS n_pairs
      |  FROM ds a JOIN ds b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2),
      |diag AS (
      |  SELECT source AS src_a, source AS src_b,
      |    count(*) AS n_shared_fp, CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_pairs
      |  FROM ds WHERE c >= 2 GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared_fp, n_pairs
      |FROM (SELECT * FROM x UNION ALL SELECT * FROM diag)
      |WHERE n_pairs > 0 ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    val ds = docs(s, d)
      .groupBy(bowFp.as("fp"), col("source"))
      .agg(count(lit(1)).cast("long").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = ds.select(col("fp"), col("source").as("src_a"), col("c").as("ca"))
    val b = ds.select(col("fp"), col("source").as("src_b"), col("c").as("cb"))
    val x = a.join(b, Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_fp"),
        sum(col("ca") * col("cb")).cast("long").as("n_pairs"))
    val diag = ds.filter(col("c") >= 2)
      .groupBy(col("source").as("src_a"))
      .agg(count(lit(1)).as("n_shared_fp"),
        sum(expr("c * (c - 1) div 2")).cast("long").as("n_pairs"))
      .select(col("src_a"), col("src_a").as("src_b"),
        col("n_shared_fp"), col("n_pairs"))
    x.unionByName(diag)
      .filter(col("n_pairs") > 0)
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------- jaccard --

  /** The round-2 sliced-`zip_with` formulation, kept as the
    * composition-only twin ([[WordShingles]] equivalence is spec-asserted
    * against it). */
  private[graft] def shingleHofExpr(ws: String): String =
    s"""CASE WHEN size($ws) < 3 THEN array()
       |ELSE zip_with(
       |  slice($ws, 1, size($ws) - 2),
       |  zip_with(slice($ws, 2, size($ws) - 2), slice($ws, 3, size($ws) - 2),
       |    (y, z) -> concat(y, ' ', z)),
       |  (x, yz) -> concat(x, ' ', yz)) END""".stripMargin

  /** Per-block shingle document-frequency cap: a shingle present in more
    * than this many documents of its (lang, source) block carries no
    * near-duplicate signal and is dropped before candidate generation.
    * This bounds the inverted-index join at ≤ cap² pairs per shingle — the
    * invariant that keeps the operator finite at 100 TB, where a single
    * boilerplate shingle can otherwise appear in millions of documents and
    * emit O(k²) candidates. Jaccard is then measured over the capped
    * (discriminative) shingle sets on both engines. */
  private[graft] val ShingleDfCap = 50

  /** CTE chain computing the df-capped jaccard pair list `j(doc_a, doc_b,
    * jacc)` — the oracle twin of [[jaccardPairs]], shared by
    * `dedup_ngram_jaccard` and `dedup_components` (emitted without the
    * leading WITH so the components oracle can prepend RECURSIVE). */
  private val jaccardPairsCtesSql: String =
    s"""${duckShingleRows("doc_id, lang, source")},
       |dft AS MATERIALIZED (SELECT lang, source, shingle FROM ex
       |        GROUP BY 1, 2, 3 HAVING count(*) <= $ShingleDfCap),
       |exf AS (SELECT doc_id, lang, source, shingle
       |        FROM ex JOIN dft USING (lang, source, shingle)),
       |szs AS (SELECT doc_id, count(*) AS sz FROM exf GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |      FROM exf a JOIN exf b
       |        ON a.lang = b.lang AND a.source = b.source
       |        AND a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b,
       |        round(1.0 * common / (sa.sz + sb.sz - common), 4) AS jacc
       |      FROM p JOIN szs sa ON p.doc_a = sa.doc_id
       |             JOIN szs sb ON p.doc_b = sb.doc_id)""".stripMargin

  /** Star edges over a (doc_id, fp) fingerprint relation: every doc links
    * to its group's min doc id — k-1 edges per k-member duplicate group
    * (an fp self-join emits k²/2; at 100 TB a boilerplate page duplicated
    * 1M× would mean 5·10¹¹ pairs). The connected components are identical:
    * a star reaches every member of the group through the root. One window
    * over the fp hash-partitioning, no join. */
  def bowStarEdges(bow: DataFrame): DataFrame =
    bow.withColumn("root", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("a"), col("doc_id").as("b"))

  /** All same-block candidate pairs over the df-capped shingle sets with
    * the raw overlap facts — (doc_a, doc_b, common, sz_a, sz_b),
    * doc_a < doc_b, unthresholded. Shared base of [[dedupNgramJaccard]]
    * (symmetric |a∩b|/|a∪b|) and [[dedupContainment]] (asymmetric
    * |a∩b|/min(|a|,|b|)) — one candidate generator, two similarity
    * readouts. */
  private def cappedPairStats(s: SparkSession, d: String): DataFrame = {
    val ex = docs(s, d)
      .select(col("doc_id"), col("lang"), col("source"), words.as("ws"))
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(shingles(3)).as("s3"))
      .select(col("doc_id"), col("lang"), col("source"), explode(col("s3")).as("shingle"))
    // df cap as a window over the join key: the window's hash partitioning
    // on (lang, source, shingle) is exactly the join's requirement, so the
    // exchange is computed once and reused by both join sides
    val exf = ex
      .withColumn("df", count(lit(1)).over(Window.partitionBy("lang", "source", "shingle")))
      .filter(col("df") <= ShingleDfCap)
      .drop("df")
    val szs = exf.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // shuffle-hash: the exploded build side is too large for a healthy
    // broadcast (driver-built hash table); hash-partitioning both sides on
    // the (block, shingle) key builds in parallel and is the 100 TB shape
    val pairs = exf.select(col("doc_id").as("doc_a"), col("lang"), col("source"), col("shingle"))
      .join(exf.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
          col("source").as("source_b"), col("shingle").as("shingle_b"))
          .hint("shuffle_hash"),
        col("lang") === col("lang_b") && col("source") === col("source_b") &&
        col("shingle") === col("shingle_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    pairs
      .join(szs.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(szs.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
  }

  /** All same-block candidate pairs with exact (df-capped) jaccard —
    * (doc_a, doc_b, jacc), doc_a < doc_b, unthresholded. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    cappedPairStats(s, d)
      .select(col("doc_a"), col("doc_b"),
        round(lit(1.0) * col("common") / (col("sz_a") + col("sz_b") - col("common")), 4)
          .as("jacc"))

  /** 3-gram shingle Jaccard near-dup pairs, blocked on (lang, source),
    * via a df-capped inverted index: candidates come from an equi-join on
    * (block, shingle) over shingles with df ≤ [[ShingleDfCap]];
    * |a∩b| = shared-shingle count, |a∪b| = |a|+|b|-|a∩b|. The oracle runs
    * the identical df-capped formulation, so the hash compare verifies the
    * whole pipeline including the cap. */
  val dedupNgramJaccard: Q = Q.sql(
    "dedup_ngram_jaccard",
    s"""WITH $jaccardPairsCtesSql
       |SELECT doc_a, doc_b, jacc FROM j WHERE jacc >= 0.02
       |ORDER BY jacc DESC, doc_a, doc_b LIMIT 500""".stripMargin) { (s, d) =>
    jaccardPairs(s, d)
      .filter(col("jacc") >= 0.02)
      .orderBy(col("jacc").desc, col("doc_a"), col("doc_b"))
      .limit(500)
  }

  /** Asymmetric near-dup: shingle-set CONTAINMENT |a∩b| / min(|a|,|b|) on
    * the same df-capped candidate pairs as [[dedupNgramJaccard]] — the
    * quote-inclusion / page-inside-crawl case symmetric Jaccard
    * structurally misses (a 100-shingle doc fully embedded in a
    * 10,000-shingle doc has containment 1.0 but Jaccard ≤ 0.01, under any
    * Jaccard threshold). `beyond_jaccard` flags exactly those pairs: high
    * containment (≥ 0.5) that a 0.5-Jaccard dedup would keep as distinct.
    *
    * Scale: identical posture to dedup_ngram_jaccard — candidates bounded
    * at cap² per (block, shingle) by the df cap, one shuffle-hash
    * equi-join, the similarity readout is a per-pair projection. Both
    * metrics are emitted side by side so the audit is self-contained.
    * Reference analog: the dup-candidate review a release pipeline runs
    * before choosing drop rules (cf. audit.go's view-driven review flow,
    * /root/reference/audit/audit.go:127-199). */
  val dedupContainment: Q = Q.sql(
    "dedup_containment",
    s"""WITH $jaccardPairsCtesSql,
       |cst AS (SELECT p.doc_a, p.doc_b, p.common, sa.sz AS sz_a, sb.sz AS sz_b
       |        FROM p JOIN szs sa ON p.doc_a = sa.doc_id
       |               JOIN szs sb ON p.doc_b = sb.doc_id),
       |ct AS (SELECT
       |         CASE WHEN sz_a <= sz_b THEN doc_a ELSE doc_b END AS doc_small,
       |         CASE WHEN sz_a <= sz_b THEN doc_b ELSE doc_a END AS doc_big,
       |         least(sz_a, sz_b) AS sz_small,
       |         greatest(sz_a, sz_b) AS sz_big,
       |         common,
       |         round(1.0 * common / least(sz_a, sz_b), 4) AS containment,
       |         round(1.0 * common / (sz_a + sz_b - common), 4) AS jacc
       |       FROM cst)
       |SELECT doc_small, doc_big, sz_small, sz_big, common, containment, jacc,
       |  CASE WHEN containment >= 0.5 AND jacc < 0.5 THEN 1 ELSE 0 END
       |    AS beyond_jaccard
       |FROM ct WHERE containment >= 0.02
       |ORDER BY containment DESC, doc_small, doc_big LIMIT 500""".stripMargin) { (s, d) =>
    cappedPairStats(s, d)
      .withColumn("doc_small",
        when(col("sz_a") <= col("sz_b"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("doc_big",
        when(col("sz_a") <= col("sz_b"), col("doc_b")).otherwise(col("doc_a")))
      .withColumn("sz_small", least(col("sz_a"), col("sz_b")))
      .withColumn("sz_big", greatest(col("sz_a"), col("sz_b")))
      .withColumn("containment",
        round(lit(1.0) * col("common") / col("sz_small"), 4))
      .withColumn("jacc",
        round(lit(1.0) * col("common") / (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("containment") >= 0.02)
      .withColumn("beyond_jaccard",
        when(col("containment") >= 0.5 && col("jacc") < 0.5, 1).otherwise(0))
      .select("doc_small", "doc_big", "sz_small", "sz_big", "common",
        "containment", "jacc", "beyond_jaccard")
      .orderBy(col("containment").desc, col("doc_small"), col("doc_big"))
      .limit(500)
  }

  /** Oracle CTE chain ending in `comp(doc_id, component)` — the recursive
    * transitive-closure twin of [[componentLabels]]. Shared by
    * dedup_components and dedup_keep_best (callers prepend
    * `WITH RECURSIVE`), so the keep-one decision audits against the
    * exact same closure as the cluster report. */
  private val componentsCtesSql: String =
    s"""$jaccardPairsCtesSql,
       |bowf AS (SELECT doc_id,
       |           md5(array_to_string(list_sort(list_distinct(${duckWordList()})), ' ')) AS fp
       |         FROM documents),
       |bow_star AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS root
       |             FROM bowf),
       |bow_edges AS (SELECT root AS a, doc_id AS b FROM bow_star
       |              WHERE doc_id <> root),
       |pref AS (SELECT doc_id, md5(substr(text, 1, 96)) AS fp FROM documents),
       |pre_star AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS root
       |             FROM pref),
       |pre_edges AS (SELECT root AS a, doc_id AS b FROM pre_star
       |              WHERE doc_id <> root),
       |jac_edges AS (SELECT doc_a AS a, doc_b AS b FROM j WHERE jacc >= 0.5),
       |edges AS (SELECT a, b FROM bow_edges
       |          UNION ALL SELECT a, b FROM pre_edges
       |          UNION ALL SELECT a, b FROM jac_edges),
       |sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
       |walk(doc_id, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.doc_id),
       |comp AS (SELECT doc_id, min(label) AS component FROM walk GROUP BY doc_id)""".stripMargin

  /** Collapsed-formulation twin of [[componentsCtesSql]] for the
    * replicated scale gates (Q.scaleOracle) — also ends in
    * `comp(doc_id, component)`, so every closure-family op reuses its
    * naive tail verbatim on top of either head.
    *
    * The naive head is quadratic in duplicate-group size (its shingle
    * self-join and recursive walk enumerate doc-level pairs; 100x exact
    * twinning blows each k-group to 10,000·k² pair mass and OOMs
    * single-box DuckDB). This head applies the SAME duplicate-collapse
    * discipline the Spark side uses, in SQL: documents group by
    * (lang, source, text) into distinct-content groups (gid = min
    * doc_id, multiplicity `mult`); shingle df weights by `mult` (each
    * member contributed 1 in the naive count); edges/closure run on the
    * GROUP graph; doc rows join back linearly at the end. Equivalence
    * with the naive chain: intra-group docs are always connected (same
    * text ⇒ same bow fingerprint ⇒ star edges), cross-group doc edges
    * are functions of the two groups' texts alone, and the min-doc-id
    * component label equals the min over member gids because each gid is
    * its group's min doc_id. Both heads run (and hash-agree) at
    * sf0.01/sf1; only the replicated gates need this one. */
  private val componentsScaleCtesSql: String =
    s"""gm AS MATERIALIZED (SELECT doc_id,
       |       min(doc_id) OVER (PARTITION BY lang, source, text) AS gid
       |     FROM documents),
       |grp AS MATERIALIZED (SELECT lang, source, text, doc_id AS gid, mult
       |     FROM (SELECT doc_id, lang, source, text,
       |             min(doc_id) OVER (PARTITION BY lang, source, text) AS mid,
       |             count(*) OVER (PARTITION BY lang, source, text) AS mult
       |           FROM documents)
       |     WHERE doc_id = mid),
       |${duckWords("gid, lang, source, mult", "grp", name = "w2")},
       |sh2 AS (SELECT gid, lang, source, mult,
       |         list_distinct(${duckGrams(3)}) AS s3
       |       FROM w2),
       |ex2 AS (SELECT gid, lang, source, mult, unnest(s3) AS shingle FROM sh2),
       |exf2 AS MATERIALIZED (SELECT gid, lang, source, shingle FROM (
       |          SELECT *, sum(mult) OVER (PARTITION BY lang, source, shingle) AS df
       |          FROM ex2)
       |        WHERE df <= $ShingleDfCap),
       |szs2 AS MATERIALIZED (SELECT gid, count(*) AS sz FROM exf2 GROUP BY gid),
       |p2 AS (SELECT a.gid AS ga, b.gid AS gb, count(*) AS common
       |      FROM exf2 a JOIN exf2 b
       |        ON a.lang = b.lang AND a.source = b.source
       |        AND a.shingle = b.shingle AND a.gid < b.gid
       |      GROUP BY 1, 2),
       |j2 AS (SELECT ga, gb,
       |        round(1.0 * common / (sa.sz + sb.sz - common), 4) AS jacc
       |      FROM p2 JOIN szs2 sa ON p2.ga = sa.gid
       |             JOIN szs2 sb ON p2.gb = sb.gid),
       |bowf2 AS (SELECT gid,
       |           md5(array_to_string(list_sort(list_distinct(${duckWordList()})), ' ')) AS fp
       |         FROM grp),
       |bst2 AS (SELECT gid, min(gid) OVER (PARTITION BY fp) AS root FROM bowf2),
       |bedges2 AS (SELECT root AS a, gid AS b FROM bst2 WHERE gid <> root),
       |pref2 AS (SELECT gid, md5(substr(text, 1, 96)) AS fp FROM grp),
       |pst2 AS (SELECT gid, min(gid) OVER (PARTITION BY fp) AS root FROM pref2),
       |pedges2 AS (SELECT root AS a, gid AS b FROM pst2 WHERE gid <> root),
       |jedges2 AS (SELECT ga AS a, gb AS b FROM j2 WHERE jacc >= 0.5),
       |edges2 AS (SELECT a, b FROM bedges2
       |          UNION ALL SELECT a, b FROM pedges2
       |          UNION ALL SELECT a, b FROM jedges2),
       |sym2 AS MATERIALIZED (SELECT a, b FROM edges2
       |        UNION ALL SELECT b AS a, a AS b FROM edges2),
       |walk2(gid, label) AS (
       |  SELECT gid, gid FROM grp
       |  UNION
       |  SELECT s.b, w.label FROM walk2 w JOIN sym2 s ON s.a = w.gid),
       |compg AS (SELECT gid, min(label) AS component FROM walk2 GROUP BY gid),
       |comp AS (SELECT gm.doc_id, compg.component
       |         FROM gm JOIN compg ON gm.gid = compg.gid)""".stripMargin

  /** (doc_id, component) for EVERY document (singletons label themselves)
    * — the min-reachable-id labeling over the bow ∪ high-Jaccard edge
    * graph via the pointer-jumping loop described on [[dedupComponents]].
    * The shared Spark-side engine of dedup_components (cluster report)
    * and dedup_keep_best (the keep-one decision). */
  private[text] def componentLabels(s: SparkSession, d: String): DataFrame = {
    val bow = docs(s, d).select(col("doc_id"), bowFp.as("fp"))
    // star edges, not an fp self-join: each doc connects to its group's min
    // doc id — k edges per duplicate group instead of k² (a boilerplate page
    // duplicated 1M× would otherwise emit 5·10¹¹ pairs), identical closure
    val bowEdges = TextOps.bowStarEdges(bow)
    // prefix-equality edges (the dedup_prefix detector's groups, CCNet's
    // URL+prefix key family): truncated-crawl / pagination duplicates
    // whose FULL texts differ join the closure too, so keep-best /
    // cluster-stats / token-inflation account for them. Same star shape —
    // k-1 edges per k-member prefix group, one hash groupBy, no join.
    val preEdges = TextOps.bowStarEdges(
      docs(s, d).select(col("doc_id"),
        md5(expr("substring(text, 1, 96)")).as("fp")))
    val jacEdges = jaccardPairs(s, d).filter(col("jacc") >= 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val edges = bowEdges.union(preEdges).union(jacEdges)
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    // Round 1 folded: with identity labels, label(a) IS a, so the first
    // propagate+jump needs no label table at all — min over incoming
    // neighbor ids ∪ self straight off the edge list. Skips the init
    // distinct, one sym⋈lab join, and the convergence count (round 1
    // always moves labels on any non-empty edge set). The loop is
    // overhead-bound, not byte-bound: every stage saved here is wall
    // clock at ANY scale because frames stay tiny relative to the corpus.
    def jump(neigh: DataFrame): DataFrame =
      // pointer jump: labels are themselves node ids, so one more join
      // resolves label(label(v)) and halves the remaining diameter
      neigh
        .join(neigh.select(col("doc_id").as("__l"), col("label").as("__ll")),
          col("label") === col("__l"), "left")
        .select(col("doc_id"), coalesce(col("__ll"), col("label")).as("label"),
          col("old_label"))
        .localCheckpoint()
    val neigh1 = sym.select(col("b").as("doc_id"), col("a").as("label"))
      .union(sym.select(col("b").as("doc_id"), col("b").as("label")))
      .groupBy("doc_id").agg(min("label").as("label"))
      .withColumn("old_label", col("doc_id"))
    var lab = jump(neigh1)
    var changed = 1L
    var rounds = 1
    while (changed > 0 && rounds < 12) {
      // old_label rides the aggregation (each doc contributes exactly one
      // self row, so min(old_label) is its previous label): convergence
      // is then a one-stage scan of the checkpointed frame instead of a
      // separate jumped⋈lab join job per round
      val neigh = sym.join(lab.select(col("doc_id"), col("label")),
          col("a") === col("doc_id"))
        .select(col("b").as("doc_id"), col("label"),
          lit(null).cast("long").as("old_label"))
        .union(lab.select(col("doc_id"), col("label"),
          col("label").as("old_label")))
        .groupBy("doc_id")
        .agg(min("label").as("label"), min("old_label").as("old_label"))
      val jumped = jump(neigh)
      changed = jumped.filter(col("label") < col("old_label")).count()
      lab = jumped
      rounds += 1
    }
    // a graph needing more rounds must fail loudly, not return silently
    // non-converged components that diverge from the transitive closure
    if (changed > 0)
      throw new IllegalStateException(
        s"dedup_components: label propagation hit the $rounds-round cap " +
          s"with $changed labels still moving — graph diameter exceeds 2^$rounds")
    docs(s, d).select(col("doc_id"))
      .join(lab.select(col("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("component"))
  }

  /** Near-duplicate clusters: connected components over the union of
    * THREE similarity relations — bag-of-words-fingerprint equality,
    * 96-char-prefix equality (the [[dedupPrefix]] truncated-crawl
    * detector's groups, CCNet's URL+prefix key family), and high Jaccard
    * (≥ 0.5 on the df-capped shingle sets). The transitive closure is
    * what a real dedup pipeline keys its keep-one decision on: A≈B by
    * word-set and B≈C by shingle overlap must land A, B, C in ONE group
    * even though A and C share no direct edge.
    *
    * Spark shape ([[componentLabels]]): distributed min-label propagation
    * with pointer jumping — labels start as each doc's own id; every round
    * takes the min over neighbors (join + groupBy, shuffle on doc id) and
    * then shortcuts label(v) ← label(label(v)), doubling the propagated
    * distance so the loop converges in O(log diameter) rounds instead of
    * O(diameter) (chains of cliques bridged by near-dup pairs have real
    * diameter). Only the edge-induced subgraph iterates — singletons join
    * back at the end with their own id. The driver loop iterates over
    * ROUNDS (one convergence count per round), never over rows; each round
    * is localCheckpoint()ed so round k+1 starts from materialized
    * partitions instead of replaying k rounds of lineage. This is the
    * textbook 100 TB CC shape (pointer jumping = the large-star step of
    * large-star/small-star).
    *
    * The oracle computes the same closure as a recursive CTE. */
  val dedupComponents: Q = {
    val tail =
      """SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS n_members
        |FROM comp ORDER BY doc_id""".stripMargin
    Q.sqlDual(
      "dedup_components",
      s"WITH RECURSIVE $componentsCtesSql\n$tail",
      s"WITH RECURSIVE $componentsScaleCtesSql\n$tail") { (s, d) =>
    componentLabels(s, d)
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("component")))
      .orderBy("doc_id")
    }
  }

  /** The decision dedup_components exists to feed: one KEPT document per
    * near-dup cluster (argmax quality_score, ties to the smaller doc_id —
    * text_quality's exact score definition, so "best" here = "best" on
    * the quality dashboard), plus what dropping the rest saves. Only
    * multi-member clusters appear — singletons have no decision to make.
    *
    * Shape on top of the label engine: one equi-join (labels ⋈ per-doc
    * scores, both keyed by doc_id) and two windows sharing ONE exchange on
    * `component` (row_number needs a sort in the partition; count/sum are
    * frame-free over the same partitioning, so Catalyst stacks them on a
    * single hash exchange). Cluster sizes are near-dup groups — bounded in
    * practice, and never the full-feed-in-one-partition shape. */
  val dedupKeepBest: Q = {
    val tail =
      s"""f AS (SELECT doc_id, n_chars,
       |        len(${duckWordList()}) AS n_words,
       |        len(list_distinct(${duckWordList()})) AS n_distinct_words,
       |        len(list_filter(${duckWordList()}, w -> w IN ('the', 'a'))) AS n_stop
       |      FROM documents),
       |sc AS (SELECT doc_id, n_chars,
       |         round(((1.0 * n_distinct_words / n_words) + 1 - (1.0 * n_stop / n_words)) / 2, 4)
       |           AS quality_score
       |       FROM f),
       |m AS (SELECT c.component, c.doc_id, sc.quality_score, sc.n_chars,
       |        row_number() OVER (PARTITION BY c.component
       |                           ORDER BY sc.quality_score DESC, c.doc_id) AS rk,
       |        count(*) OVER (PARTITION BY c.component) AS n_members,
       |        sum(sc.n_chars) OVER (PARTITION BY c.component) AS total_chars
       |      FROM comp c JOIN sc ON c.doc_id = sc.doc_id)
       |SELECT component, CAST(n_members AS BIGINT) AS n_members,
       |  doc_id AS kept_doc, quality_score AS kept_score,
       |  CAST(total_chars - n_chars AS BIGINT) AS chars_dropped
       |FROM m WHERE rk = 1 AND n_members >= 2
       |ORDER BY component""".stripMargin
    Q.sqlDual(
      "dedup_keep_best",
      s"WITH RECURSIVE $componentsCtesSql,\n$tail",
      s"WITH RECURSIVE $componentsScaleCtesSql,\n$tail") { (s, d) =>
    val scores = docs(s, d)
      .select(col("doc_id"), col("n_chars"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct_words"),
        size(filter(words, _.isin("the", "a"))).as("n_stop"))
      .select(col("doc_id"), col("n_chars"),
        round(((lit(1.0) * col("n_distinct_words") / col("n_words"))
          + lit(1) - (lit(1.0) * col("n_stop") / col("n_words"))) / 2, 4)
          .as("quality_score"))
    val byComponent = Window.partitionBy("component")
    componentLabels(s, d)
      .join(scores, Seq("doc_id"))
      .withColumn("rk", row_number().over(
        byComponent.orderBy(col("quality_score").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byComponent))
      .withColumn("total_chars", sum("n_chars").over(byComponent))
      .filter(col("rk") === 1 && col("n_members") >= 2)
      .select(col("component"), col("n_members").cast("long").as("n_members"),
        col("doc_id").as("kept_doc"), col("quality_score").as("kept_score"),
        (col("total_chars") - col("n_chars")).cast("long").as("chars_dropped"))
      .orderBy("component")
    }
  }

  /** Token-inflation bill of near-duplication, per source: the share of
    * a source's token mass sitting in NON-ROOT members of dedup
    * components — tokens a training run pays for again without new
    * information (the compute-waste number that justifies running dedup
    * at all, and the per-source breakdown says WHERE the waste enters
    * the pipeline). Composed from the live component labels (root =
    * min-doc label), so "duplicate" here is exactly what
    * dedup_components would drop.
    *
    * Scale: component labels join the doc token counts doc-to-doc (one
    * equi-join of two corpus-scaling sides, un-hinted); the rollup is a
    * partial-agg groupBy bounded at |sources|, 1-row total broadcast. */
  val dedupTokenInflation: Q = {
    val tail =
      s"""tok AS (SELECT doc_id, source, len(${duckWordList()}) AS n_tok
       |        FROM documents),
       |jti AS (SELECT tok.source, tok.n_tok,
       |        CASE WHEN comp.doc_id <> comp.component THEN 1 ELSE 0 END AS is_dup
       |      FROM tok JOIN comp ON tok.doc_id = comp.doc_id),
       |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |        CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       |        CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |        CAST(sum(CASE WHEN is_dup = 1 THEN n_tok ELSE 0 END) AS BIGINT)
       |          AS dup_tokens
       |      FROM jti GROUP BY 1),
       |t AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens,
       |        CAST(sum(dup_tokens) AS BIGINT) AS corpus_dup FROM g)
       |SELECT source, n_docs, n_dup_docs, total_tokens, dup_tokens,
       |  round(1.0 * dup_tokens / total_tokens, 4) AS inflation,
       |  round(1.0 * corpus_dup / corpus_tokens, 4) AS corpus_inflation
       |FROM g CROSS JOIN t ORDER BY source""".stripMargin
    Q.sqlDual(
      "dedup_token_inflation",
      s"WITH RECURSIVE $componentsCtesSql,\n$tail",
      s"WITH RECURSIVE $componentsScaleCtesSql,\n$tail") { (s, d) =>
    val tok = docs(s, d)
      .select(col("doc_id"), col("source"),
        size(words).as("n_tok"))
    val j = tok.join(componentLabels(s, d), Seq("doc_id"))
      .withColumn("is_dup",
        when(col("doc_id") =!= col("component"), 1).otherwise(0))
    val g = j.groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("is_dup").cast("long").as("n_dup_docs"),
        sum("n_tok").cast("long").as("total_tokens"),
        sum(when(col("is_dup") === 1, col("n_tok")).otherwise(0)).cast("long")
          .as("dup_tokens"))
    val t = g.agg(sum("total_tokens").cast("long").as("corpus_tokens"),
      sum("dup_tokens").cast("long").as("corpus_dup"))
    g.crossJoin(broadcast(t))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("total_tokens"), col("dup_tokens"),
        round(lit(1.0) * col("dup_tokens") / col("total_tokens"), 4)
          .as("inflation"),
        round(lit(1.0) * col("corpus_dup") / col("corpus_tokens"), 4)
          .as("corpus_inflation"))
      .orderBy("source")
    }
  }

  /** The "what will dedup delete" histogram: near-dup cluster sizes over
    * the SAME transitive closure dedup_components/dedup_keep_best key
    * their decisions on — per cluster size: clusters, docs, docs the
    * keep-one rule drops, and the smallest root as a drill-down example.
    * This is the report reviewed before a destructive dedup run (a fat
    * tail of giant clusters = boilerplate flood; all-size-2 = true pairs).
    *
    * Shape: the label engine's output collapses to (component, sz) —
    * |components| rows — then to ≤ |distinct sizes| rows; both groupBys
    * partial-aggregate, nothing rejoins the corpus. */
  val dedupClusterStats: Q = {
    val tail =
      """cs AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
       |SELECT CAST(sz AS BIGINT) AS cluster_size, count(*) AS n_clusters,
       |  CAST(sz * count(*) AS BIGINT) AS n_docs,
       |  CAST((sz - 1) * count(*) AS BIGINT) AS n_dropped,
       |  min(component) AS example_root
       |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin
    Q.sqlDual(
      "dedup_cluster_stats",
      s"WITH RECURSIVE $componentsCtesSql,\n$tail",
      s"WITH RECURSIVE $componentsScaleCtesSql,\n$tail") { (s, d) =>
    componentLabels(s, d)
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"),
        (col("sz") * count(lit(1))).cast("long").as("n_docs"),
        ((col("sz") - 1) * count(lit(1))).cast("long").as("n_dropped"),
        min("component").as("example_root"))
      .select(col("sz").cast("long").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("n_dropped"), col("example_root"))
      .orderBy("cluster_size")
    }
  }

  /** Soft dedup: down-WEIGHT duplicates instead of removing them — the
    * data-constrained-scaling alternative (Muennighoff et al. 2023,
    * arXiv:2305.16264: repeated tokens still help, just less), priced
    * against hard keep-one removal on the SAME closure. Each doc in a
    * k-member cluster carries weight 1/k (the cluster's content counts
    * once, spread over its copies), so per cluster-size class this
    * publishes: raw tokens, tokens surviving keep-one removal (the
    * min-id representative [[dedupKeepBest]] keeps), and the soft
    * effective tokens — the three numbers a mixture planner compares
    * before choosing remove vs reweight for each duplication regime
    * (exact twins → remove; loose clusters → reweight).
    *
    * Scale shape: the [[componentLabels]] closure (star edges, pointer
    * jumping) + one token-count scan joined on doc_id; everything after
    * is bounded by |distinct cluster sizes|. Weights are rounded once
    * to 6 and multiplied by exact integer token sums — effective tokens
    * publish as exact micro-token BIGINTs, order-free. */
  val dedupSoftWeight: Q = {
    val tail =
      s"""tok AS (SELECT doc_id, len(${duckWordList()}) AS n_tok
       |        FROM documents),
       |jt AS (SELECT comp.component, comp.doc_id, tok.n_tok
       |       FROM tok JOIN comp ON tok.doc_id = comp.doc_id),
       |cl AS (SELECT component, CAST(count(*) AS BIGINT) AS sz,
       |         CAST(sum(n_tok) AS BIGINT) AS tok_sum,
       |         CAST(sum(CASE WHEN doc_id = component THEN n_tok ELSE 0 END)
       |           AS BIGINT) AS tok_keep
       |       FROM jt GROUP BY 1),
       |sm AS (SELECT component, sz, tok_sum, tok_keep,
       |         CAST(tok_sum * CAST(round(1.0 / sz, 6) AS DECIMAL(18, 6))
       |           * 1000000 AS BIGINT) AS soft_micro
       |       FROM cl)
       |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sz * count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tok_sum) AS BIGINT) AS tokens_raw,
       |  CAST(sum(tok_keep) AS BIGINT) AS tokens_keep,
       |  CAST(sum(soft_micro) AS BIGINT) AS tokens_soft_micro,
       |  round(CAST(sum(soft_micro) AS DOUBLE)
       |    / (1000000e0 * sum(tok_sum)), 4) AS soft_share,
       |  round(CAST(sum(tok_keep) AS DOUBLE) / sum(tok_sum), 4) AS keep_share
       |FROM sm GROUP BY sz ORDER BY cluster_size""".stripMargin
    Q.sqlDual(
      "dedup_soft_weight",
      s"WITH RECURSIVE $componentsCtesSql,\n$tail",
      s"WITH RECURSIVE $componentsScaleCtesSql,\n$tail") { (s, d) =>
    val tok = docs(s, d)
      .select(col("doc_id"), size(words).as("n_tok"))
    val cl = tok.join(componentLabels(s, d), Seq("doc_id"))
      .groupBy("component")
      .agg(count(lit(1)).cast("long").as("sz"),
        sum("n_tok").cast("long").as("tok_sum"),
        sum(when(col("doc_id") === col("component"), col("n_tok")).otherwise(0))
          .cast("long").as("tok_keep"))
    val sm = cl.withColumn("soft_micro",
      (col("tok_sum") * round(lit(1.0) / col("sz"), 6).cast("decimal(18,6)")
        * 1000000).cast("long"))
    sm.groupBy("sz")
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        (col("sz") * count(lit(1))).cast("long").as("n_docs"),
        sum("tok_sum").cast("long").as("tokens_raw"),
        sum("tok_keep").cast("long").as("tokens_keep"),
        sum("soft_micro").cast("long").as("tokens_soft_micro"))
      .select(col("sz").cast("long").as("cluster_size"), col("n_clusters"),
        col("n_docs"), col("tokens_raw"), col("tokens_keep"),
        col("tokens_soft_micro"),
        round(col("tokens_soft_micro").cast("double")
          / (lit(1000000e0) * col("tokens_raw")), 4).as("soft_share"),
        round(col("tokens_keep").cast("double") / col("tokens_raw"), 4)
          .as("keep_share"))
      .orderBy("cluster_size")
    }
  }

  /** Staged dedup accounting — the onion peel (the RefinedWeb/CCNet
    * pipeline question "which detector earns its cost?"): run the four
    * duplicate families in precedence order — exact text, 96-char
    * prefix, bag-of-words fingerprint, high-Jaccard (≥ 0.5) — and
    * attribute every duplicate to the FIRST stage that catches it, so
    * each row is a stage's INCREMENTAL yield (exact dups are also
    * prefix/bow dups; counting them once is what makes the report a
    * sizing tool: a stage with near-zero increment can be dropped from
    * the production pipeline). Duplicate = has a lower-id doc under the
    * stage's key (the keep-first rule every stage family shares);
    * survivors publish as the final 'kept' row, so the report
    * partitions the corpus.
    *
    * Scale shape: the three fingerprint stages are hash groupBys with a
    * min-id window PER FINGERPRINT (corpus-cardinality keys); the
    * Jaccard stage reuses the df-capped blocked pair machinery
    * ([[dedupNgramJaccard]]'s) and only its doc_b side (doc_b > doc_a by
    * construction = "has a lower-id partner"); the rollup is 5 rows. */
  val dedupOnion: Q = {
    val stages = Seq("exact", "prefix", "bow", "jaccard", "kept")
    val ordCase = stages.zipWithIndex
      .map { case (s, i) => s"WHEN '$s' THEN $i" }.mkString("CASE stage ", " ", " END")
    Q.sql(
      "dedup_onion",
      s"""WITH $jaccardPairsCtesSql,
        |tok AS (SELECT doc_id, len(${duckWordList()}) AS n_tok FROM documents),
        |fe AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |fp96 AS (SELECT doc_id, md5(substr(text, 1, 96)) AS fp FROM documents),
        |fbow AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(${duckWordList()})), ' ')) AS fp
        |  FROM documents),
        |de AS (SELECT doc_id FROM (SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY fp) AS r FROM fe) WHERE doc_id > r),
        |dp AS (SELECT doc_id FROM (SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY fp) AS r FROM fp96) WHERE doc_id > r),
        |db AS (SELECT doc_id FROM (SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY fp) AS r FROM fbow) WHERE doc_id > r),
        |dj AS (SELECT DISTINCT doc_b AS doc_id FROM j WHERE jacc >= 0.5),
        |st AS (SELECT d.doc_id, tok.n_tok,
        |         CASE WHEN de.doc_id IS NOT NULL THEN 'exact'
        |              WHEN dp.doc_id IS NOT NULL THEN 'prefix'
        |              WHEN db.doc_id IS NOT NULL THEN 'bow'
        |              WHEN dj.doc_id IS NOT NULL THEN 'jaccard'
        |              ELSE 'kept' END AS stage
        |       FROM documents d JOIN tok ON tok.doc_id = d.doc_id
        |         LEFT JOIN de ON de.doc_id = d.doc_id
        |         LEFT JOIN dp ON dp.doc_id = d.doc_id
        |         LEFT JOIN db ON db.doc_id = d.doc_id
        |         LEFT JOIN dj ON dj.doc_id = d.doc_id),
        |g AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |      FROM st GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
        |SELECT stage, n_docs, n_tokens,
        |  round(1.0 * n_docs / t.total, 4) AS doc_share
        |FROM g CROSS JOIN t ORDER BY $ordCase""".stripMargin) { (s, d) =>
      def dups(fp: org.apache.spark.sql.Column) = {
        val w = Window.partitionBy("fp")
        docs(s, d).select(col("doc_id"), fp.as("fp"))
          .withColumn("r", min("doc_id").over(w))
          .filter(col("doc_id") > col("r"))
          .select("doc_id")
      }
      val de = dups(md5(col("text")))
      val dp = dups(md5(expr("substring(text, 1, 96)")))
      val db = dups(bowFp)
      val dj = jaccardPairs(s, d).filter(col("jacc") >= 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
      val st = docs(s, d)
        .select(col("doc_id"), size(words).as("n_tok"))
        .join(de.withColumn("f_e", lit(1)), Seq("doc_id"), "left")
        .join(dp.withColumn("f_p", lit(1)), Seq("doc_id"), "left")
        .join(db.withColumn("f_b", lit(1)), Seq("doc_id"), "left")
        .join(dj.withColumn("f_j", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          when(col("f_e").isNotNull, "exact")
            .when(col("f_p").isNotNull, "prefix")
            .when(col("f_b").isNotNull, "bow")
            .when(col("f_j").isNotNull, "jaccard")
            .otherwise("kept").as("stage"))
      val g = st.groupBy("stage")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tok").cast("long").as("n_tokens"))
      val t = g.agg(sum("n_docs").cast("long").as("total"))
      g.crossJoin(broadcast(t))
        .select(col("stage"), col("n_docs"), col("n_tokens"),
          round(lit(1.0) * col("n_docs") / col("total"), 4).as("doc_share"))
        .orderBy(expr(ordCase))
    }
  }

  // ---------------------------------------------------------- minhash --

  /** (a, b) parameters of the 4-member linear hash family over mod-p —
    * defined once in [[MinHashSig]] (the native expression) and quoted
    * into the oracle SQL from there, so Spark and DuckDB cannot drift. */
  private val minhashParams: Seq[(Long, Long)] = MinHashSig.Params
  private val P = MinHashSig.P

  /** DuckDB: word hash = int value of the first 8 hex nibbles of md5.
    * (package-visible: CorpusOps.corpus_split buckets on the same hash.) */
  private[graft] def duckWordHash(w: String): String =
    (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(CAST(strpos('0123456789abcdef', substr(md5($w), $j, 1)) AS BIGINT) - 1) * $mult"
    }.mkString("(", " + ", ")")

  /** Spark twin: conv() parses the same 8 hex chars. */
  private[graft] def sparkWordHash(w: String): String =
    s"cast(conv(substring(md5($w), 1, 8), 16, 10) as bigint)"

  /** sig1..sigk: one signature column per hash of the family = per band. */
  private val sigNames: Seq[String] = minhashParams.indices.map(i => s"sig${i + 1}")
  private val sigCols: Seq[Column] = sigNames.map(col)

  /** Shingle MinHash signatures of a frame with a `text` column and an
    * id (`doc_id`, a group id or a content key): `text` becomes
    * sig1..sigk (NULL for docs under 3 words), preceded by the distinct
    * shingle set `s3d` when `withShingles`; every other column is
    * carried through. The one signature pass of the MinHash
    * family — batch ops, the incremental probe and its streaming ingest
    * twin (EventStream.streamDedupIncremental) all call it, so no two
    * paths can drift. */
  private[graft] def signaturesOf(df: DataFrame,
      withShingles: Boolean = false): DataFrame = {
    val keep = df.columns.toSeq.filter(_ != "text").map(col)
    val sigs = df.select(keep :+ words.as("ws"): _*)
      .select(keep :+ shingles(3).as("s3"): _*)
      .withColumn("__sigs", expr("graft_minhash_sig(s3)"))
    val s3d = if (withShingles) Seq(array_distinct(col("s3")).as("s3d")) else Nil
    sigs.select(keep ++ s3d ++ sigNames.zipWithIndex.map { case (n, i) =>
      element_at(col("__sigs"), i + 1).as(n) }: _*)
  }

  /** Shingle MinHash signatures (doc_id, [s3d,] sig1..sigk) of the
    * corpus — shared by the banding dedup, the incremental probe and the
    * estimator-quality readouts. Persisted: the subtree feeds both
    * band-join branches and the final projection — without it the md5
    * signature pass runs three times. `withShingles` controls what the
    * cache holds: the banding op needs only (doc_id, k longs); caching
    * the shingle arrays too would store ~3× the corpus text for nothing.
    * The estimator audit opts in and gets the deduplicated sets (what it
    * actually intersects). */
  private def minhashSigs(s: SparkSession, d: String,
      withShingles: Boolean = false): DataFrame =
    signaturesOf(docs(s, d).select("doc_id", "text"), withShingles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** (keep…, band, bucket) band rows of a signature frame: one row per
    * signature component. Bands are 0-based positions here and 1-based
    * in the oracles — they are only ever join keys, and both sides of
    * every band join come from this one explode. */
  private def bandsOf(sigs: DataFrame, keep: Column*): DataFrame =
    sigs.select(keep :+ posexplode(array(sigCols: _*)).as(Seq("band", "bucket")): _*)

  /** The LSH candidate pairs: distinct (`a`, `b`) of `id` values whose
    * band rows collide on (band, bucket) and satisfy `pred(a, b)` — the
    * one band self-join of both planes, over MinHash bands ([[bandsOf]])
    * and sign-LSH bands (`Similarity.signBands`) alike. NULL buckets
    * never collide. */
  private[graft] def bandPairs(bands: DataFrame, id: String,
      pred: (Column, Column) => Column, a: String = "ga", b: String = "gb"): DataFrame =
    bands.select(col(id).as(a), col("band"), col("bucket"))
      .join(bands.select(col(id).as(b), col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(pred(col(a), col(b)))
      .select(a, b).distinct()

  /** DuckDB twin of [[bandPairs]]: the CTE `name`, with its column list
    * (e.g. `cand(id_a, id_b)`), of the distinct `id` pairs of the band
    * relation `from` that collide on (band, bucket) with `x.id op y.id`. */
  private[graft] def duckBandPairs(name: String, from: String, id: String,
      op: String): String =
    s"""$name AS (SELECT DISTINCT x.$id, y.$id
       |  FROM $from x JOIN $from y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.$id $op y.$id)""".stripMargin

  /** The rows of two band relations that collide on (band, bucket) — the
    * cross-set probe of an index's bands by a batch's (dedup_incremental,
    * decontaminate_fuzzy); [[bandPairs]] is the self-join. NULL buckets
    * never collide. */
  private def bandHits(a: DataFrame, b: DataFrame): DataFrame = a.join(b, Seq("band", "bucket"))

  /** DuckDB twin of [[bandHits]]: the join of the band relations `a` and
    * `b` (each a relation with its alias) on (band, bucket). */
  private def duckBandHits(a: String, b: String): String = s"$a JOIN $b USING (band, bucket)"

  /** Signature groups (sig1..sigk, ex_mult, ex_min): one row per DISTINCT
    * signature with its multiplicity and min doc id. Docs with the same
    * k-band signature are indistinguishable to any band join, so the
    * join runs over groups and index size is bounded by distinct texts,
    * not corpus rows (on a replicated crawl that is the difference
    * between linear and quadratic band-join volume). The all-NULL
    * signature of docs under 3 words is one group that never collides. */
  private[graft] def sigGroups(sigs: DataFrame): DataFrame =
    sigs.groupBy(sigCols: _*)
      .agg(count(lit(1)).as("ex_mult"), min("doc_id").as("ex_min"))

  /** Signature-group-collapsed incremental admit/reject verdicts —
    * value-identical to the naive per-doc band join the oracle runs:
    * n_near_dups = count(DISTINCT ex docs sharing ≥1 band)
    *             = Σ ex_mult over DISTINCT matched ex-groups, and
    * first_match = min over those groups' ex_min, because every doc of a
    * group matches exactly when its representative does. The incoming
    * side collapses the same way (identical-signature docs get identical
    * verdicts), so the band join runs groups × groups and the only
    * doc-scale work is the final per-doc verdict projection. The
    * collapsed probe side is broadcast: it is bounded by the batch's
    * distinct texts (micro-batches at ingest, a bounded split on
    * backfill), so the index never shuffles for the probe. */
  private[graft] def incrementalVerdicts(exGroups: DataFrame,
      incSigs: DataFrame): DataFrame = {
    val exBands = bandsOf(exGroups, col("ex_mult"), col("ex_min"))
    val incAll = incSigs.withColumn("igid",
      min("doc_id").over(Window.partitionBy(sigCols: _*)))
    val incBands = bandsOf(incAll.filter(col("doc_id") === col("igid")), col("igid"))
    val gm = bandHits(exBands, broadcast(incBands))
      .select(col("igid"), col("ex_min"), col("ex_mult")).distinct()
      .groupBy("igid")
      .agg(sum("ex_mult").cast("long").as("n_near_dups"),
        min("ex_min").as("first_match"))
    incAll.select(col("doc_id"), col("igid"))
      .join(gm, Seq("igid"), "left")
      .select(col("doc_id"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        col("first_match"),
        when(col("n_near_dups") >= 1, "near_dup").otherwise("admit")
          .as("verdict"))
  }

  /** The composition twin of `graft_minhash_sig` (spec-asserted equal). */
  private[graft] def minhashSigHofExpr(i: Int): String = {
    val (a, b) = minhashParams(i)
    s"array_min(transform(s3, w -> ($a * ${sparkWordHash("w")} + $b) % $P))"
  }

  /** DuckDB twin of `graft_minhash_sig` over the shingle list `s3`:
    * the sig1..sigk select items. */
  private def duckSigExprs(s3: String): String =
    minhashParams.zip(sigNames).map { case ((a, b), n) =>
      s"list_min(list_transform($s3, w -> ($a * ${duckWordHash("w")} + $b) % $P)) AS $n"
    }.mkString(",\n  ")

  /** DuckDB twin of [[bandsOf]]: one `UNION ALL` arm per band over the
    * signature relation `from`, keeping the `keep` select items. */
  private def duckBandsSql(keep: String, from: String): String =
    sigNames.zipWithIndex
      .map { case (n, i) => s"SELECT $keep, ${i + 1} AS band, $n AS bucket FROM $from" }
      .mkString("\n  UNION ALL ")

  /** DuckDB count of equal signature components between `sa` and `sb`. */
  private val duckSigMatchSql: String = sigNames
    .map(n => s"CASE WHEN sa.$n = sb.$n THEN 1 ELSE 0 END")
    .mkString("\n         + ")

  /** Oracle twin of [[minhashSigs]]'s CTE prefix (docs → sig). */
  private[graft] def duckSigCtes(from: String = "documents"): String =
    s"""${duckShingleCtes("doc_id", from)},
       |sig AS (SELECT doc_id, s3, ${duckSigExprs("s3")} FROM docs)""".stripMargin

  /** MinHash/LSH over 3-gram shingles: 4 hashes = 4 single-row bands, plus
    * per-doc count of other docs sharing at least one band — the LSH
    * candidate set size.
    *
    * Shingles, not unigrams: with a small vocabulary every document
    * contains nearly every word, so a unigram MinHash collides for every
    * pair and the band join degenerates to all-pairs. The ~|vocab|³
    * shingle space keeps band collisions ≈ true Jaccard similarity, which
    * is what bounds the candidate join at scale. */
  val dedupMinhash: Q = {
    // Collapsed scale twin: the SQL mirror of the Spark side's signature
    // collapse. The naive oracle's doc-level band self-join is
    // replication-quadratic (a twin cluster of M shares every band, M²
    // join rows), so at the 1000x gate it exceeds single-box DuckDB.
    // Signatures are computed once per distinct TEXT (the explode never
    // multiplies), groups fold by the 4-sig tuple with copy-weighted
    // multiplicity, the band join runs group-level, and each doc's count
    // expands as Σ mult(matching other groups) + (own mult − 1) — with
    // the all-NULL-sig class (docs under 3 words) pinned to 0, matching
    // the naive join's NULL-never-equal semantics.
    val scaleOracle =
      s"""WITH ${duckDistinctTexts(Seq("CAST(count(*) AS BIGINT) AS m"))},
         |${duckShingleCtes("tk, m", "grp")},
         |tsig AS MATERIALIZED (SELECT tk, m, ${duckSigExprs("s3")} FROM docs),
         |sg AS MATERIALIZED (
         |  SELECT sig1, sig2, sig3, sig4, CAST(sum(m) AS BIGINT) AS mult,
         |    md5(concat_ws('|', sig1, sig2, sig3, sig4)) AS gid
         |  FROM tsig GROUP BY 1, 2, 3, 4),
         |gb AS (${duckBandsSql("gid", "sg")}),
         |${duckBandPairs("gp(ga, gb2)", "gb", "gid", "<>")},
         |ext AS (SELECT gp.ga, CAST(sum(s.mult) AS BIGINT) AS ext
         |        FROM gp JOIN sg s ON s.gid = gp.gb2 GROUP BY 1),
         |nm AS (SELECT sg.gid,
         |         CASE WHEN sg.sig1 IS NULL THEN CAST(0 AS BIGINT)
         |              ELSE coalesce(e.ext, 0) + sg.mult - 1 END AS nm
         |       FROM sg LEFT JOIN ext e ON e.ga = sg.gid)
         |SELECT d.doc_id, t.sig1, t.sig2, t.sig3, t.sig4,
         |  CAST(n.nm AS BIGINT) AS n_band_matches
         |FROM documents d
         |JOIN tsig t ON md5(d.text) = t.tk
         |JOIN nm n ON n.gid = md5(concat_ws('|', t.sig1, t.sig2, t.sig3, t.sig4))
         |ORDER BY 1""".stripMargin
    Q.sqlDual(
      "dedup_minhash",
      s"""WITH ${duckSigCtes()},
         |bands AS (${duckBandsSql("doc_id", "sig")}),
         |${duckBandPairs("p(doc_id, other_id)", "bands", "doc_id", "<>")},
         |m AS (SELECT doc_id, count(*) AS nm FROM p GROUP BY doc_id)
         |SELECT sig.doc_id, sig1, sig2, sig3, sig4,
         |  coalesce(nm, 0) AS n_band_matches
         |FROM sig LEFT JOIN m ON sig.doc_id = m.doc_id
         |ORDER BY 1""".stripMargin,
      scaleOracle) { (s, d) =>
      // Signature-collapsed formulation, value-identical to the oracle's
      // per-doc pair join: docs with the SAME 4-band signature are
      // indistinguishable to the counter (they match exactly the same
      // neighbor set), so the pair enumeration runs on [[sigGroups]]
      // weighted by multiplicity and each doc's count is
      // Σ mult(other matching groups) + (own mult − 1). An exact-dup
      // cluster of N docs costs ONE group row instead of N² join rows —
      // dup clusters grow with the corpus, so at 100 TB this is the
      // difference between linear and quadratic band-bucket work. The
      // all-NULL signature group (docs under 3 words) never collides and
      // is pinned to 0; docs join back to their group NULL-safely so
      // those docs keep their row. The oracle keeps the naive doc-level
      // join: two independent formulations must hash-agree.
      val sigs = minhashSigs(s, d)
      val groups = sigGroups(sigs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ext = bandPairs(bandsOf(groups, col("ex_min")), "ex_min", _ =!= _)
        .join(groups.select(col("ex_min").as("gb"), col("ex_mult").as("mult_b")), Seq("gb"))
        .groupBy(col("ga")).agg(sum("mult_b").as("ext"))
      val gNm = groups
        .join(ext, col("ex_min") === col("ga"), "left")
        .select(sigNames.map(n => col(n).as(s"g_$n")) :+
          when(col("sig1").isNull, lit(0L))
            .otherwise(coalesce(col("ext"), lit(0L)) + col("ex_mult") - 1)
            .cast("long").as("nm"): _*)
      sigs.join(gNm, sigNames.map(n => col(n) <=> col(s"g_$n")).reduce(_ && _))
        .select(col("doc_id") +: sigCols :+ col("nm").as("n_band_matches"): _*)
        .orderBy("doc_id")
    }
  }

  /** Distinct-shingle-set group machinery shared by [[dedupMinhashEst]]
    * (the full doc-pair estimator audit) and [[dedupMinhashCalib]] (its
    * bounded calibration summary): returns
    * (gmap(doc_id, gid), gsig(gid, s3d, sig1..sigk),
    *  gMetrics(ga, gb, n_sig_match, est_jacc, exact_jacc, abs_err)).
    * gid = min doc id over the identical-distinct-shingle-array
    * partition; the band join + exact intersect run once per GROUP pair
    * — replication-invariant however deep the duplicate clusters. */
  private def minhashGroupMetrics(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val k = minhashParams.length
    val sigs = minhashSigs(s, d, withShingles = true)
    // group id = min doc id over the identical-array partition; ONE
    // exchange on hash(s3d) serves both the id and the multiplicity
    val bySet = Window.partitionBy("s3d")
    val gAll = sigs.withColumn("gid", min("doc_id").over(bySet))
    val gmap = gAll.select(col("doc_id"), col("gid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gsig = gAll.filter(col("doc_id") === col("gid"))
      .select(col("gid") +: col("s3d") +: sigCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gpairs = bandPairs(bandsOf(gsig, col("gid")), "gid", _ < _)
    def gside(tag: String) = gsig.select(
      col("gid").as(s"g$tag") +: col("s3d").as(s"s3d_$tag") +:
        sigNames.map(n => col(n).as(s"${n}_$tag")): _*)
    val nMatch = sigNames
      .map(n => when(col(s"${n}_a") === col(s"${n}_b"), 1).otherwise(0))
      .reduce(_ + _)
    val est = round(col("n_sig_match") / k.toDouble, 4)
    val exact = round(lit(1.0) * col("common")
      / (col("za") + col("zb") - col("common")), 4)
    val gMetrics = gpairs.join(gside("a"), Seq("ga")).join(gside("b"), Seq("gb"))
      .withColumn("n_sig_match", nMatch)
      .withColumn("common", size(array_intersect(col("s3d_a"), col("s3d_b"))))
      .withColumn("za", size(col("s3d_a")))
      .withColumn("zb", size(col("s3d_b")))
      .select(col("ga"), col("gb"), col("n_sig_match"),
        est.as("est_jacc"), exact.as("exact_jacc"),
        round(abs(est - exact), 4).as("abs_err"))
    (gmap, gsig, gMetrics)
  }

  /** DuckDB twin of [[minhashGroupMetrics]]' per-pair metrics over
    * (n_sig_match, common, za, zb): est_jacc, exact_jacc, abs_err. */
  private lazy val duckPairMetrics: String = {
    val k = minhashParams.length
    s"""round(n_sig_match / $k.0, 4) AS est_jacc,
       |  round(1.0 * common / (za + zb - common), 4) AS exact_jacc,
       |  round(abs(round(n_sig_match / $k.0, 4)
       |    - round(1.0 * common / (za + zb - common), 4)), 4) AS abs_err""".stripMargin
  }

  /** DuckDB CTE chain of the distinct-shingle-set collapse (the SQL
    * mirror of [[minhashGroupMetrics]]), ending in
    * `gmet(ga, gb, n_sig_match, est_jacc, exact_jacc, abs_err)` with
    * `gmm(doc_id, gid)` / `gsd(gid, s3d, sig1..)` in scope — the shared
    * head of the dedup_minhash_est and dedup_minhash_calib scale twins. */
  private lazy val minhashScaleHeadSql: String =
    s"""${duckShingleCtes()},
       |sk AS MATERIALIZED (SELECT doc_id, list_distinct(s3) AS s3d FROM docs),
       |gmm AS MATERIALIZED (SELECT doc_id,
       |      min(doc_id) OVER (
       |        PARTITION BY md5(array_to_string(s3d, chr(10)))) AS gid
       |      FROM sk),
       |gsd AS MATERIALIZED (SELECT gmm.gid, sk.s3d,
       |       ${duckSigExprs("sk.s3d")}
       |     FROM sk JOIN gmm ON sk.doc_id = gmm.doc_id
       |     WHERE sk.doc_id = gmm.gid),
       |gbands AS (${duckBandsSql("gid", "gsd")}),
       |${duckBandPairs("gpairs(ga, gb)", "gbands", "gid", "<")},
       |gj AS (SELECT ga, gb,
       |        ($duckSigMatchSql) AS n_sig_match,
       |        len(list_intersect(sa.s3d, sb.s3d)) AS common,
       |        len(sa.s3d) AS za, len(sb.s3d) AS zb
       |      FROM gpairs JOIN gsd sa ON sa.gid = ga
       |                  JOIN gsd sb ON sb.gid = gb),
       |gmet AS (SELECT ga, gb, n_sig_match,
       |  $duckPairMetrics
       |      FROM gj)""".stripMargin

  /** DuckDB CTE chain of the naive doc-level candidate pairs, ending in
    * `j(doc_a, doc_b, n_sig_match, common, za, zb)` over the distinct
    * shingle sets `sd(doc_id, s3d, sig1..)` — the shared head of the
    * dedup_minhash_est and dedup_minhash_calib naive oracles. */
  private lazy val minhashNaiveHeadSql: String =
    s"""${duckSigCtes()},
       |bands AS (${duckBandsSql("doc_id", "sig")}),
       |${duckBandPairs("pairs(doc_a, doc_b)", "bands", "doc_id", "<")},
       |sd AS (SELECT doc_id, list_distinct(s3) AS s3d, ${sigNames.mkString(", ")}
       |       FROM sig),
       |j AS (SELECT doc_a, doc_b,
       |        ($duckSigMatchSql) AS n_sig_match,
       |        len(list_intersect(sa.s3d, sb.s3d)) AS common,
       |        len(sa.s3d) AS za, len(sb.s3d) AS zb
       |      FROM pairs JOIN sd sa ON sa.doc_id = doc_a
       |                 JOIN sd sb ON sb.doc_id = doc_b)""".stripMargin

  /** Estimator-quality readout for the MinHash family: on every LSH
    * candidate pair (≥1 matching band), the signature-estimated Jaccard
    * (matching components / 4) against the EXACT Jaccard over distinct
    * shingle sets — the accuracy audit that justifies trusting band
    * collisions as a similarity proxy at 100 TB, where exact Jaccard on
    * all pairs is unaffordable. Exact similarity is computed only on the
    * LSH-bounded candidate set (that is the scale shape: estimate
    * globally, verify locally); per-pair cost is one array intersect. */
  val dedupMinhashEst: Q = {
    val k = minhashParams.length
    // Collapsed-formulation scale twin (Q.scaleOracle): the SQL mirror of
    // the Spark side's distinct-shingle-set collapse — group docs by
    // their (ordered) distinct shingle array, run the band join +
    // intersect on one representative per group, expand group pairs to
    // doc pairs through the membership map, and emit within-group pairs
    // with the identity metrics. The naive doc-level oracle below stays
    // the primary formulation; at 100x twinning its band self-join is
    // 10,000x the pair mass and OOMs DuckDB, while this twin's heavy
    // work is replication-invariant and only the (output-sized) doc-pair
    // expansion scales — checkable via the bighash multiset compare.
    val scaleOracle =
      s"""WITH $minhashScaleHeadSql,
         |crossp AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         |             greatest(ma.doc_id, mb.doc_id) AS doc_b,
         |             n_sig_match, est_jacc, exact_jacc, abs_err
         |           FROM gmet JOIN gmm ma ON ma.gid = gmet.ga
         |                     JOIN gmm mb ON mb.gid = gmet.gb),
         |intra AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |            $k AS n_sig_match, CAST(1.0 AS DOUBLE) AS est_jacc,
         |            CAST(1.0 AS DOUBLE) AS exact_jacc,
         |            CAST(0.0 AS DOUBLE) AS abs_err
         |          FROM gmm a JOIN gmm b
         |            ON a.gid = b.gid AND a.doc_id < b.doc_id
         |          WHERE EXISTS (SELECT 1 FROM gsd
         |                        WHERE gsd.gid = a.gid AND gsd.sig1 IS NOT NULL))
         |SELECT doc_a, doc_b, n_sig_match, est_jacc, exact_jacc, abs_err
         |FROM (SELECT * FROM crossp UNION ALL SELECT * FROM intra) u
         |ORDER BY doc_a, doc_b""".stripMargin
    Q.sqlDual(
    "dedup_minhash_est",
    s"""WITH $minhashNaiveHeadSql
       |SELECT doc_a, doc_b, n_sig_match,
       |  $duckPairMetrics
       |FROM j ORDER BY doc_a, doc_b""".stripMargin,
    scaleOracle) { (s, d) =>
    // Signature-collapsed formulation (the dedup_minhash trick applied to
    // the estimator audit): every per-pair metric
    // here — n_sig_match, exact Jaccard, the error — is a pure function
    // of the two docs' DISTINCT SHINGLE SETS, and duplicated documents
    // (the dominant near-dup class) share their set verbatim. So the
    // expensive pass (band join + array_intersect) runs over one
    // representative per identical-s3d GROUP, and doc-level pairs are
    // emitted by joining the group pair metrics back to the membership
    // map: an exact-dup cluster of N costs ONE intersect instead of N²/2,
    // and the only per-pair work left is writing the (unavoidable,
    // output-sized) rows. Within-group pairs are emitted directly with
    // the identity metrics (same set ⇒ all k sigs match, exact = 1) —
    // valid band candidates whenever the group has real signatures
    // (empty-shingle docs have NULL sigs, never band-match, and are
    // excluded exactly as the naive join excludes them). The oracle keeps
    // the naive doc-level formulation: two independent shapes must
    // hash-agree.
    val (gmap, gsig, gMetrics) = minhashGroupMetrics(s, d)
    // expand group pairs → doc pairs (groups are disjoint, so each
    // unordered doc pair appears exactly once; orientation by id)
    val cross = gMetrics
      .join(gmap.select(col("gid").as("ga"), col("doc_id").as("da")), Seq("ga"))
      .join(gmap.select(col("gid").as("gb"), col("doc_id").as("db")), Seq("gb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("n_sig_match"), col("est_jacc"), col("exact_jacc"), col("abs_err"))
    val within = gmap.select(col("gid"), col("doc_id").as("doc_a"))
      .join(gmap.select(col("gid"), col("doc_id").as("doc_b")), Seq("gid"))
      .filter(col("doc_a") < col("doc_b"))
      .join(gsig.filter(col("sig1").isNotNull).select("gid"), Seq("gid"), "left_semi")
      .select(col("doc_a"), col("doc_b"),
        lit(k).as("n_sig_match"), lit(1.0).as("est_jacc"),
        lit(1.0).as("exact_jacc"), lit(0.0).as("abs_err"))
    cross.unionByName(within).orderBy("doc_a", "doc_b")
    }
  }

  /** BOUNDED calibration readout of the MinHash estimator —
    * [[dedupMinhashEst]] without the pair-list bill. The full estimator
    * audit's CONTRACT is every LSH candidate doc pair; under duplication
    * that list is output-sized (100x twinning → ~300M rows; at 100 TB,
    * petabytes) however collapsed the compute is. This is the production
    * answer: per matching-band-count bucket, the pair COUNT and the
    * exact-Jaccard / absolute-error SUMS (published as exact 4dp-integer
    * micro-sums — order-free BIGINTs, no float accumulation), plus a
    * deterministic k=5-per-bucket pair EXHIBIT for drill-down, hash-picked
    * (md5 of the id pair) from the canonical representative pairs — one
    * per distinct-content pair class, so twin floods cannot crowd the
    * sample. Output is ≤ 4·(1+5) rows at any corpus size; the full list
    * stays available as dedup_minhash_est, the debug/small-slice mode.
    *
    * Scale shape: the [[minhashGroupMetrics]] group machinery (band join
    * + intersect once per distinct-set pair), bucket sums via
    * multiplicity arithmetic (cross pairs weigh mult_a·mult_b, intra
    * pairs mult·(mult−1)/2 with identity metrics), exhibits ranked on
    * the ≤|group pairs| frame — NOTHING doc-pair-sized is ever
    * materialized, the one posture dedup_minhash_est cannot offer. */
  val dedupMinhashCalib: Q = {
    val k = minhashParams.length
    val nullCols =
      """CAST(NULL AS BIGINT) AS doc_a, CAST(NULL AS BIGINT) AS doc_b,
        |          CAST(NULL AS DOUBLE) AS exact_jacc""".stripMargin
    // up to 5 exhibit pairs (a, b) per n_sig_match bucket of `from`,
    // picked by the md5 of the id pair
    def exhibits(a: String, b: String, from: String) =
      s"""exh AS (SELECT CAST(n_sig_match AS BIGINT) AS n_sig_match,
         |          'exhibit' AS kind, CAST(rn AS BIGINT) AS rnk,
         |          CAST(NULL AS BIGINT) AS n_pairs,
         |          CAST(NULL AS BIGINT) AS exact_sum_4dp,
         |          CAST(NULL AS BIGINT) AS err_sum_4dp,
         |          $a AS doc_a, $b AS doc_b, exact_jacc
         |        FROM (SELECT *, row_number() OVER (PARTITION BY n_sig_match
         |                ORDER BY md5(CAST($a AS VARCHAR) || ':' || CAST($b AS VARCHAR)))
         |                  AS rn
         |              FROM $from) rc WHERE rn <= 5)""".stripMargin
    val sumCols =
      """CAST(sum(CAST(CAST(exact_jacc AS DECIMAL(18,4)) * 10000 AS BIGINT))
        |            AS BIGINT) AS exact_sum_4dp,
        |          CAST(sum(CAST(CAST(abs_err AS DECIMAL(18,4)) * 10000 AS BIGINT))
        |            AS BIGINT) AS err_sum_4dp""".stripMargin
    // naive oracle: the doc-level pair list (dedup_minhash_est's own
    // formulation) reduced to bucket sums; exhibits filter to pairs whose
    // BOTH endpoints are their distinct-shingle-set group representative
    val naive =
      s"""WITH $minhashNaiveHeadSql,
         |met AS (SELECT doc_a, doc_b, n_sig_match,
         |  $duckPairMetrics
         |      FROM j),
         |summ AS (SELECT CAST(n_sig_match AS BIGINT) AS n_sig_match,
         |          'summary' AS kind, CAST(0 AS BIGINT) AS rnk,
         |          CAST(count(*) AS BIGINT) AS n_pairs,
         |          $sumCols,
         |          $nullCols
         |        FROM met GROUP BY 1),
         |gidm AS (SELECT doc_id, min(doc_id) OVER (
         |           PARTITION BY md5(array_to_string(s3d, chr(10)))) AS gid
         |         FROM sd),
         |canon AS (SELECT m.* FROM met m
         |          JOIN gidm a ON m.doc_a = a.doc_id AND a.doc_id = a.gid
         |          JOIN gidm b ON m.doc_b = b.doc_id AND b.doc_id = b.gid),
         |${exhibits("doc_a", "doc_b", "canon")}
         |SELECT * FROM (SELECT * FROM summ UNION ALL SELECT * FROM exh) u
         |ORDER BY n_sig_match, rnk""".stripMargin
    // scale twin: the collapsed group head + multiplicity arithmetic —
    // no doc-pair enumeration anywhere
    val scale =
      s"""WITH $minhashScaleHeadSql,
         |gmult AS (SELECT gid, CAST(count(*) AS BIGINT) AS mult
         |          FROM gmm GROUP BY 1),
         |crossb AS (SELECT CAST(n_sig_match AS BIGINT) AS n_sig_match,
         |            ma.mult * mb.mult AS cnt,
         |            CAST(CAST(exact_jacc AS DECIMAL(18,4)) * 10000 AS BIGINT) AS e4,
         |            CAST(CAST(abs_err AS DECIMAL(18,4)) * 10000 AS BIGINT) AS r4
         |          FROM gmet JOIN gmult ma ON ma.gid = gmet.ga
         |                    JOIN gmult mb ON mb.gid = gmet.gb),
         |intrab AS (SELECT CAST($k AS BIGINT) AS n_sig_match,
         |            (mult * (mult - 1)) // 2 AS cnt,
         |            CAST(10000 AS BIGINT) AS e4, CAST(0 AS BIGINT) AS r4
         |          FROM gmult JOIN gsd USING (gid)
         |          WHERE gsd.sig1 IS NOT NULL AND mult >= 2),
         |summ AS (SELECT n_sig_match, 'summary' AS kind,
         |          CAST(0 AS BIGINT) AS rnk,
         |          CAST(sum(cnt) AS BIGINT) AS n_pairs,
         |          CAST(sum(cnt * e4) AS BIGINT) AS exact_sum_4dp,
         |          CAST(sum(cnt * r4) AS BIGINT) AS err_sum_4dp,
         |          $nullCols
         |        FROM (SELECT * FROM crossb UNION ALL SELECT * FROM intrab) cb
         |        GROUP BY 1),
         |${exhibits("ga", "gb", "gmet")}
         |SELECT * FROM (SELECT * FROM summ UNION ALL SELECT * FROM exh) u
         |ORDER BY n_sig_match, rnk""".stripMargin
    Q.sqlDual("dedup_minhash_calib", naive, scale) { (s, d) =>
      val (gmap, gsig, gMetrics) = minhashGroupMetrics(s, d)
      val mult = gmap.groupBy("gid").agg(count(lit(1)).cast("long").as("mult"))
      val e4 = (col("exact_jacc").cast("decimal(18,4)") * 10000).cast("long")
      val r4 = (col("abs_err").cast("decimal(18,4)") * 10000).cast("long")
      val cross = gMetrics
        .join(mult.select(col("gid").as("ga"), col("mult").as("ma")), Seq("ga"))
        .join(mult.select(col("gid").as("gb"), col("mult").as("mb")), Seq("gb"))
        .select(col("n_sig_match").cast("long").as("n_sig_match"),
          (col("ma") * col("mb")).as("cnt"), e4.as("e4"), r4.as("r4"))
      val intra = mult
        .join(gsig.filter(col("sig1").isNotNull).select("gid"),
          Seq("gid"), "left_semi")
        .filter(col("mult") >= 2)
        .select(lit(k.toLong).as("n_sig_match"),
          expr("(mult * (mult - 1)) div 2").as("cnt"),
          lit(10000L).as("e4"), lit(0L).as("r4"))
      val summ = cross.unionByName(intra)
        .groupBy("n_sig_match")
        .agg(sum("cnt").cast("long").as("n_pairs"),
          sum(col("cnt") * col("e4")).cast("long").as("exact_sum_4dp"),
          sum(col("cnt") * col("r4")).cast("long").as("err_sum_4dp"))
        .select(col("n_sig_match"), lit("summary").as("kind"),
          lit(0L).as("rnk"), col("n_pairs"), col("exact_sum_4dp"),
          col("err_sum_4dp"), lit(null).cast("long").as("doc_a"),
          lit(null).cast("long").as("doc_b"),
          lit(null).cast("double").as("exact_jacc"))
      val exhW = Window.partitionBy("n_sig_match").orderBy(
        md5(concat(col("ga").cast("string"), lit(":"),
          col("gb").cast("string"))))
      val exh = gMetrics
        .withColumn("rnk", row_number().over(exhW).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("n_sig_match").cast("long").as("n_sig_match"),
          lit("exhibit").as("kind"), col("rnk"),
          lit(null).cast("long").as("n_pairs"),
          lit(null).cast("long").as("exact_sum_4dp"),
          lit(null).cast("long").as("err_sum_4dp"),
          col("ga").as("doc_a"), col("gb").as("doc_b"), col("exact_jacc"))
      summ.unionByName(exh).orderBy("n_sig_match", "rnk")
    }
  }

  // ------------------------------------------------------ incremental --

  /** Continuous-ingest dedup: admit/reject every document of an incoming
    * batch (doc_id ≡ 0 mod 10, ~10% — the "today's crawl" slice) against
    * the EXISTING corpus via minhash band collisions — the decision a
    * pipeline makes on every ingest without ever re-deduping the corpus.
    * Each admitted/rejected doc carries its evidence: how many existing
    * docs share a band, and the smallest such doc id.
    *
    * Scale shape (the decontaminate posture, applied to LSH): the BATCH
    * side's band table broadcasts — a daily batch is tiny next to a
    * 100 TB corpus — so the corpus band table is scanned once and never
    * shuffles for the probe. (For a batch too big to broadcast, drop the
    * hint and the same plan shuffles both sides on (band, bucket) — the
    * decision AQE already owns.) The LEFT join back to the batch keeps
    * no-match docs in the report with verdict 'admit'. */
  val dedupIncremental: Q = {
    // Collapsed scale twin — the SQL mirror of [[incrementalVerdicts]]:
    // both sides fold to one row per DISTINCT 4-band signature (GROUP BY
    // treats the all-NULL empty-shingle signature as one group, exactly
    // like the Spark window), the band join runs groups × groups, and
    // the per-doc expansion is a window + LEFT join so null-sig docs
    // keep their 'admit' rows. Keeps the 100x/1000x gates hash-checkable
    // where the naive per-doc band join OOMs single-box DuckDB.
    val scaleOracle =
      s"""WITH ${duckSigCtes()},
         |exg AS (SELECT ${sigNames.mkString(", ")},
         |          CAST(count(*) AS BIGINT) AS ex_mult, min(doc_id) AS ex_min
         |        FROM sig WHERE doc_id % 10 <> 0
         |        GROUP BY ${sigNames.mkString(", ")}),
         |ing AS (SELECT ${sigNames.mkString(", ")}, min(doc_id) AS igid
         |        FROM sig WHERE doc_id % 10 = 0
         |        GROUP BY ${sigNames.mkString(", ")}),
         |eb AS (${duckBandsSql("ex_mult, ex_min", "exg")}),
         |ib AS (${duckBandsSql("igid", "ing")}),
         |gm AS (SELECT igid, CAST(sum(ex_mult) AS BIGINT) AS n_near_dups,
         |         min(ex_min) AS first_match
         |       FROM (SELECT DISTINCT ib.igid, eb.ex_min, eb.ex_mult
         |             FROM ${duckBandHits("ib", "eb")})
         |       GROUP BY 1),
         |inc AS (SELECT doc_id,
         |          min(doc_id) OVER (PARTITION BY ${sigNames.mkString(", ")}) AS igid
         |        FROM sig WHERE doc_id % 10 = 0)
         |SELECT inc.doc_id, coalesce(gm.n_near_dups, 0) AS n_near_dups,
         |  gm.first_match,
         |  CASE WHEN coalesce(gm.n_near_dups, 0) >= 1 THEN 'near_dup'
         |       ELSE 'admit' END AS verdict
         |FROM inc LEFT JOIN gm ON gm.igid = inc.igid
         |ORDER BY inc.doc_id""".stripMargin
    Q.sqlDual(
      "dedup_incremental",
      s"""WITH ${duckSigCtes()},
         |bands AS (${duckBandsSql("doc_id", "sig")}),
         |ib AS (SELECT doc_id AS inc_id, band, bucket FROM bands WHERE doc_id % 10 = 0),
         |eb AS (SELECT doc_id AS ex_id, band, bucket FROM bands WHERE doc_id % 10 <> 0),
         |m AS (SELECT inc_id, count(DISTINCT ex_id) AS n_near_dups,
         |        min(ex_id) AS first_match
         |      FROM ${duckBandHits("ib", "eb")} GROUP BY 1),
         |i AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
         |SELECT i.doc_id, coalesce(n_near_dups, 0) AS n_near_dups, first_match,
         |  CASE WHEN coalesce(n_near_dups, 0) >= 1 THEN 'near_dup'
         |       ELSE 'admit' END AS verdict
         |FROM i LEFT JOIN m ON m.inc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin,
      scaleOracle) { (s, d) =>
      // collapsed on BOTH sides (see [[incrementalVerdicts]]); the
      // oracle keeps the naive per-doc band join — two independent
      // formulations must hash-agree
      val sigs = minhashSigs(s, d)
      incrementalVerdicts(
        sigGroups(sigs.filter(col("doc_id") % 10 =!= 0)),
        sigs.filter(col("doc_id") % 10 === 0))
        .orderBy("doc_id")
    }
  }

  // ---------------------------------------------------------- simhash --

  /** 16-bit SimHash over distinct words: bit votes from the first 4 md5
    * nibbles of each word; bucket size = docs sharing the signature. */
  val dedupSimhash: Q = {
    // per-bit vote: bi = 4*(j-1) + t over hex char j (1..4), bit t (0..3)
    def bitExpr(pos: String, j: Int, t: Int) =
      s"(((strpos('0123456789abcdef', substr($pos, $j, 1)) - 1) // ${1 << t}) % 2)"
    def bitExprSpark(pos: String, j: Int, t: Int) =
      s"(((instr('0123456789abcdef', substring($pos, $j, 1)) - 1) div ${1 << t}) % 2)"
    val duckVotes = (0 until 16).map { bi =>
      val (j, t) = (bi / 4 + 1, bi % 4)
      s"sum(2 * ${bitExpr("h4", j, t)} - 1) AS v$bi"
    }.mkString(",\n  ")
    val duckBits = (0 until 16)
      .map(bi => s"(CASE WHEN v$bi > 0 THEN ${1 << bi} ELSE 0 END)")
      .mkString(" + ")
    Q.sql(
      "dedup_simhash",
      s"""WITH w AS (SELECT doc_id, unnest(list_distinct(${duckWordList()})) AS word
         |           FROM documents),
         |h AS (SELECT doc_id, substr(md5(word), 1, 4) AS h4 FROM w),
         |v AS (SELECT doc_id, $duckVotes FROM h GROUP BY doc_id),
         |sh AS (SELECT doc_id, $duckBits AS simhash FROM v)
         |SELECT doc_id, simhash,
         |  count(*) OVER (PARTITION BY simhash) AS n_same
         |FROM sh ORDER BY doc_id""".stripMargin) { (s, d) =>
      // distinct-text collapse: the signature is a pure text function —
      // the word explode + md5 votes run once per distinct text; per-doc
      // rows (and the corpus-level n_same window) restore over the tkey
      // map join
      val (keyed, dist) = distinctTexts(docs(s, d))
      val h = dist
        .select(col("tkey"), explode(array_distinct(words)).as("word"))
        .withColumn("h4", expr("substring(md5(word), 1, 4)"))
      val votes = (0 until 16).map { bi =>
        val (j, t) = (bi / 4 + 1, bi % 4)
        sum(expr(s"2 * ${bitExprSpark("h4", j, t)} - 1")).as(s"v$bi")
      }
      val simhash = (0 until 16)
        .map(bi => when(col(s"v$bi") > 0, 1 << bi).otherwise(0))
        .reduce(_ + _)
      val perText = h.groupBy("tkey").agg(votes.head, votes.tail: _*)
        .select(col("tkey"), simhash.as("simhash"))
      keyed.join(perText, Seq("tkey"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy("simhash")))
        .select("doc_id", "simhash", "n_same")
        .orderBy("doc_id")
    }
  }

  // ------------------------------------------------------ text analysis --

  /** Stopword-profile language ID vs the labeled lang (confusion matrix). */
  /** The stopword votes of a text: n_the, n_data, n_spark. */
  private val langVotes: Seq[Column] = Seq(
    size(filter(words, _ === "the")).as("n_the"),
    size(filter(words, _ === "data")).as("n_data"),
    size(filter(words, _ === "spark")).as("n_spark"))

  /** lang_id's rule over [[langVotes]]: the language whose stopword has
    * the most votes, ties to en, then es. */
  private val predictedLang: Column =
    when(col("n_the") >= col("n_data") && col("n_the") >= col("n_spark"), "en")
      .when(col("n_data") >= col("n_spark"), "es")
      .otherwise("zh")

  /** DuckDB twin of [[langVotes]]: `f`, the `keep` columns and the votes
    * of each document. */
  private def duckLangVotes(keep: String): String =
    s"""f AS (
       |  SELECT $keep,
       |    len(list_filter(${duckWordList()}, w -> w = 'the')) AS n_the,
       |    len(list_filter(${duckWordList()}, w -> w = 'data')) AS n_data,
       |    len(list_filter(${duckWordList()}, w -> w = 'spark')) AS n_spark
       |  FROM documents)""".stripMargin

  /** DuckDB twin of [[predictedLang]]. */
  private val duckPredictedLang: String =
    """CASE WHEN n_the >= n_data AND n_the >= n_spark THEN 'en'
      |             WHEN n_data >= n_spark THEN 'es' ELSE 'zh' END""".stripMargin

  /** DuckDB twin of [[langPredicted]]: `p` (lang, predicted) per document. */
  private val duckLangPredicted: String =
    s"""${duckLangVotes("lang")},
       |p AS (SELECT lang, $duckPredictedLang AS predicted FROM f)""".stripMargin

  val langId: Q = Q.sql(
    "lang_id",
    s"""WITH $duckLangPredicted
      |SELECT lang, predicted, count(*) AS n
      |FROM p GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin) { (s, d) =>
    langPredicted(s, d)
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** (lang, predicted) per document on the distinct-text collapse — the
    * vote counts and the argmax rule are pure text functions, computed
    * once per distinct text; shared by lang_id and lang_id_metrics so
    * the two cannot drift. */
  private def langPredicted(s: SparkSession, d: String): DataFrame = {
    val (keyed, dist) = distinctTexts(docs(s, d), Seq("lang"))
    val per = dist.select(col("tkey") +: langVotes: _*)
      .select(col("tkey"), predictedLang.as("predicted"))
    keyed.join(per, Seq("tkey"))
      .select("lang", "predicted")
  }

  /** Classifier-eval report over the [[langId]] confusion matrix: per
    * true language, support, predicted volume, true positives, and
    * precision/recall/F1 — the quality readout published before trusting
    * a language gate to route a 100 TB corpus (a bad classifier silently
    * starves a whole language's mix). Precision is NULL for a language
    * the classifier never predicts (no 0-division fiction). Shape: the
    * full-corpus scan collapses into the ≤ |langs|² matrix first; every
    * metric is arithmetic over that tiny aggregate, F1 derived from the
    * ALREADY-ROUNDED precision/recall (identical doubles both engines).
    * A spec pins metrics-vs-matrix reconciliation so this op cannot
    * drift from lang_id's prediction rule. */
  val langIdMetrics: Q = Q.sql(
    "lang_id_metrics",
    s"""WITH $duckLangPredicted,
      |m AS (SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2),
      |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true,
      |        CAST(sum(CASE WHEN predicted = lang THEN n ELSE 0 END) AS BIGINT) AS tp
      |      FROM m GROUP BY 1),
      |pv AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS n_pred FROM m GROUP BY 1),
      |s AS (SELECT t.lang, n_true, coalesce(n_pred, 0) AS n_pred, tp,
      |        CASE WHEN coalesce(n_pred, 0) = 0 THEN NULL
      |          ELSE round(1.0 * tp / n_pred, 4) END AS prec,
      |        round(1.0 * tp / n_true, 4) AS rec
      |      FROM t LEFT JOIN pv ON pv.predicted = t.lang)
      |SELECT lang, n_true, n_pred, tp, prec, rec,
      |  CASE WHEN prec IS NULL OR prec + rec = 0 THEN NULL
      |    ELSE round(2 * prec * rec / (prec + rec), 4) END AS f1
      |FROM s ORDER BY lang""".stripMargin) { (s, d) =>
    val matrix = langPredicted(s, d)
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
    val t = matrix.groupBy("lang").agg(
      sum("n").cast("long").as("n_true"),
      sum(when(col("predicted") === col("lang"), col("n")).otherwise(0))
        .cast("long").as("tp"))
    val pv = matrix.groupBy("predicted").agg(sum("n").cast("long").as("n_pred"))
    t.join(pv, col("lang") === col("predicted"), "left")
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("prec",
        when(col("n_pred") === 0, lit(null))
          .otherwise(round(lit(1.0) * col("tp") / col("n_pred"), 4)))
      .withColumn("rec", round(lit(1.0) * col("tp") / col("n_true"), 4))
      .withColumn("f1",
        when(col("prec").isNull || col("prec") + col("rec") === 0, lit(null))
          .otherwise(round(lit(2) * col("prec") * col("rec") / (col("prec") + col("rec")), 4)))
      .select("lang", "n_true", "n_pred", "tp", "prec", "rec", "f1")
      .orderBy("lang")
  }

  /** Per-document quality profile (type-token ratio, stopword ratio, …). */
  val textQuality: Q = Q.sql(
    "text_quality",
    s"""WITH f AS (
      |  SELECT doc_id, n_chars,
      |    len(${duckWordList()}) AS n_words,
      |    len(list_distinct(${duckWordList()})) AS n_distinct_words,
      |    length(replace(text, ' ', '')) AS word_chars,
      |    len(list_filter(${duckWordList()}, w -> w IN ('the', 'a'))) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_chars, n_words, n_distinct_words,
      |  round(1.0 * word_chars / n_words, 4) AS avg_word_len,
      |  round(1.0 * n_distinct_words / n_words, 4) AS type_token_ratio,
      |  round(1.0 * n_stop / n_words, 4) AS stopword_ratio,
      |  round(((1.0 * n_distinct_words / n_words) + 1 - (1.0 * n_stop / n_words)) / 2, 4)
      |    AS quality_score
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    // distinct-text collapse: all four feature arrays are pure text
    // functions; n_chars is a stored per-doc column, so the doc scan
    // keeps (doc_id, n_chars) and joins the per-text features by tkey
    val (keyed, dist) = distinctTexts(docs(s, d), Seq("doc_id", "n_chars"))
    val per = dist.select(col("tkey"),
      size(words).as("n_words"),
      size(array_distinct(words)).as("n_distinct_words"),
      expr("length(replace(text, ' ', ''))").as("word_chars"),
      size(filter(words, _.isin("the", "a"))).as("n_stop"))
    keyed.join(per, Seq("tkey"))
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("n_distinct_words"),
        round(lit(1.0) * col("word_chars") / col("n_words"), 4).as("avg_word_len"),
        round(lit(1.0) * col("n_distinct_words") / col("n_words"), 4).as("type_token_ratio"),
        round(lit(1.0) * col("n_stop") / col("n_words"), 4).as("stopword_ratio"),
        round(((lit(1.0) * col("n_distinct_words") / col("n_words"))
          + lit(1) - (lit(1.0) * col("n_stop") / col("n_words"))) / 2, 4)
          .as("quality_score"))
      .orderBy("doc_id")
  }

  /** The rule-based content-policy blocklist — a deploy-time parameter
    * in production (each release ships its own list); the default is a
    * small list present in the synthetic corpus so every code path
    * (hit counting, rate thresholds, all three verdicts) is exercised
    * and oracle-checked at every SF. Kept sorted: the membership test
    * is order-insensitive but the docs read better. */
  private[graft] val BlocklistWords = Seq("big", "dup", "slow")

  /** Rule-based blocklist filter — the word-list content gate every
    * production corpus release runs before training (profanity /
    * unsafe-content lists; cf. the Gopher/Dolma rule-filter stage): per
    * doc, blocklist occurrence count, distinct blocked words, occurrence
    * rate, and a three-way verdict (block ≥ 5% of words, review ≥ 2%,
    * else pass). The list itself is a deployment parameter
    * ([[BlocklistWords]]); the mechanism — set membership over the word
    * explode, rate thresholds, per-verdict release decision — is what
    * the operator pins.
    *
    * Scale shape: pure text function → distinct-text collapse
    * ([[Tokens.distinctTexts]]): hits are counted once per
    * distinct text via an array filter (no explode, no shuffle beyond
    * the collapse's own), per-doc rows expand through the linear
    * membership join. The blocklist is a literal IN-list compiled into
    * the expression — nothing ships at runtime. */
  val qualityBlocklist: Q = {
    val duckList = BlocklistWords.map(w => s"'$w'").mkString(", ")
    Q.sql(
      "quality_blocklist",
      s"""WITH f AS (
         |  SELECT doc_id, len(${duckWordList()}) AS n_words,
         |    len(list_filter(${duckWordList()},
         |        w -> w IN ($duckList))) AS n_hits,
         |    len(list_distinct(list_filter(${duckWordList()},
         |        w -> w IN ($duckList)))) AS n_distinct_hits
         |  FROM documents)
         |SELECT doc_id, n_words, n_hits, n_distinct_hits,
         |  round(1.0 * n_hits / n_words, 4) AS hit_rate,
         |  CASE WHEN round(1.0 * n_hits / n_words, 4) >= 0.05 THEN 'block'
         |       WHEN round(1.0 * n_hits / n_words, 4) >= 0.02 THEN 'review'
         |       ELSE 'pass' END AS verdict
         |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val (keyed, dist) = distinctTexts(docs(s, d))
      val per = dist.select(col("tkey"),
        size(words).as("n_words"),
        size(filter(words, _.isin(BlocklistWords: _*))).as("n_hits"),
        size(array_distinct(filter(words, _.isin(BlocklistWords: _*))))
          .as("n_distinct_hits"))
        .withColumn("hit_rate", round(lit(1.0) * col("n_hits") / col("n_words"), 4))
        .withColumn("verdict",
          when(col("hit_rate") >= 0.05, "block")
            .when(col("hit_rate") >= 0.02, "review")
            .otherwise("pass"))
      keyed.join(per, Seq("tkey"))
        .select("doc_id", "n_words", "n_hits", "n_distinct_hits", "hit_rate",
          "verdict")
        .orderBy("doc_id")
    }
  }

  /** Flesch readability scoring — the classic prose-difficulty quality
    * signal (reading ease + Flesch-Kincaid grade) over a deterministic
    * syllable heuristic: syllables(word) = max(1, number of [aeiouy]+
    * vowel groups), sentences = max(1, [.!?]+ splits with content). A
    * training-mix curator uses the bucket rollup the way perplexity
    * buckets are used — drop/downweight the tails, not the middle.
    * Complements text_quality (ratio heuristics) and text_entropy
    * (information density): readability is the only one that sees WORD
    * STRUCTURE, not just token identity.
    *
    * Scale shape: pure text function → distinct-text collapse; the
    * syllable fold is one array transform over each distinct text's
    * words (no explode, no per-word shuffle), per-doc rows expand by
    * the linear membership join. Both formulas are evaluated in double
    * from exact integer counts — identical operand order in both
    * engines — and rounded ONCE; the bucket reads the rounded score, so
    * engines cannot disagree at a bucket edge. */
  val docReadability: Q = Q.sql(
    "doc_readability",
    s"""WITH f AS (
      |  SELECT doc_id,
      |    len(${duckWordList()}) AS n_words,
      |    greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'),
      |        s -> trim(s) <> ''))) AS n_sentences,
      |    CAST(list_sum(list_transform(${duckWordList()},
      |        w -> greatest(1, len(list_filter(
      |          string_split_regex(w, '[^aeiouy]+'), x -> x <> '')))))
      |      AS BIGINT) AS n_syllables
      |  FROM documents),
      |sc AS (SELECT doc_id, n_words, n_sentences, n_syllables,
      |         round(206.835e0 - 1.015e0 * (1.0 * n_words / n_sentences)
      |           - 84.6e0 * (1.0 * n_syllables / n_words), 4) AS flesch,
      |         round(0.39e0 * (1.0 * n_words / n_sentences)
      |           + 11.8e0 * (1.0 * n_syllables / n_words) - 15.59e0, 4)
      |           AS fk_grade
      |       FROM f)
      |SELECT doc_id, n_words, n_sentences, n_syllables, flesch, fk_grade,
      |  CASE WHEN flesch >= 90 THEN 'very_easy'
      |       WHEN flesch >= 70 THEN 'easy'
      |       WHEN flesch >= 50 THEN 'medium'
      |       WHEN flesch >= 30 THEN 'hard'
      |       ELSE 'very_hard' END AS bucket
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (keyed, dist) = distinctTexts(docs(s, d))
    val per = dist.select(col("tkey"),
      size(words).as("n_words"),
      expr("greatest(1, size(filter(split(text, '[.!?]+'), s -> trim(s) != '')))")
        .as("n_sentences"),
      aggregate(transform(words,
          w => greatest(lit(1), size(filter(split(w, "[^aeiouy]+"), _ =!= "")))),
        lit(0L), _ + _).as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835) - lit(1.015) * (lit(1.0) * col("n_words") / col("n_sentences"))
          - lit(84.6) * (lit(1.0) * col("n_syllables") / col("n_words")), 4))
      .withColumn("fk_grade",
        round(lit(0.39) * (lit(1.0) * col("n_words") / col("n_sentences"))
          + lit(11.8) * (lit(1.0) * col("n_syllables") / col("n_words")) - lit(15.59), 4))
      .withColumn("bucket",
        when(col("flesch") >= 90, "very_easy")
          .when(col("flesch") >= 70, "easy")
          .when(col("flesch") >= 50, "medium")
          .when(col("flesch") >= 30, "hard")
          .otherwise("very_hard"))
    keyed.join(per, Seq("tkey"))
      .select("doc_id", "n_words", "n_sentences", "n_syllables", "flesch",
        "fk_grade", "bucket")
      .orderBy("doc_id")
  }

  /** One Shannon-entropy term — ONE formula string evaluated by both
    * engines, rounded once to 6 decimals, then summed as DECIMAL (exact,
    * order-independent — the bm25 contribution discipline). */
  private val entropyTermFormula: String =
    "round(-(1.0 * c / n) * ln(1.0 * c / n), 6)"

  /** Per-document unigram Shannon entropy — the information-density
    * quality signal: near-zero for a doc that repeats one word (spam /
    * boilerplate), ln(n_words) for all-distinct text. Complements
    * text_quality's ratio heuristics (type-token ratio is blind to HOW
    * skewed the repeated mass is) and doc_repetition's top-gram share
    * (which only sees the single heaviest gram).
    *
    * Scale shape: explode → one partial-aggregating groupBy on
    * (doc, term) → one partial-aggregating groupBy on doc. Both shuffles
    * are map-side combined; nothing is all-pairs, no window. The entropy
    * sum is DECIMAL so shuffle order cannot move a score. */
  val textEntropy: Q = Q.sql(
    "text_entropy",
    s"""WITH ${duckWords()},
       |t AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS term FROM w),
       |tf AS (SELECT doc_id, n, term, count(*) AS c FROM t GROUP BY 1, 2, 3),
       |e AS (SELECT doc_id, n, count(*) AS n_distinct,
       |        sum(CAST($entropyTermFormula AS DECIMAL(18, 6))) AS h
       |      FROM tf GROUP BY 1, 2)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       |  CAST(n_distinct AS BIGINT) AS n_distinct,
       |  CAST(h AS DOUBLE) AS entropy
       |FROM e ORDER BY doc_id""".stripMargin) { (s, d) =>
    // distinct-text collapse (the quality_nb pattern): entropy is a pure
    // text function, so the term explode and both aggregates run once
    // per distinct text; the per-doc output is a tkey map join. Values
    // bit-identical (decimal-exact fold, same per-text row set).
    val (keyed, dist) = distinctTexts(docs(s, d))
    val per = dist
      .select(col("tkey"), words.as("ws"))
      .select(col("tkey"), size(col("ws")).as("n"), explode(col("ws")).as("term"))
      .groupBy("tkey", "n", "term").agg(count(lit(1)).as("c"))
      .groupBy("tkey", "n")
      .agg(count(lit(1)).as("n_distinct"),
        sum(expr(entropyTermFormula).cast("decimal(18,6)")).as("h"))
    keyed.join(per, Seq("tkey"))
      .select(col("doc_id"), col("n").cast("long").as("n_words"),
        col("n_distinct").cast("long").as("n_distinct"),
        col("h").cast("double").as("entropy"))
      .orderBy("doc_id")
  }

  /** Whitespace + chars/4 BPE-approximation token counts. */
  val tokenCount: Q = Q.sql(
    "token_count",
    s"""SELECT doc_id,
      |  len(${duckWordList()}) AS n_ws_tokens,
      |  n_chars,
      |  (n_chars + 3) // 4 AS approx_bpe_tokens,
      |  round(1.0 * n_chars / len(${duckWordList()}), 4) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        size(words).as("n_ws_tokens"),
        col("n_chars"),
        expr("(n_chars + 3) div 4").as("approx_bpe_tokens"),
        round(lit(1.0) * col("n_chars") / size(words), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Position-weighted polynomial fingerprint (mod-p fold over words). */
  val docFingerprint: Q = Q.sql(
    "doc_fingerprint",
    s"""WITH ${duckWords()}
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(1, len(ws) + 1),
       |    i -> CAST(i AS BIGINT) * (ascii(substr(ws[i], 1, 1)) * 31 + length(ws[i]))))
       |    % $P AS BIGINT) AS fp
       |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
    // zip_with binds each word directly — an element_at(ws, i) version
    // would re-evaluate the (optimizer-inlined) split per element access,
    // the same O(words²) trap documented on Tokens.shingles. The fold is a
    // pure text function, so it runs once per distinct text (the
    // quality_nb collapse pattern) and maps back over the tkey join.
    val (keyed, dist) = distinctTexts(docs(s, d))
    val per = dist
      .select(col("tkey"), words.as("ws"))
      .select(col("tkey"),
        expr(s"""aggregate(
                |  zip_with(ws, sequence(1, size(ws)),
                |    (w, i) -> cast(i as bigint) * (ascii(substring(w, 1, 1)) * 31
                |         + length(w))),
                |  0L, (acc, x) -> acc + x) % $P""".stripMargin).as("fp"))
    keyed.join(per, Seq("tkey"))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** Deterministic uniform k-per-group sample: keep the k docs with the
    * smallest content hash per source — a consistent "reservoir" that
    * needs no RNG state, re-samples identically on re-runs, and at scale
    * is one window (or a top-k aggregate) per group, never a global sort. */
  val samplePerSource: Q = Q.sql(
    "sample_per_source",
    """SELECT source, doc_id, rk
      |FROM (SELECT source, doc_id,
      |        row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
      |      FROM documents)
      |WHERE rk <= 5 ORDER BY source, rk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
    docs(s, d)
      .select(col("source"), col("doc_id"), row_number().over(w).as("rk"))
      .filter(col("rk") <= 5)
      .orderBy("source", "rk")
  }

  /** Regex pre-tokenization (the BPE-style split pass): letter runs,
    * digit runs, and single non-alphanumeric marks. */
  val tokenRegex: Q = Q.sql(
    "token_regex",
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_regex_tokens,
      |  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS n_distinct_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    // distinct-text collapse: the two regex extractions are the whole
    // cost and are pure text functions — run once per distinct text,
    // map back over the tkey join
    val (keyed, dist) = distinctTexts(docs(s, d))
    val per = dist.select(col("tkey"),
      expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
        .as("n_regex_tokens"),
      expr("size(array_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)))")
        .as("n_distinct_tokens"))
    keyed.join(per, Seq("tkey"))
      .select(col("doc_id"), col("n_regex_tokens"), col("n_distinct_tokens"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------- lsh curve --

  /** Detector-quality audit for the LSH dedup path: the empirical
    * sensitivity curve P(band collision | exact Jaccard) against the LSH
    * theory curve 1 − (1 − j)^b for b = 4 single-row bands — the chart
    * that justifies the band/row configuration before a 100 TB dedup run
    * (too-flat ⇒ missed near-dups, too-steep-too-early ⇒ candidate
    * explosion). dedup_minhash_est audits the ESTIMATOR per pair; this
    * audits the DETECTOR per similarity bucket.
    *
    * Universe = exact df-capped candidate pairs (dedup_ngram_jaccard's
    * ground truth) FULL OUTER the distinct band-collision pairs; a
    * detected pair outside the candidate set (cross-block or zero shared
    * capped shingle) has exact Jaccard 0 and lands in the lowest bucket —
    * the false-positive mass the curve's left edge shows. theo_rate is
    * evaluated at the bucket lower bound with a pure-integer numerator
    * (10⁴ − (10−b)⁴)/10⁴ — exact on both engines, no cross-engine pow.
    *
    * Scale shape: the exact side is the capped machinery (≤ cap² pairs
    * per (block, shingle)); the band side is the collision set (≈ true
    * near-dups + b·random collisions); both sides hash-partition on
    * (doc_a, doc_b) for the FULL OUTER — no broadcast of either
    * pair-scale side — and the final aggregate is ≤ 10 rows. */
  val dedupLshCurve: Q = {
    // the curve both oracles end with, over the per-bucket pair and
    // detection counts `bk`; the theoretical rate is 1 − (1 − J)^4 at
    // the bucket's lower edge
    val curve =
      """SELECT round(bucket / 10.0, 1) AS bucket_lo, n_pairs, n_detected,
        |  round(1.0 * n_detected / n_pairs, 4) AS detect_rate,
        |  round((10000 - (10 - bucket) * (10 - bucket) * (10 - bucket)
        |    * (10 - bucket)) / 10000.0, 4) AS theo_rate
        |FROM bk ORDER BY bucket_lo""".stripMargin
    // Collapsed scale twin (the dedup_plane_agreement twin pattern):
    // groups = distinct (lang, source, text) — FINER than the Spark
    // side's (lang, source, s3d) but value-identical, because two
    // same-s3d groups have identical signatures and identical capped
    // sets, so their across-rows carry the same (jacc=1, det) verdict a
    // merged group's within-rows would, and na·nb + Σ nᵢ(nᵢ−1)/2 =
    // n(n−1)/2. df stays TRUE document frequency (sum of group
    // multiplicities). Keeps the 1000x gate hash-checkable where the
    // naive doc-pair universe OOMs single-box DuckDB.
    val scaleOracle =
      s"""WITH grp AS MATERIALIZED (
         |  SELECT min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS n,
         |    lang, source, text
         |  FROM documents GROUP BY lang, source, text),
         |${duckWords("gid, n, lang, source", "grp")},
         |d2 AS (SELECT gid, n, lang, source, ${duckGrams(3)} AS s3 FROM w),
         |sig AS MATERIALIZED (SELECT gid, n, lang, source, s3, ${duckSigExprs("s3")} FROM d2),
         |bands AS (${duckBandsSql("gid, n", "sig")}),
         |ex AS (SELECT gid, n, lang, source, unnest(list_distinct(s3)) AS shingle
         |       FROM sig),
         |exf AS (SELECT gid, lang, source, shingle FROM (
         |          SELECT *, sum(n) OVER (PARTITION BY lang, source, shingle) AS df
         |          FROM ex)
         |        WHERE df <= $ShingleDfCap),
         |szs AS (SELECT gid, count(*) AS sz FROM exf GROUP BY 1),
         |p AS (SELECT a.gid AS ga, b.gid AS gb, count(*) AS common
         |      FROM exf a JOIN exf b
         |        ON a.lang = b.lang AND a.source = b.source
         |        AND a.shingle = b.shingle AND a.gid < b.gid
         |      GROUP BY 1, 2),
         |jg AS (SELECT ga, gb,
         |         round(1.0 * common / (sa.sz + sb.sz - common), 4) AS jacc
         |       FROM p JOIN szs sa ON p.ga = sa.gid
         |              JOIN szs sb ON p.gb = sb.gid),
         |${duckBandPairs("detg(ga, gb)", "bands", "gid", "<")},
         |u0 AS (SELECT coalesce(jg.ga, detg.ga) AS ga,
         |         coalesce(jg.gb, detg.gb) AS gb,
         |         coalesce(jg.jacc, 0) AS jacc,
         |         CASE WHEN detg.ga IS NULL THEN 0 ELSE 1 END AS det
         |       FROM jg FULL JOIN detg ON jg.ga = detg.ga AND jg.gb = detg.gb),
         |uc AS (SELECT u0.jacc, u0.det, ga2.n * gb2.n AS mult
         |       FROM u0 JOIN grp ga2 ON ga2.gid = u0.ga
         |               JOIN grp gb2 ON gb2.gid = u0.gb),
         |uw AS (SELECT CASE WHEN coalesce(s.sz, 0) > 0 THEN 1.0 ELSE 0.0 END AS jacc,
         |         1 AS det, g.n * (g.n - 1) // 2 AS mult
         |       FROM sig g LEFT JOIN szs s ON s.gid = g.gid
         |       WHERE g.n > 1 AND len(list_distinct(g.s3)) > 0),
         |u AS (SELECT * FROM uc UNION ALL SELECT * FROM uw),
         |bk AS (SELECT least(CAST(floor(jacc * 10) AS INT), 9) AS bucket,
         |         CAST(sum(mult) AS BIGINT) AS n_pairs,
         |         CAST(sum(det * mult) AS BIGINT) AS n_detected
         |       FROM u GROUP BY 1)
         |$curve""".stripMargin
    Q.sqlDual(
      "dedup_lsh_curve",
      s"""WITH $jaccardPairsCtesSql,
         |${duckWords("doc_id", "documents", name = "lw")},
         |ld AS (SELECT doc_id, ${duckGrams(3)} AS s3 FROM lw),
         |lsig AS (SELECT doc_id, ${duckSigExprs("s3")} FROM ld),
         |bands AS (${duckBandsSql("doc_id", "lsig")}),
         |${duckBandPairs("det(doc_a, doc_b)", "bands", "doc_id", "<")},
         |u AS (SELECT coalesce(j.jacc, 0) AS jacc,
         |        CASE WHEN det.doc_a IS NULL THEN 0 ELSE 1 END AS det
         |      FROM j FULL JOIN det
         |        ON j.doc_a = det.doc_a AND j.doc_b = det.doc_b),
         |bk AS (SELECT least(CAST(floor(jacc * 10) AS INT), 9) AS bucket,
         |         count(*) AS n_pairs, CAST(sum(det) AS BIGINT) AS n_detected
         |       FROM u GROUP BY 1)
         |$curve""".stripMargin,
      scaleOracle) { (s, d) =>
      // Group-collapsed formulation (the dedup_minhash trick, here taken
      // all the way: the output is a ≤10-row histogram, so doc-level
      // pairs never need to exist AT ALL). Docs with identical
      // (lang, source, distinct-shingle-set) are interchangeable on BOTH
      // sides of the universe — same signatures (det side) and same
      // df-capped shingle set (exact side; df is the multiplicity-
      // weighted group count, so the cap is applied on TRUE document
      // frequency). Every per-bucket count is therefore a sum of group-
      // pair multiplicities: na·nb across groups, n·(n−1)/2 within
      // (within-group doc pairs are identical texts: det = 1 whenever
      // the group has signatures, jacc = 1 iff its capped set is
      // non-empty, else the pair is detector-only mass in bucket 0).
      // An exact-dup cluster of N — the class that DOMINATES pair volume
      // on a replicated crawl — costs one group row instead of N²/2
      // join rows on each side. The oracle keeps the naive doc-level
      // FULL OUTER: two independent shapes must hash-agree.
      val byText = Window.partitionBy("lang", "source", "s3d")
      val gAll = signaturesOf(docs(s, d).select("doc_id", "lang", "source", "text"),
          withShingles = true)
        .withColumn("gid", min("doc_id").over(byText))
        .withColumn("n", count(lit(1)).over(byText))
      val gmeta = gAll.filter(col("doc_id") === col("gid"))
        .drop("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // exact side over representatives, df weighted by multiplicity
      val ex = gmeta.select(col("gid"), col("lang"), col("source"), col("n"),
        explode(col("s3d")).as("shingle"))
      val exf = ex
        .withColumn("df",
          sum("n").over(Window.partitionBy("lang", "source", "shingle")))
        .filter(col("df") <= ShingleDfCap)
        .drop("df", "n")
      val szs = exf.groupBy("gid").agg(count(lit(1)).as("sz"))
      val jaccG = exf.select(col("gid").as("ga"), col("lang"), col("source"), col("shingle"))
        .join(exf.select(col("gid").as("gb"), col("lang").as("lang_b"),
            col("source").as("source_b"), col("shingle").as("shingle_b"))
            .hint("shuffle_hash"),
          col("lang") === col("lang_b") && col("source") === col("source_b") &&
          col("shingle") === col("shingle_b") && col("ga") < col("gb"))
        .groupBy("ga", "gb").agg(count(lit(1)).as("common"))
        .join(szs.select(col("gid").as("ga"), col("sz").as("sz_a")), Seq("ga"))
        .join(szs.select(col("gid").as("gb"), col("sz").as("sz_b")), Seq("gb"))
        .select(col("ga"), col("gb"),
          round(lit(1.0) * col("common")
            / (col("sz_a") + col("sz_b") - col("common")), 4).as("jacc"))
      // detector side over representatives
      val detG = bandPairs(bandsOf(gmeta, col("gid")), "gid", _ < _)
        .withColumn("det", lit(1))
      val gn = gmeta.select(col("gid"), col("n"))
      val cross = jaccG.join(detG, Seq("ga", "gb"), "full_outer")
        .join(gn.select(col("gid").as("ga"), col("n").as("na")), Seq("ga"))
        .join(gn.select(col("gid").as("gb"), col("n").as("nb")), Seq("gb"))
        .select(coalesce(col("jacc"), lit(0.0)).as("jacc"),
          coalesce(col("det"), lit(0)).as("det"),
          (col("na") * col("nb")).as("mult"))
      val within = gmeta.filter(col("n") > 1 && size(col("s3d")) > 0)
        .join(szs, Seq("gid"), "left")
        .select(when(coalesce(col("sz"), lit(0L)) > 0, lit(1.0)).otherwise(lit(0.0))
            .as("jacc"),
          lit(1).as("det"),
          (col("n") * (col("n") - 1) / 2).cast("long").as("mult"))
      val m = lit(10) - col("bucket")
      cross.unionByName(within)
        .withColumn("bucket",
          least(floor(col("jacc") * 10).cast("int"), lit(9)))
        .groupBy("bucket")
        .agg(sum("mult").cast("long").as("n_pairs"),
          sum(col("det") * col("mult")).cast("long").as("n_detected"))
        .select(round(col("bucket") / 10.0, 1).as("bucket_lo"),
          col("n_pairs"), col("n_detected"),
          round(lit(1.0) * col("n_detected") / col("n_pairs"), 4).as("detect_rate"),
          round((lit(10000) - m * m * m * m) / 10000.0, 4).as("theo_rate"))
        .orderBy("bucket_lo")
    }
  }

  /** Per-document language-label disagreement audit: the docs where the
    * lang_id classifier contradicts the ingest label, with the vote
    * evidence (stopword hit counts) and the decision margin — the review
    * queue a labeling pipeline works through (lang_id/lang_id_metrics say
    * HOW OFTEN the gate and the labels disagree; this says WHICH docs, so
    * mislabeled ingest batches can be traced to their source). Exactly
    * lang_id's prediction rule over the same features (the matrix ops and
    * this row-level view cannot drift — same expressions, spec-pinned
    * reconciliation); margin = winner votes − label-language votes (0 =
    * tie the argmax broke against the label; large = confidently foreign
    * text under that label). Pure per-row map + filter — ZERO shuffle at
    * any corpus size; output bounded by the disagreement count. */
  val docLangOutliers: Q = Q.sql(
    "doc_lang_outliers",
    s"""WITH ${duckLangVotes("doc_id, lang, source")},
      |p AS (SELECT doc_id, lang, source, n_the, n_data, n_spark,
      |        $duckPredictedLang AS predicted,
      |        CASE WHEN n_the >= n_data AND n_the >= n_spark THEN n_the
      |             WHEN n_data >= n_spark THEN n_data ELSE n_spark END AS win_votes,
      |        CASE lang WHEN 'en' THEN n_the WHEN 'es' THEN n_data ELSE n_spark END AS label_votes
      |      FROM f)
      |SELECT doc_id, lang, predicted, source,
      |  CAST(n_the AS INT) AS n_the, CAST(n_data AS INT) AS n_data,
      |  CAST(n_spark AS INT) AS n_spark,
      |  CAST(win_votes - label_votes AS INT) AS margin
      |FROM p WHERE predicted <> lang ORDER BY doc_id""".stripMargin) { (s, d) =>
    // distinct-text collapse: the three vote counts are pure text
    // functions — once per distinct text; lang/source are doc columns,
    // so predicted/win_votes derive per text and label_votes (lang-
    // dependent) derives after the tkey map join
    val (keyed, dist) = distinctTexts(docs(s, d), Seq("doc_id", "lang", "source"))
    val per = dist.select(col("tkey") +: langVotes: _*)
    keyed.join(per, Seq("tkey"))
      .withColumn("predicted", predictedLang)
      .withColumn("win_votes",
        when(col("n_the") >= col("n_data") && col("n_the") >= col("n_spark"), col("n_the"))
          .when(col("n_data") >= col("n_spark"), col("n_data"))
          .otherwise(col("n_spark")))
      .withColumn("label_votes",
        when(col("lang") === "en", col("n_the"))
          .when(col("lang") === "es", col("n_data"))
          .otherwise(col("n_spark")))
      .filter(col("predicted") =!= col("lang"))
      .select(col("doc_id"), col("lang"), col("predicted"), col("source"),
        col("n_the").cast("int").as("n_the"),
        col("n_data").cast("int").as("n_data"),
        col("n_spark").cast("int").as("n_spark"),
        (col("win_votes") - col("label_votes")).cast("int").as("margin"))
      .orderBy("doc_id")
  }

  /** Segment-level code-switch detector: split each document's word list
    * in half, classify each half with the [[langId]] rule, and roll up
    * the (label, head-prediction, tail-prediction) grid — a document
    * whose halves disagree is MIXED-LANGUAGE text, the class a
    * whole-document classifier silently mislabels and a monolingual
    * training mix shouldn't contain ([[docLangOutliers]] finds docs the
    * classifier gets wrong; this finds docs no single label fits).
    * Single-word docs put the empty tail through the same rule (all-zero
    * votes → 'en'), identically in both engines.
    *
    * Scale shape: pure per-row map (two list slices + six filtered
    * counts) into a groupBy bounded at |langs|³ rows — no join, one
    * partial-aggregated shuffle of ≤27 rows however large the corpus. */
  val docMixedLang: Q = {
    def duckVotes(seg: String, p: String) =
      s"""len(list_filter($seg, w -> w = 'the')) AS ${p}_the,
         |len(list_filter($seg, w -> w = 'data')) AS ${p}_data,
         |len(list_filter($seg, w -> w = 'spark')) AS ${p}_spark""".stripMargin
    def duckPred(p: String) =
      s"""CASE WHEN ${p}_the >= ${p}_data AND ${p}_the >= ${p}_spark THEN 'en'
         |     WHEN ${p}_data >= ${p}_spark THEN 'es' ELSE 'zh' END""".stripMargin
    def sparkVotes(df: DataFrame, seg: String, p: String) = df
      .withColumn(s"${p}_the", expr(s"size(filter($seg, w -> w = 'the'))"))
      .withColumn(s"${p}_data", expr(s"size(filter($seg, w -> w = 'data'))"))
      .withColumn(s"${p}_spark", expr(s"size(filter($seg, w -> w = 'spark'))"))
    def sparkPred(p: String) =
      when(col(s"${p}_the") >= col(s"${p}_data")
        && col(s"${p}_the") >= col(s"${p}_spark"), "en")
        .when(col(s"${p}_data") >= col(s"${p}_spark"), "es")
        .otherwise("zh")
    Q.sql(
      "doc_mixed_lang",
      s"""WITH ${duckWords("lang", "documents", name = "s")},
        |h AS (SELECT lang, ws[1:len(ws) // 2] AS hw,
        |        ws[len(ws) // 2 + 1:] AS tw FROM s),
        |f AS (SELECT lang,
        |        ${duckVotes("hw", "h")},
        |        ${duckVotes("tw", "t")}
        |      FROM h),
        |p AS (SELECT lang,
        |        ${duckPred("h")} AS pred_head,
        |        ${duckPred("t")} AS pred_tail
        |      FROM f)
        |SELECT lang, pred_head, pred_tail, count(*) AS n_docs,
        |  CAST(CASE WHEN pred_head <> pred_tail THEN 1 ELSE 0 END AS BIGINT)
        |    AS mixed
        |FROM p GROUP BY 1, 2, 3
        |ORDER BY lang, pred_head, pred_tail""".stripMargin) { (s, d) =>
      // distinct-text collapse: both half-classifications are pure text
      // functions — sliced, voted and argmaxed once per distinct text
      val (keyed, dist) = distinctTexts(docs(s, d), Seq("lang"))
      val base = dist
        .select(col("tkey"), words.as("ws"))
        .withColumn("hw", expr("slice(ws, 1, size(ws) div 2)"))
        .withColumn("tw", expr("slice(ws, size(ws) div 2 + 1, size(ws) - size(ws) div 2)"))
      val per = sparkVotes(sparkVotes(base, "hw", "h"), "tw", "t")
        .select(col("tkey"), sparkPred("h").as("pred_head"),
          sparkPred("t").as("pred_tail"))
      keyed.join(per, Seq("tkey"))
        .groupBy("lang", "pred_head", "pred_tail")
        .agg(count(lit(1)).as("n_docs"))
        .select(col("lang"), col("pred_head"), col("pred_tail"), col("n_docs"),
          when(col("pred_head") =!= col("pred_tail"), 1L).otherwise(0L).as("mixed"))
        .orderBy("lang", "pred_head", "pred_tail")
    }
  }

  /** Dedup yield curve: for each candidate jaccard threshold, how many
    * near-dup pairs fire and how much of the corpus the min-id-keep rule
    * would drop — the sizing report a curation run reads BEFORE picking
    * its threshold (dedup_ngram_jaccard answers "who is a dup at 0.7";
    * this answers "what does 0.6 vs 0.8 cost", which is how the 0.7 gets
    * chosen). Victim counting is distinct-doc_b (the pair's larger id —
    * exactly the doc the keep rule removes), so a doc in ten pairs counts
    * once.
    *
    * Scale: ONE pass over the df-capped pair list (already bounded at
    * cap² per shingle by the inverted-index discipline) joined to the
    * 5-row threshold frame (broadcast nested-loop on a 5-row side — the
    * bounded side ships, pairs never re-shuffle), partial-agged to 5
    * rows; corpus size is a 1-row broadcast. */
  val dedupThresholdCurve: Q = Q.sql(
    "dedup_threshold_curve",
    s"""WITH $jaccardPairsCtesSql,
       |th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
       |m AS (SELECT th.threshold, j.doc_b
       |      FROM th JOIN j ON j.jacc >= th.threshold),
       |a AS (SELECT threshold, count(*) AS n_pairs,
       |        count(DISTINCT doc_b) AS n_docs_dropped
       |      FROM m GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT th.threshold,
       |  coalesce(a.n_pairs, 0) AS n_pairs,
       |  coalesce(a.n_docs_dropped, 0) AS n_docs_dropped,
       |  round(1.0 * coalesce(a.n_docs_dropped, 0) / n.n_docs, 4) AS drop_share
       |FROM th LEFT JOIN a USING (threshold) CROSS JOIN n
       |ORDER BY th.threshold""".stripMargin) { (s, d) =>
    val pairs = jaccardPairs(s, d)
    val th = (5 to 9).map(_ / 10.0)
    val thDf = s.createDataFrame(
      s.sparkContext.parallelize(th.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("threshold",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val agg = pairs.join(broadcast(thDf), col("jacc") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
    val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
    thDf.join(agg, Seq("threshold"), "left")
      .crossJoin(broadcast(n))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
        round(lit(1.0) * coalesce(col("n_docs_dropped"), lit(0L))
          / col("n_docs"), 4).as("drop_share"))
      .orderBy("threshold")
  }

  /** Fuzzy decontamination: the near-duplicate complement of
    * CorpusOps.decontaminate's exact-shingle probe — corpus docs whose
    * minhash band signature collides with a benchmark doc, scored by the
    * banded similarity estimate (shared bands / 4). An eval answer
    * paraphrased into the corpus shares few exact 4-grams but keeps a
    * high Jaccard over 3-shingles, which is exactly what the minhash
    * bands see; `contaminated` flags ≥2 shared bands (est ≥ 0.5).
    *
    * Scale: the benchmark side is tiny by construction, so its band rows
    * BROADCAST and the probe is a map-side hash equi-join on (band, bucket) —
    * the corpus is scanned once and never shuffles for the probe (the
    * decontaminate posture, on the minhash plane). Band rows come from
    * the same graft_minhash_sig machinery as dedup_minhash — one
    * definition, the two planes cannot drift. */
  val decontaminateFuzzy: Q = {
    // Collapsed scale twin: the SQL mirror of the Spark side's
    // distinct-content collapse. The naive oracle's corpus-band × bench-
    // band join is replication-quadratic (twins stand on both sides of
    // every (band, bucket) collision), so the 1000x gate needs the band join
    // at content level: signatures once per distinct text, bench
    // multiplicity and min bench id carried on the content group, the
    // per-doc report expanded by the linear membership join.
    val scaleOracle =
      s"""WITH ${duckDistinctTexts(Seq(
           "CAST(sum(CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m_bench",
           "min(CASE WHEN doc_id % 29 = 0 THEN doc_id END) AS min_bench_id"))},
         |${duckShingleCtes("tk", "grp")},
         |tsig AS MATERIALIZED (SELECT tk, ${duckSigExprs("s3")} FROM docs),
         |tb AS (${duckBandsSql("tk", "tsig")}),
         |bb AS (SELECT t.tk AS btk, g.m_bench, g.min_bench_id, t.band, t.bucket
         |       FROM tb t JOIN grp g ON g.tk = t.tk WHERE g.m_bench >= 1),
         |hitg AS (SELECT c.tk, b.btk, b.m_bench, b.min_bench_id,
         |           count(*) AS shared_bands
         |         FROM ${duckBandHits("tb c", "bb b")}
         |         GROUP BY 1, 2, 3, 4),
         |bestg AS (SELECT tk, CAST(sum(m_bench) AS BIGINT) AS n_bench_hits,
         |            CAST(max(shared_bands) AS BIGINT) AS max_shared
         |          FROM hitg GROUP BY 1),
         |pickg AS (SELECT h.tk, min(h.min_bench_id) AS best_bench_id
         |          FROM hitg h JOIN bestg b
         |            ON h.tk = b.tk AND h.shared_bands = b.max_shared
         |          GROUP BY 1)
         |SELECT d.doc_id, p.best_bench_id, b.n_bench_hits, b.max_shared,
         |  round(1.0 * b.max_shared / ${minhashParams.length}, 4) AS est_jaccard,
         |  CASE WHEN b.max_shared >= 2 THEN 1 ELSE 0 END AS contaminated
         |FROM documents d
         |JOIN bestg b ON md5(d.text) = b.tk
         |JOIN pickg p ON md5(d.text) = p.tk
         |WHERE d.doc_id % 29 <> 0
         |ORDER BY d.doc_id""".stripMargin
    Q.sqlDual(
      "decontaminate_fuzzy",
      s"""WITH ${duckSigCtes()},
         |bands AS (${duckBandsSql("doc_id", "sig")}),
         |bb AS (SELECT doc_id AS bench_id, band, bucket FROM bands WHERE doc_id % 29 = 0),
         |cb AS (SELECT doc_id, band, bucket FROM bands WHERE doc_id % 29 <> 0),
         |hit AS (SELECT cb.doc_id, bb.bench_id, count(*) AS shared_bands
         |        FROM ${duckBandHits("cb", "bb")}
         |        GROUP BY 1, 2),
         |best AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
         |           CAST(max(shared_bands) AS BIGINT) AS max_shared
         |         FROM hit GROUP BY 1),
         |pick AS (SELECT h.doc_id, min(h.bench_id) AS best_bench_id
         |         FROM hit h JOIN best b
         |           ON h.doc_id = b.doc_id AND h.shared_bands = b.max_shared
         |         GROUP BY 1)
         |SELECT b.doc_id, p.best_bench_id, b.n_bench_hits, b.max_shared,
         |  round(1.0 * b.max_shared / ${minhashParams.length}, 4) AS est_jaccard,
         |  CASE WHEN b.max_shared >= 2 THEN 1 ELSE 0 END AS contaminated
         |FROM best b JOIN pick p ON b.doc_id = p.doc_id
         |ORDER BY b.doc_id""".stripMargin,
      scaleOracle) { (s, d) =>
      // Replication-quadratic fix (round-10 100x sweep: 32 s / 20x): band
      // collisions ran corpus DOC × bench DOC — b·c rows per (band, bucket)
      // under twinning. Signatures are pure text functions, so the
      // collision graph now runs over DISTINCT CONTENT: each bench
      // content carries its bench-twin multiplicity and min bench id
      // (the % 29 split is an id property — one content can stand on
      // both sides), per-content verdicts aggregate content-pair rows,
      // and the per-doc report expands by the linear membership join
      // (twins share signatures, hence verdicts).
      val (keyedAll, distTexts) = distinctTexts(docs(s, d))
      val meta = keyedAll.groupBy("tkey").agg(
        sum(when(col("doc_id") % 29 === 0, 1).otherwise(0)).cast("long").as("m_bench"),
        min(when(col("doc_id") % 29 === 0, col("doc_id"))).as("min_bench_id"))
      val bands = bandsOf(signaturesOf(distTexts), col("tkey"))
      val bench = bands
        .join(meta.filter(col("m_bench") >= 1)
          .select(col("tkey").as("btk"), col("m_bench"), col("min_bench_id")),
          col("tkey") === col("btk"))
        .select(col("btk"), col("m_bench"), col("min_bench_id"), col("band"), col("bucket"))
      val hitsG = bandHits(bands, bench)
        .groupBy("tkey", "btk", "m_bench", "min_bench_id")
        .agg(count(lit(1)).as("shared_bands"))
      // ONE aggregation carries the multiplicity-weighted hit count and
      // the argmax pick (max over (shared, −min_bench_id) structs = max
      // shared bands, min bench id on ties — within a tied bench content
      // its own min id is the smallest of its twins)
      val bestG = hitsG.groupBy("tkey")
        .agg(sum("m_bench").cast("long").as("n_bench_hits"),
          max(struct(col("shared_bands").as("s"),
            (-col("min_bench_id")).as("nb"))).as("__m"))
        .select(col("tkey"), col("n_bench_hits"),
          col("__m.s").cast("long").as("max_shared"),
          (-col("__m.nb")).as("best_bench_id"))
      val best = keyedAll.filter(col("doc_id") % 29 =!= 0)
        .join(bestG, Seq("tkey"))
        .select(col("doc_id"), col("n_bench_hits"), col("max_shared"),
          col("best_bench_id"))
      best
        .select(col("doc_id"), col("best_bench_id"), col("n_bench_hits"),
          col("max_shared"),
          round(lit(1.0) * col("max_shared") / minhashParams.length, 4)
            .as("est_jaccard"),
          when(col("max_shared") >= 2, 1).otherwise(0).as("contaminated"))
        .orderBy("doc_id")
    }
  }

  /** Cross-plane dedup agreement — the audit that decides which
    * near-dup detector to trust where: every candidate pair flagged by
    * the TEXT plane (minhash band collision over 3-shingles) and/or the
    * EMBEDDING plane (adaptive sign-LSH candidates at cosine ≥ 0.35),
    * classified both / text_only / emb_only with pair counts, share,
    * and mean cosine per class. text_only with LOW mean cosine = the
    * template/boilerplate dups an embedding misses; emb_only = the
    * paraphrase dups shingles miss; a small `both` core says the two
    * planes are NOT redundant and a production dedup needs the union.
    * Rides the aligned doc_id ≡ vec_id key space: only ids that
    * carry both a document and an embedding pair up, in either plane,
    * while the adaptive LSH bit width counts every embedding.
    *
    * Scale: both candidate generators are the live blocked machineries
    * (minhash bands; adaptive sign-LSH with constant expected bucket)
    * — no new pair-generation shape; the planes meet in a full-outer
    * equi-join on the pair key, the cosine lookup joins the embedding
    * table twice by id, and the verdict rollup is a ≤ 3-row aggregate
    * with half-up integer means (no double rounds near ties). */
  val dedupPlaneAgreement: Q = {
    import graft.vector.Similarity
    val duckBands = duckBandsSql("doc_id", "sig")
    // each pair of the text plane `tp` or the embedding plane `ep` with its
    // verdict, and its cosine (`uc`)
    val verdicts =
      s"""u AS (SELECT coalesce(tp.a, ep.a) AS a, coalesce(tp.b, ep.b) AS b,
         |        CASE WHEN tp.a IS NOT NULL AND ep.a IS NOT NULL THEN 'both'
         |             WHEN tp.a IS NOT NULL THEN 'text_only'
         |             ELSE 'emb_only' END AS verdict
         |      FROM tp FULL OUTER JOIN ep ON tp.a = ep.a AND tp.b = ep.b),
         |${Similarity.duckPairCosines("uc", "u", "a", "b")}""".stripMargin
    // per verdict, the pair count, share and half-up mean cosine of the
    // per-verdict sums `g` (n_pairs, s4)
    val shares =
      """t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM g)
        |SELECT verdict, n_pairs,
        |  round(1.0 * n_pairs / total, 4) AS pair_share,
        |  CAST((2 * s4 + n_pairs) // (2 * n_pairs) AS DOUBLE) / 10000 - 1
        |    AS mean_cos
        |FROM g CROSS JOIN t ORDER BY verdict""".stripMargin
    // Collapsed scale twin: the group-level mirror of the Spark body —
    // signatures/buckets per distinct (text, embedding) representative,
    // a<=b self-rows as the within-group twin pairs, counts as
    // multiplicity sums (na·nb across, n(n−1)/2 within), adaptive bit
    // width pinned to the FULL corpus count. Keeps the 100x gate
    // hash-checkable where the naive doc-pair universe exceeds
    // single-box DuckDB's spill capacity.
    val scaleOracle =
      s"""WITH j AS MATERIALIZED (
         |  SELECT d.doc_id, d.text, CAST(e0.embedding AS DOUBLE[]) AS emb
         |  FROM documents d JOIN embeddings e0 ON d.doc_id = e0.vec_id),
         |grp AS MATERIALIZED (
         |  SELECT min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS m, text, emb
         |  FROM j GROUP BY text, emb),
         |${duckWords("gid AS doc_id", "grp")},
         |docs AS (SELECT doc_id, ${duckGrams(3)} AS s3 FROM w),
         |sig AS (SELECT doc_id, s3, ${duckSigExprs("s3")} FROM docs),
         |tb AS ($duckBands),
         |${duckBandPairs("tp(a, b)", "tb", "doc_id", "<=")},
         |e AS (SELECT gid AS vec_id, emb FROM grp),
         |${graft.vector.Similarity.signBandsSql("e",
              // count(*) over ALL embeddings — exactly what the Spark
              // side's signBands(countFrom = Some(e)) derives; sum(m)
              // over grp would diverge if vec_ids were ever not 1:1
              // with doc_ids, changing bucket geometry only at scales
              // where the naive oracle no longer runs
              "n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)")},
         |${duckBandPairs("ec(a, b)", "bands", "vec_id", "<=")},
         |${Similarity.duckPairCosines("ecs", "ec", "a", "b")},
         |ep AS (SELECT a, b FROM ecs WHERE cos_sim >= 0.35),
         |$verdicts,
         |sc AS (SELECT uc.verdict,
         |         CASE WHEN uc.a = uc.b THEN ma.m * (ma.m - 1) // 2
         |              ELSE ma.m * mb.m END AS wt,
         |         CAST(round((cos_sim + 1) * 10000, 0) AS BIGINT) AS cos4
         |       FROM uc JOIN grp ma ON ma.gid = uc.a
         |               JOIN grp mb ON mb.gid = uc.b),
         |g AS (SELECT verdict, CAST(sum(wt) AS BIGINT) AS n_pairs,
         |        CAST(sum(wt * cos4) AS BIGINT) AS s4
         |      FROM sc WHERE wt > 0 GROUP BY 1),
         |$shares""".stripMargin
    Q.sqlDual(
      "dedup_plane_agreement",
      s"""WITH ${duckSigCtes("documents WHERE doc_id IN (SELECT vec_id FROM embeddings)")},
         |tb AS ($duckBands),
         |${duckBandPairs("tp(a, b)", "tb", "doc_id", "<")},
         |${Similarity.duckEmb()},
         |pe AS (SELECT vec_id, emb FROM e WHERE vec_id IN (SELECT doc_id FROM documents)),
         |${Similarity.signBandsSql("pe", "n1 AS (SELECT count(*) AS n FROM e)")},
         |${duckBandPairs("ec(a, b)", "bands", "vec_id", "<")},
         |${Similarity.duckPairCosines("ecs", "ec", "a", "b")},
         |ep AS (SELECT a, b FROM ecs WHERE cos_sim >= 0.35),
         |$verdicts,
         |sc AS (SELECT verdict,
         |         CAST(round((cos_sim + 1) * 10000, 0) AS BIGINT) AS cos4
         |       FROM uc),
         |g AS (SELECT verdict, CAST(count(*) AS BIGINT) AS n_pairs,
         |        CAST(sum(cos4) AS BIGINT) AS s4
         |      FROM sc GROUP BY 1),
         |$shares""".stripMargin,
      scaleOracle) { (s, d) =>
      // Replication-quadratic fix (round-10 100x sweep: >1200 s timeout
      // at sf10): both planes materialized DOC-level candidate pairs —
      // an exact-dup cluster of n costs n² rows in each band self-join.
      // Twins share text AND embedding, so every pair verdict and every
      // cosine is a property of the CONTENT pair: the collision graphs
      // now run over one representative per distinct (text, embedding)
      // group and each group pair carries its doc-pair multiplicity —
      // na·nb across groups, n(n−1)/2 within (the a<=b self-rows of the
      // group joins ARE the twin pairs, which also reproduces the
      // empty-shingle / zero-vector edge exactly: a group with no band
      // rows never self-collides, in either formulation).
      val e = graft.Tables.embeddings(s, d)
      val joined = docs(s, d).select(col("doc_id"), col("text"))
        .join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      // group on the raw (text, embedding) pair — EXACT (a round-10
      // xxhash64 group key could silently merge two groups on a 64-bit
      // collision); partial aggregation still bounds the exchange at one
      // copy of each distinct pair per map partition, and one
      // aggregation replaces the former hash-key + join-back two-pass
      val rep = joined.groupBy("text", "embedding")
        .agg(count(lit(1)).cast("long").as("m"), min("doc_id").as("gid"))
        .select(col("gid"), col("m"), col("text"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tp = bandPairs(bandsOf(signaturesOf(rep.select("gid", "text")), col("gid")),
        "gid", _ <= _).toDF("a", "b")
      // countFrom pins the adaptive bit width to the FULL corpus count:
      // banding only representatives must not change the bucket geometry
      // (the ann_knn_graph collapse's lesson, and exactly what the naive
      // oracle derives from count(*) over all embeddings)
      val bands = Similarity.signBands(
        rep.select(col("gid").as("vec_id"), col("embedding")),
        countFrom = Some(e))
      val ec = bandPairs(bands, "vec_id", _ <= _, "a", "b")
      val ea = rep.select(col("gid").as("a"), col("embedding").as("ea"),
        col("m").as("ma"))
      val eb = rep.select(col("gid").as("b"), col("embedding").as("eb"),
        col("m").as("mb"))
      val cosPair = round(expr("graft_cosine(ea, eb)"), 4)
      val ep = ec.join(ea.select("a", "ea"), Seq("a"))
        .join(eb.select("b", "eb"), Seq("b"))
        .filter(cosPair >= 0.35)
        .select("a", "b")
      val u = tp.withColumn("__t", lit(1))
        .join(ep.withColumn("__e", lit(1)), Seq("a", "b"), "full_outer")
        .select(col("a"), col("b"),
          when(col("__t").isNotNull && col("__e").isNotNull, "both")
            .when(col("__t").isNotNull, "text_only")
            .otherwise("emb_only").as("verdict"))
      val g = u.join(ea, Seq("a")).join(eb, Seq("b"))
        .withColumn("w", expr(
          "CASE WHEN a = b THEN ma * (ma - 1) div 2 ELSE ma * mb END"))
        .filter(col("w") > 0)
        .select(col("verdict"), col("w"),
          // +1 shift keeps the sum non-negative: Spark `div` truncates
          // toward zero while DuckDB `//` floors, so a negative numerator
          // would split the engines
          expr("CAST(round((round(graft_cosine(ea, eb), 4) + 1) * 10000, 0) AS BIGINT)")
            .as("cos4"))
        .groupBy("verdict")
        .agg(sum("w").cast("long").as("n_pairs"),
          sum(col("w") * col("cos4")).cast("long").as("s4"))
      val t = g.agg(sum("n_pairs").cast("long").as("total"))
      g.crossJoin(broadcast(t))
        .select(col("verdict"), col("n_pairs"),
          round(lit(1.0) * col("n_pairs") / col("total"), 4).as("pair_share"),
          (expr("(2 * s4 + n_pairs) div (2 * n_pairs)").cast("double") / 10000
            - 1).as("mean_cos"))
        .orderBy("verdict")
    }
  }

  /** Lognormal fit of the per-source document-length distribution
    * (method of moments on ln length): real corpora are approximately
    * lognormal in length, and the (μ, σ) pair is what a sampling /
    * packing planner consumes — exp(μ) estimates the median, and σ says
    * how heavy the long tail a seq-len budget must absorb is. One
    * partial-agg pass; the ln terms ride exact decimals (the text_entropy
    * discipline) so partitioning never moves the moments. */
  val textLengthLognormal: Q = Q.sql(
    "text_length_lognormal",
    """WITH x AS (SELECT source, ln(CAST(length(text) AS DOUBLE)) AS lx
      |           FROM documents),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CAST(lx AS DECIMAL(28,6))) AS DOUBLE) AS s1,
      |        CAST(sum(CAST(lx * lx AS DECIMAL(28,6))) AS DOUBLE) AS s2
      |      FROM x GROUP BY source)
      |SELECT source, n,
      |  round(s1 / n, 4) AS mu,
      |  round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)), 4) AS sigma,
      |  round(exp(s1 / n), 2) AS median_est
      |FROM g ORDER BY source""".stripMargin) { (s, d) =>
    val x = docs(s, d)
      .select(col("source"), log(length(col("text")).cast("double")).as("lx"))
    x.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("lx").cast("decimal(28,6)")).cast("double").as("s1"),
        sum((col("lx") * col("lx")).cast("decimal(28,6)")).cast("double").as("s2"))
      .select(col("source"), col("n"),
        round(col("s1") / col("n"), 4).as("mu"),
        round(sqrt(greatest(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n")), lit(0.0))), 4).as("sigma"),
        round(exp(col("s1") / col("n")), 2).as("median_est"))
      .orderBy("source")
  }

  /** Content-defined-chunking dedup over the word stream — the text twin
    * of multimodal_chunk_dedup's 256-B CDC pass, and the shift-robust
    * alternative to fixed-width spans (span_dedup): a chunk boundary
    * falls wherever the rolling 3-word window hashes to 0 mod 16, so an
    * insertion near a document's head changes only the chunks it touches
    * — every later boundary re-synchronizes on content, where a
    * fixed-width grid would shift every downstream span's identity.
    * Published per document: chunk count, words, and the share of words
    * sitting in chunks whose content occurs ≥ 2 times corpus-wide
    * (within-doc repeats included — a repeated chunk is a duplicate
    * wherever it lives).
    *
    * Chunking is a pure function of text, so the whole pass runs on
    * DISTINCT CONTENT (the SURVEY §4 collapse): boundaries/chunks are
    * computed once per distinct text, corpus-wide occurrence counts are
    * multiplicity-weighted sums, and the per-doc report expands through
    * the (doc_id, tkey) map — replication-invariant by construction. The
    * oracle stays the independent naive doc-level shape (occurrence
    * counting is linear, not pairwise, so the naive twin holds at scale).
    *
    * Scale: one tkey-keyed window pair over distinct-text words (the
    * LM-family explode mass), one content-keyed partial-agg groupBy for
    * occurrences (128-bit chunk keys — no chunk text rides the
    * occurrence exchange), one linear expansion join. Nothing all-pairs.
    */
  val dedupCdc: Q = {
    // the chunking chain over `w` (the `key` columns + ws), each text's
    // words partitioned by `part`: ending in the chunks `ch` (key…,
    // chunk_id, nwords, ctext)
    def chunks(key: String, part: String) =
      s"""p AS (SELECT $key, i, ws[i] AS word
         |      FROM (SELECT $key, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)),
         |g AS (SELECT $key, i, word,
         |        lag(word, 2) OVER (PARTITION BY $part ORDER BY i) AS w2,
         |        lag(word, 1) OVER (PARTITION BY $part ORDER BY i) AS w1
         |      FROM p),
         |b AS (SELECT $key, i, word,
         |        CASE WHEN i >= 3
         |               AND ${duckWordHash("w2 || ' ' || w1 || ' ' || word")} % 16 = 0
         |             THEN 1 ELSE 0 END AS bnd
         |      FROM g),
         |c AS (SELECT $key, i, word,
         |        coalesce(CAST(sum(bnd) OVER (PARTITION BY $part ORDER BY i
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |          AS chunk_id
         |      FROM b),
         |ch AS MATERIALIZED (
         |  SELECT $key, chunk_id, CAST(count(*) AS BIGINT) AS nwords,
         |    string_agg(word, ' ' ORDER BY i) AS ctext
         |  FROM c GROUP BY $key, chunk_id)""".stripMargin
    // per-text chunk stats of `ch` against the occurrence counts `occ`
    val stats =
      """CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(ch.nwords) AS BIGINT) AS words_total,
        |  CAST(sum(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(sum(CASE WHEN o.occ >= 2 THEN ch.nwords ELSE 0 END) AS BIGINT)
        |    AS words_in_dup,
        |  round(1.0 * sum(CASE WHEN o.occ >= 2 THEN ch.nwords ELSE 0 END)
        |    / sum(ch.nwords), 4) AS dup_chunk_ratio
        |FROM ch JOIN occ o ON ch.ctext = o.ctext""".stripMargin
    Q.sqlDual(
      "dedup_cdc",
      s"""WITH ${duckWords()},
         |${chunks("doc_id", "doc_id")},
         |occ AS (SELECT ctext, CAST(count(*) AS BIGINT) AS occ FROM ch GROUP BY 1)
         |SELECT ch.doc_id,
         |  $stats
         |GROUP BY 1 ORDER BY 1""".stripMargin,
      // Collapsed scale twin (the replicated gates: chunking is a pure
      // text function, so chunk the DISTINCT texts once, weight occurrence
      // counts by multiplicity, and expand per-doc through the text join —
      // the naive doc-level shape above OOMs single-box DuckDB at 100x)
      s"""WITH dt AS MATERIALIZED (
         |  SELECT min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS m, text
         |  FROM documents GROUP BY text),
         |${duckWords("gid, m", "dt")},
         |${chunks("gid, m", "gid")},
         |occ AS (SELECT ctext, CAST(sum(m) AS BIGINT) AS occ FROM ch GROUP BY 1),
         |pt AS (SELECT ch.gid,
         |  $stats
         |  GROUP BY 1)
         |SELECT d.doc_id, pt.n_chunks, pt.words_total, pt.n_dup_chunks,
         |  pt.words_in_dup, pt.dup_chunk_ratio
         |FROM documents d JOIN dt ON d.text = dt.text JOIN pt ON dt.gid = pt.gid
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val (keyed, dist) = distinctTexts(docs(s, d))
      // per-position word rows over DISTINCT texts; the 3-word window comes
      // from two lags over the tkey partition (never element_at(ws, i) —
      // the optimizer-inlined-split O(words²) trap, see Tokens.shingles)
      val pos = dist
        .select(col("tkey"), col("m"),
          posexplode(words).as(Seq("p0", "word")))
        .select(col("tkey"), col("m"), (col("p0") + 1).as("i"), col("word"))
      val wnd = Window.partitionBy("tkey").orderBy("i")
      val bnd = pos
        .withColumn("w2", lag("word", 2).over(wnd))
        .withColumn("w1", lag("word", 1).over(wnd))
        .withColumn("bnd",
          when(col("i") >= 3 &&
            expr(s"${sparkWordHash("concat(w2, ' ', w1, ' ', word)")} % 16") === 0, 1)
            .otherwise(0))
      val cumW = Window.partitionBy("tkey").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
      // persisted: referenced by BOTH the occurrence count and the join
      // back — without it Catalyst re-expands the explode→window→chunk
      // subtree (the heaviest pass) once per reference
      val chunks = bnd
        .withColumn("chunk_id", coalesce(sum("bnd").over(cumW), lit(0)).cast("long"))
        .groupBy(col("tkey"), col("m"), col("chunk_id"))
        .agg(count(lit(1)).cast("long").as("nwords"),
          expr("array_join(transform(array_sort(collect_list(struct(i, word))), x -> x.word), ' ')")
            .as("ctext"))
        .withColumn("ckey", graft.Hash128.key128(col("ctext")))
        .drop("ctext") // only the 16-byte key is needed past this point
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // corpus-wide occurrences, multiplicity-weighted; only the 16-byte
      // chunk key rides this exchange
      val occ = chunks.groupBy("ckey").agg(sum("m").cast("long").as("occ"))
      val perText = chunks.join(occ, Seq("ckey"))
        .groupBy("tkey")
        .agg(count(lit(1)).cast("long").as("n_chunks"),
          sum("nwords").cast("long").as("words_total"),
          sum(when(col("occ") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_chunks"),
          sum(when(col("occ") >= 2, col("nwords")).otherwise(0L)).cast("long")
            .as("words_in_dup"))
      keyed.join(perText, Seq("tkey"))
        .select(col("doc_id"), col("n_chunks"), col("words_total"),
          col("n_dup_chunks"), col("words_in_dup"),
          round(lit(1.0) * col("words_in_dup") / col("words_total"), 4)
            .as("dup_chunk_ratio"))
        .orderBy("doc_id")
    }
  }

  /** Structural boilerplate templates — the whole-document companion of
    * boilerplate_ngrams: crawled corpora are full of machine-generated
    * pages that differ only in numbers (ids, prices, timestamps-as-text).
    * Each document reduces to its skeleton (every digit run collapsed to
    * `#`), skeletons group, and the top-10 templates by document count
    * come back with their raw-variant count (`n_texts` > 1 = a true
    * template: many distinct texts, one shape — exactly the rows an
    * exact-dedup pass cannot see) plus an eyeball prefix. A curation run
    * reads this before deciding template-level filtering.
    *
    * Scale: ONE corpus scan; the exchange carries md5 keys + a 60-char
    * prefix, never the full text or skeleton (the LM payload
    * discipline); the groupBy partial-aggregates; top-10 is a
    * distributed TakeOrdered; rnk is a window over the 10-row result. */
  val docTemplateDetect: Q = Q.sql(
    "doc_template_detect",
    """WITH t AS (SELECT doc_id, text,
      |    regexp_replace(text, '[0-9]+', '#', 'g') AS tpl FROM documents),
      |k AS (SELECT md5(tpl) AS tid, md5(text) AS xid,
      |    substr(tpl, 1, 60) AS pfx, length(tpl) AS tlen FROM t),
      |g AS (SELECT tid, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(count(DISTINCT xid) AS BIGINT) AS n_texts,
      |    min(pfx) AS template_prefix,
      |    CAST(min(tlen) AS BIGINT) AS template_len
      |  FROM k GROUP BY 1),
      |top AS (SELECT * FROM g ORDER BY n_docs DESC, tid LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY n_docs DESC, tid) AS BIGINT)
      |    AS rnk,
      |  substr(tid, 1, 16) AS template_id, n_docs, n_texts,
      |  template_len, template_prefix
      |FROM top ORDER BY rnk""".stripMargin) { (s, d) =>
    val t = docs(s, d).select(col("doc_id"), col("text"),
      regexp_replace(col("text"), "[0-9]+", "#").as("tpl"))
    val k = t.select(md5(col("tpl")).as("tid"), md5(col("text")).as("xid"),
      substring(col("tpl"), 1, 60).as("pfx"), length(col("tpl")).as("tlen"))
    val g = k.groupBy("tid")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct("xid").cast("long").as("n_texts"),
        min("pfx").as("template_prefix"),
        min("tlen").cast("long").as("template_len"))
    val top = g.orderBy(col("n_docs").desc, col("tid")).limit(10)
    top.withColumn("rnk", row_number()
        .over(Window.orderBy(col("n_docs").desc, col("tid"))).cast("long"))
      .select(col("rnk"), substring(col("tid"), 1, 16).as("template_id"),
        col("n_docs"), col("n_texts"), col("template_len"),
        col("template_prefix"))
      .orderBy("rnk")
  }

  val all: Seq[Q] = Seq(
    docTemplateDetect,
    textLengthLognormal, dedupCdc,
    dedupExact, dedupPrefix, dedupBow, dedupNgramJaccard, dedupContainment,
    dedupComponents, dedupKeepBest,
    dedupMinhash, dedupMinhashEst, dedupMinhashCalib, dedupIncremental,
    dedupSimhash,
    dedupLshCurve, decontaminateFuzzy, dedupPlaneAgreement, langId,
    langIdMetrics, textQuality, qualityBlocklist, docReadability,
    textEntropy, tokenCount, docFingerprint,
    samplePerSource, tokenRegex, docLangOutliers, dedupThresholdCurve,
    dedupClusterStats, dedupSourceMatrix, dedupTokenInflation, docMixedLang,
    dedupSoftWeight, dedupOnion)
}
