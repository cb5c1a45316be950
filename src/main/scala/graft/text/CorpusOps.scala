package graft.text

import graft.Q
import graft.Tables.{documents => docs}
import graft.text.Tokens.{distinctTexts, duckDistinctTexts, duckDocGroups, duckGrams,
  duckShingleRows, duckWordList, duckWords, grams, shingles, words}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators — the filter/mix/decontaminate stages a
  * large-scale training-data pipeline runs between raw ingest and
  * tokenization (the stage the reference's audit feed would sit upstream
  * of). Same hash/ratio discipline as [[TextOps]]: every value is derived
  * from primitives with identical semantics in Spark and DuckDB, ratios
  * are exact int/int divisions rounded once.
  *
  * Scale design: every operator is a per-row map, a partial-aggregating
  * groupBy, or an equi-join against a small (broadcast) side — no
  * all-pairs shape anywhere; candidate generation for decontamination is
  * bounded by the benchmark set size, which is tiny by construction in
  * the real use case (held-out evals vs a 100 TB corpus).
  */
object CorpusOps {

  /** Quality-gate features + per-rule flags — the single source of the
    * thresholds, shared by quality_filter (flags per rule) and
    * corpus_funnel (their conjunction). Both dialects are emitted from
    * the same pairs. */
  private[graft] val duckQualityFeatures: String =
    s"""len(${duckWordList()}) AS n_words,
      |    len(list_distinct(${duckWordList()})) AS n_distinct,
      |    length(replace(text, ' ', '')) AS word_chars,
      |    len(list_filter(${duckWordList()}, w -> w IN ('the', 'a', 'of'))) AS n_stop""".stripMargin

  private val ruleFlags: Seq[(String, String)] = Seq(
    "r_too_short" -> "n_words < 25",
    "r_repetitive" -> "1.0 * n_distinct / n_words < 0.35",
    "r_word_len" ->
      "1.0 * word_chars / n_words < 4.0 OR 1.0 * word_chars / n_words > 5.0",
    "r_no_stopword" -> "n_stop = 0")

  private def duckFlagExprs: String = ruleFlags
    .map { case (n, p) => s"CASE WHEN $p THEN 1 ELSE 0 END AS $n" }
    .mkString(",\n    ")

  /** SQL for "all gates pass" (both dialects accept it verbatim). Shared
    * with the streaming ingest monitor (EventStream.corpusStreamQa) so the
    * in-flight gate can never drift from the batch one. */
  private[graft] val passAllSql: String = ruleFlags
    .map { case (_, p) => s"(CASE WHEN $p THEN 1 ELSE 0 END)" }
    .mkString(" + ") + " = 0"

  /** DuckDB twin of [[withQualityFlags]]: per document, its `keep`
    * columns with the features (`f`), then `keep`, n_words and the rule
    * flags (`r`). */
  private def duckQualityFlags(keep: String): String =
    s"""f AS (
       |  SELECT $keep,
       |    $duckQualityFeatures
       |  FROM documents),
       |r AS (SELECT $keep, n_words,
       |    $duckFlagExprs
       |  FROM f)""".stripMargin

  /** Adds the feature + per-rule flag columns on the Spark side (rule
    * predicates are the exact strings the oracles use). */
  private[graft] def withQualityFlags(df: DataFrame): DataFrame = {
    val staged = df
      .withColumn("n_words", size(words))
      .withColumn("n_distinct", size(array_distinct(words)))
      .withColumn("word_chars", expr("length(replace(text, ' ', ''))"))
      .withColumn("n_stop",
        size(filter(words, _.isin("the", "a", "of"))))
    ruleFlags.foldLeft(staged) { case (d, (n, p)) =>
      d.withColumn(n, when(expr(p), 1).otherwise(0))
    }
  }

  // -------------------------------------------------------- repetition --

  /** Within-document repetition profile (the Gopher-style repetition
    * filter): fraction of duplicate bigrams and the share of the single
    * most frequent bigram. Shape: one explode + two partial-aggregating
    * groupBys keyed by doc — map-side combine bounds the shuffle at
    * |distinct bigrams| rows, linear at any corpus size. */
  val docRepetition: Q = Q.sql(
    "doc_repetition",
    s"""WITH ${duckWords()},
      |g AS (SELECT doc_id,
      |        unnest(${duckGrams(2)})
      |          AS gram
      |      FROM w),
      |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |        count(*) AS n_distinct_bigrams, CAST(max(c) AS BIGINT) AS max_freq
      |      FROM c GROUP BY 1)
      |SELECT doc_id, n_bigrams, n_distinct_bigrams, max_freq,
      |  round(1.0 * (n_bigrams - n_distinct_bigrams) / n_bigrams, 4) AS dup_bigram_ratio,
      |  round(1.0 * max_freq / n_bigrams, 4) AS top_bigram_ratio
      |FROM a ORDER BY doc_id""".stripMargin) { (s, d) =>
    // distinct-text collapse (the quality_nb pattern, and the same move
    // doc_repetition_topn made): the bigram stats are pure text
    // functions — computed once per distinct text, per-doc rows restored
    // by the tkey map join. The stats ride the native one-pass kernel
    // (tot = sum of gram counts, dist = distinct grams, best = max
    // frequency — exactly the explode → groupBy(gram) → groupBy(tkey)
    // chain this replaces, minus its two gram-string exchanges). Docs
    // with fewer than 2 words produce no bigrams and are absent from the
    // former inner join — the tot > 0 filter reproduces that dropout.
    val (keyed, dist) = distinctTexts(docs(s, d))
    val per = dist
      .select(col("tkey"), words.as("ws"))
      .select(col("tkey"), expr("graft_gram_stats(ws, 2)").as("st"))
      .filter(col("st.tot") > 0)
      .select(col("tkey"), col("st.tot").as("n_bigrams"),
        col("st.dist").as("n_distinct_bigrams"), col("st.best").as("max_freq"))
    keyed.join(per, Seq("tkey"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"), col("max_freq"),
        round(lit(1.0) * (col("n_bigrams") - col("n_distinct_bigrams")) / col("n_bigrams"), 4)
          .as("dup_bigram_ratio"),
        round(lit(1.0) * col("max_freq") / col("n_bigrams"), 4).as("top_bigram_ratio"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- quality gates --

  /** C4/Gopher-style rule battery: each document is scored against
    * independent heuristic gates and carries per-rule flags plus the
    * verdict — the standard pre-training corpus filter, kept as flags (not
    * a filter) so downstream stages can ablate individual rules. Pure
    * per-row map: no shuffle at all. Thresholds sit inside this corpus's
    * observed distribution (words 10-99 median 56, TTR 0.28-1.0 median
    * 0.46, avg word len 3.7-5.3) so every rule actually discriminates. */
  val qualityFilter: Q = Q.sql(
    "quality_filter",
    s"""WITH ${duckQualityFlags("doc_id")}
      |SELECT doc_id, n_words, ${ruleFlags.map(_._1).mkString(", ")},
      |  ${ruleFlags.map(_._1).mkString(" + ")} AS n_failed,
      |  CASE WHEN ${ruleFlags.map(_._1).mkString(" + ")} = 0
      |    THEN 1 ELSE 0 END AS passed
      |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
    // distinct-text collapse: the whole rule battery is a pure text
    // function — evaluated once per distinct text, mapped back by tkey
    val (keyed, dist) = distinctTexts(docs(s, d))
    val per = withQualityFlags(dist)
      .withColumn("n_failed", ruleFlags.map(f => col(f._1)).reduce(_ + _))
      .withColumn("passed", when(col("n_failed") === 0, 1).otherwise(0))
      .select(col("tkey") +: col("n_words") +:
        (ruleFlags.map(f => col(f._1)) ++ Seq(col("n_failed"), col("passed"))): _*)
    keyed.join(per, Seq("tkey"))
      .select(col("doc_id") +: col("n_words") +:
        (ruleFlags.map(f => col(f._1)) ++ Seq(col("n_failed"), col("passed"))): _*)
      .orderBy("doc_id")
  }

  /** Per-(source, rule) failure matrix over the quality battery — the
    * provenance view of [[qualityFilter]]: which SOURCE fails which RULE,
    * each cell with its fail rate and the lift against the corpus-wide
    * rate for that rule (lift ≫ 1 = the rule concentrates in that feed —
    * the first table a curation run reads before deciding whether to fix
    * a source-specific extractor or drop the feed; NULL lift = the rule
    * fires nowhere corpus-wide). Thresholds and predicates are the
    * qualityFilter strings verbatim — the matrix can never drift from
    * the gate it explains.
    *
    * Scale: the rule battery is text-pure, so flags compute once per
    * DISTINCT text (the collapse default) and join back through the
    * 128-bit tkey to the pruned (doc_id, source) scan; the aggregate is
    * |sources|-bounded, corpus-wide totals ride an unpartitioned window
    * over it (the chain-depth discipline), and the rule unpivot explodes
    * on the bounded frame — one corpus pass, bounded everything after. */
  val qualitySourceMatrix: Q = {
    val duckRows = ruleFlags.map { case (n, _) =>
      s"""SELECT source, '$n' AS rule, n_docs, $n AS n_failed,
         |    tot_docs, tot_$n AS tot_failed FROM t""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    Q.sql(
      "quality_source_matrix",
      s"""WITH ${duckQualityFlags("source")},
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    ${ruleFlags.map { case (n, _) =>
               s"CAST(sum($n) AS BIGINT) AS $n" }.mkString(",\n    ")}
        |  FROM r GROUP BY source),
        |t AS (SELECT source, n_docs,
        |    ${ruleFlags.map(_._1).mkString(", ")},
        |    sum(n_docs) OVER () AS tot_docs,
        |    ${ruleFlags.map { case (n, _) =>
               s"sum($n) OVER () AS tot_$n" }.mkString(",\n    ")}
        |  FROM g)
        |SELECT source, rule, n_docs, CAST(n_failed AS BIGINT) AS n_failed,
        |  round(1.0 * n_failed / n_docs, 4) AS fail_rate,
        |  round(1.0 * tot_failed / tot_docs, 4) AS corpus_rate,
        |  round((1.0 * n_failed / n_docs)
        |    / nullif(1.0 * tot_failed / tot_docs, 0), 4) AS lift
        |FROM ($duckRows)
        |ORDER BY source, rule""".stripMargin) { (s, d) =>
      val (keyedSrc, dist) = distinctTexts(docs(s, d), Seq("doc_id", "source"))
      val per = withQualityFlags(dist)
        .select(col("tkey") +: ruleFlags.map(f => col(f._1)): _*)
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val g = keyedSrc.join(per, Seq("tkey"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          ruleFlags.map { case (n, _) => sum(col(n)).cast("long").as(n) }: _*)
      val t = ruleFlags.foldLeft(g.withColumn("tot_docs", sum("n_docs").over(w))) {
        case (df, (n, _)) => df.withColumn(s"tot_$n", sum(col(n)).over(w))
      }
      val rows = t.select(col("source"),
        explode(array(ruleFlags.map { case (n, _) =>
          struct(lit(n).as("rule"), col("n_docs"), col(n).as("n_failed"),
            col("tot_docs"), col(s"tot_$n").as("tot_failed"))
        }: _*)).as("c"))
        .select(col("source"), col("c.rule"), col("c.n_docs"),
          col("c.n_failed").cast("long").as("n_failed"),
          round(lit(1.0) * col("c.n_failed") / col("c.n_docs"), 4).as("fail_rate"),
          round(lit(1.0) * col("c.tot_failed") / col("c.tot_docs"), 4)
            .as("corpus_rate"),
          round((lit(1.0) * col("c.n_failed") / col("c.n_docs"))
            / nullif(lit(1.0) * col("c.tot_failed") / col("c.tot_docs"), lit(0.0)), 4)
            .as("lift"))
      rows.orderBy("source", "rule")
    }
  }

  // -------------------------------------------------- decontamination --

  /** Train/eval contamination sweep: flags corpus documents sharing any
    * 4-gram with a (deterministic pseudo-)held-out benchmark set — the
    * dedup-against-test-sets step every pre-training pipeline runs.
    *
    * Scale shape: the benchmark side is tiny by construction (eval sets vs
    * a 100 TB corpus), so its distinct-shingle set is BROADCAST and the
    * probe is a map-side hash join on the shingle — the corpus is scanned
    * once, nothing shuffles on the corpus side. */
  val decontaminate: Q = {
    // Collapsed scale twin (Q.scaleOracle): the SQL mirror of the Spark
    // side's distinct-content collapse below. The naive oracle's
    // corpus-occurrence × bench-occurrence shingle join is replication-
    // quadratic (b·c rows per shingle; twins land on BOTH sides), so at
    // the 1000x gate it exceeds single-box DuckDB. Here the shingle join
    // runs once per distinct CONTENT pair (sf0.1-sized however deep the
    // twin clusters), per-content hit counts ride a semi-join against the
    // bench shingle set, the bench-doc dimension weights content pairs by
    // each bench content's copy multiplicity, and only the (output-sized)
    // per-doc expansion scales — checkable via the bighash compare.
    val scaleOracle =
      s"""WITH ${duckDistinctTexts(Seq(
           "CAST(sum(CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS m_bench"))},
         |${duckWords("tk", "grp")},
         |ex AS MATERIALIZED (
         |  SELECT tk, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM w),
         |bsh AS MATERIALIZED (
         |  SELECT e.tk AS btk, e.shingle FROM ex e
         |  JOIN grp g ON g.tk = e.tk WHERE g.m_bench >= 1),
         |hs AS (SELECT e.tk, CAST(count(*) AS BIGINT) AS n_hit_shingles
         |       FROM ex e WHERE e.shingle IN (SELECT DISTINCT shingle FROM bsh)
         |       GROUP BY e.tk),
         |hitp AS (SELECT DISTINCT e.tk, b.btk FROM ex e JOIN bsh b USING (shingle)),
         |nb AS (SELECT p.tk, CAST(sum(g.m_bench) AS BIGINT) AS n_bench_docs
         |       FROM hitp p JOIN grp g ON g.tk = p.btk GROUP BY p.tk)
         |SELECT d.doc_id, h.n_hit_shingles, n.n_bench_docs
         |FROM documents d
         |JOIN hs h ON md5(d.text) = h.tk
         |JOIN nb n ON md5(d.text) = n.tk
         |WHERE d.doc_id % 29 <> 0
         |ORDER BY d.doc_id""".stripMargin
    Q.sqlDual(
      "decontaminate",
      s"""WITH ${duckWords()},
        |ex AS (SELECT doc_id, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM w),
        |b AS (SELECT doc_id AS bench_id, shingle FROM ex WHERE doc_id % 29 = 0),
        |c AS (SELECT doc_id, shingle FROM ex WHERE doc_id % 29 <> 0)
        |SELECT c.doc_id, count(DISTINCT c.shingle) AS n_hit_shingles,
        |  count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM c JOIN b USING (shingle)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
      scaleOracle) { (s, d) =>
      // Replication-quadratic fix (round-10 100x sweep: 88 s / 22x): the
      // corpus-occurrence × bench-doc shingle join made b·c rows per
      // shingle. Collapse both sides to DISTINCT CONTENT: per-content
      // hit counts are a left-semi against the bench shingle set, and
      // the bench-doc dimension is the distinct content-pair graph
      // weighted by each bench content's doc multiplicity — twin docs
      // share verdicts, expanded by the linear membership join. Note the
      // bench/corpus split is an ID property (doc_id % 29), so a content
      // group can stand on BOTH sides; m_bench counts its bench twins.
      val (keyedAll, dist) = distinctTexts(docs(s, d))
      val meta = keyedAll.groupBy("tkey").agg(
        sum(when(col("doc_id") % 29 === 0, 1).otherwise(0)).cast("long").as("m_bench"))
      val exd = dist
        .select(col("tkey"), words.as("ws"))
        .select(col("tkey"), grams(4, distinct = true).as("shingle"))
      val benchSh = exd
        .join(meta.filter(col("m_bench") >= 1).select("tkey"), Seq("tkey"), "left_semi")
        .select(col("tkey").as("btk"), col("shingle"))
      // shingles are distinct per content, so per-content hit counts are
      // plain counts over the semi-join — no count_distinct state
      val hs = exd.join(benchSh.select("shingle").distinct(), Seq("shingle"), "left_semi")
        .groupBy("tkey").agg(count(lit(1)).as("n_hit_shingles"))
      val nb = exd.join(benchSh, Seq("shingle"))
        .select("tkey", "btk").distinct()
        .join(meta.select(col("tkey").as("btk"), col("m_bench")), Seq("btk"))
        .groupBy("tkey").agg(sum("m_bench").cast("long").as("n_bench_docs"))
      keyedAll.filter(col("doc_id") % 29 =!= 0)
        .join(hs, Seq("tkey")).join(nb, Seq("tkey"))
        .select(col("doc_id"), col("n_hit_shingles"), col("n_bench_docs"))
        .orderBy("doc_id")
    }
  }

  /** Benchmark-leakage provenance: decontaminate says WHICH corpus docs
    * share 4-gram shingles with the benchmark; this rolls the hits up to
    * the acquisition unit you can actually act on — the SOURCE. Per
    * source: total docs, contaminated docs, contamination rate, distinct
    * benchmark docs leaked into it, and total hit shingles. A source with
    * a high rate is re-crawled/blocklisted wholesale; per-doc scrubbing
    * (decontaminate's output) only makes sense for low-rate sources.
    * Sources with zero hits are published as zero rows — absence of
    * evidence is part of the report.
    *
    * Scale: identical posture to decontaminate — the benchmark shingle
    * set broadcasts, the corpus never shuffles for the probe; per-doc
    * distinct-hit counts partial-aggregate on doc_id, the rollup is
    * bounded at |sources| rows, and the totals side is one
    * partial-aggregating groupBy of the raw table. */
  val contaminationSources: Q = {
    // the per-source rollup both oracles end with, over `ps` (per-source
    // contaminated docs and hit shingles) and `pb` (leaked bench docs)
    val tail =
      """t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM documents WHERE doc_id % 29 <> 0 GROUP BY 1)
        |SELECT t.source, t.n_docs,
        |  coalesce(ps.n_contaminated, 0) AS n_contaminated,
        |  round(1.0 * coalesce(ps.n_contaminated, 0) / t.n_docs, 4) AS contam_rate,
        |  coalesce(pb.n_bench_docs, 0) AS n_bench_docs,
        |  coalesce(ps.n_hit_shingles, 0) AS n_hit_shingles
        |FROM t LEFT JOIN ps ON t.source = ps.source
        |       LEFT JOIN pb ON t.source = pb.source
        |ORDER BY t.source""".stripMargin
    Q.sqlDual(
      "contamination_sources",
      s"""WITH ${duckWords("doc_id, source")},
        |ex AS (SELECT doc_id, source, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM w),
        |b AS (SELECT doc_id AS bench_id, shingle FROM ex WHERE doc_id % 29 = 0),
        |h AS (SELECT c.doc_id, c.source, c.shingle, b.bench_id
        |      FROM ex c JOIN b USING (shingle) WHERE c.doc_id % 29 <> 0),
        |pd AS (SELECT doc_id, source, count(DISTINCT shingle) AS hs FROM h GROUP BY 1, 2),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated,
        |         CAST(sum(hs) AS BIGINT) AS n_hit_shingles
        |       FROM pd GROUP BY 1),
        |pb AS (SELECT source, CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
        |       FROM h GROUP BY 1),
        |$tail""".stripMargin,
      // Collapsed scale twin: same content-collapse discipline as the
      // decontaminate twin, with the source dimension carried on the
      // (content, source) multiplicity table rather than the explode — the
      // shingle work and the content-pair graph stay sf0.1-sized at any
      // replication depth. Output is |sources|-bounded, so the final
      // rollup is trivially checkable.
      s"""WITH ${duckDistinctTexts(Seq(
          "CAST(sum(CASE WHEN doc_id % 29 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS mb",
          "CAST(sum(CASE WHEN doc_id % 29 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS mc"),
          name = "gts", keys = Seq("source"))},
        |${duckDistinctTexts(name = "gt")},
        |${duckWords("tk", "gt")},
        |ex AS MATERIALIZED (
        |  SELECT tk, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM w),
        |bb AS (SELECT tk, source, mb FROM gts WHERE mb >= 1),
        |bsh AS MATERIALIZED (
        |  SELECT e.tk AS btk, e.shingle FROM ex e
        |  WHERE e.tk IN (SELECT DISTINCT tk FROM bb)),
        |hs AS (SELECT e.tk, CAST(count(*) AS BIGINT) AS hs FROM ex e
        |       WHERE e.shingle IN (SELECT DISTINCT shingle FROM bsh) GROUP BY 1),
        |ps AS (SELECT g.source, CAST(sum(g.mc) AS BIGINT) AS n_contaminated,
        |         CAST(sum(g.mc * h.hs) AS BIGINT) AS n_hit_shingles
        |       FROM gts g JOIN hs h USING (tk) WHERE g.mc > 0 GROUP BY 1),
        |cs AS (SELECT DISTINCT g.source, e.shingle
        |       FROM gts g JOIN ex e ON e.tk = g.tk WHERE g.mc > 0),
        |hitb AS (SELECT DISTINCT c.source, b.btk FROM cs c JOIN bsh b USING (shingle)),
        |pb AS (SELECT h.source, CAST(sum(bb2.mbs) AS BIGINT) AS n_bench_docs
        |       FROM hitb h
        |       JOIN (SELECT tk, CAST(sum(mb) AS BIGINT) AS mbs FROM bb GROUP BY 1) bb2
        |         ON bb2.tk = h.btk
        |       GROUP BY 1),
        |$tail""".stripMargin) { (s, d) =>
      // The quadratic trap here (found by the round-10 100x bench leg) is
      // pairing corpus shingle occurrences with bench DOCS: a shingle in b
      // bench docs and c corpus docs makes b·c join rows — replication-
      // quadratic, and a replicated crawl puts twins on BOTH sides. The
      // per-doc counts only need membership in the distinct bench-shingle
      // SET (content-bounded), and the bench-doc dimension only needs
      // (shingle, source) pairs — |sources|-bounded per shingle — so
      // neither side ever enumerates doc×doc pairs. (The former
      // broadcast(bench) also pinned an sf-scaling frame to the driver;
      // the distinct set joins un-hinted, AQE decides.)
      val ex = docs(s, d)
        .select(col("doc_id"), col("source"), words.as("ws"))
        .select(col("doc_id"), col("source"),
          grams(4, distinct = true).as("shingle"))
      val bench = ex.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("bench_id"), col("shingle"))
      val corpus = ex.filter(col("doc_id") % 29 =!= 0)
      val ps = corpus
        .join(bench.select("shingle").distinct(), Seq("shingle"), "left_semi")
        // shingles are already distinct per doc (array_distinct above), so
        // the per-doc hit count is a plain count — no count_distinct state
        .groupBy("doc_id", "source").agg(count(lit(1)).as("hs"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_contaminated"),
          sum("hs").cast("long").as("n_hit_shingles"))
      val pb = bench
        .join(corpus.select("source", "shingle").distinct(), Seq("shingle"))
        .groupBy("source")
        .agg(count_distinct(col("bench_id")).cast("long").as("n_bench_docs"))
      val t = docs(s, d).filter(col("doc_id") % 29 =!= 0)
        .groupBy("source").agg(count(lit(1)).cast("long").as("n_docs"))
      t.join(ps, Seq("source"), "left").join(pb, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          round(lit(1.0) * coalesce(col("n_contaminated"), lit(0L)) / col("n_docs"), 4)
            .as("contam_rate"),
          coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
          coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"))
        .orderBy("source")
    }
  }

  /** Bloom hash family for [[decontaminateBloom]] — k = 3 affine hashes
    * over the md5-derived shingle hash, universal-hashing style:
    * h_j(s) = ((a_j·H(s) + b_j) mod P) mod m. The primes keep a_j·H
    * < 2^57 (no BIGINT overflow) and P > 2^32 (the H universe). */
  private val BloomP = 4294967311L
  private val bloomAB = Seq((1299709L, 17L), (15485863L, 8191L), (32452843L, 524287L))

  /** Bloom-prefiltered decontamination with EXACT false-positive
    * accounting — the 100 TB deployment question for [[decontaminate]]:
    * at some corpus size even the benchmark's distinct-shingle set is too
    * big to ship to every executor, but an m-bit filter isn't. This op
    * prices that trade BEFORE deployment by running the modeled filter
    * (m = 8·n bits, k = 3 — sized from the measured benchmark, not
    * hard-coded, so the model stays calibrated at every SF) against
    * ground truth on the same probe stream: per contaminated-or-flagged
    * doc, how many distinct shingles probed, how many the bloom admits,
    * how many are REAL benchmark hits, and the false-positive residue a
    * downstream exact re-check would have to absorb.
    *
    * Scale shape: the three position sets are ≤ min(n, m) rows each and
    * BROADCAST (they are the bloom — bounded by the benchmark, not the
    * corpus); the corpus probe stream is scanned once, never shuffled
    * for the membership tests (three broadcast left joins on the hash
    * positions + one on the exact set), and partial-aggregates on
    * doc_id. A bloom hit with no true hit is exactly the row class the
    * filter would needlessly route to the expensive exact path.
    *
    * Determinism: everything is integer arithmetic on md5 nibbles — no
    * floats anywhere until the published fp_share, divided once and
    * rounded once. No false negatives BY CONSTRUCTION (the position sets
    * derive from the same benchmark), which the spec pins. */
  val decontaminateBloom: Q = {
    def posCte(j: Int, ab: (Long, Long)) =
      s"p$j AS (SELECT DISTINCT ((${ab._1} * h + ${ab._2}) % $BloomP) % m AS p FROM bh CROSS JOIN mm)"
    def probeKey(j: Int, ab: (Long, Long)) =
      s"((${ab._1} * c.h + ${ab._2}) % $BloomP) % mm.m"
    Q.sql(
      "decontaminate_bloom",
      s"""WITH ${duckWords()},
        |ex AS (SELECT doc_id, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM w),
        |bs AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 29 = 0),
        |bh AS (SELECT shingle, ${TextOps.duckWordHash("shingle")} AS h FROM bs),
        |mm AS (SELECT 8 * count(*) AS m FROM bs),
        |${bloomAB.zipWithIndex.map { case (ab, i) => posCte(i + 1, ab) }.mkString(",\n")},
        |c AS (SELECT doc_id, shingle, ${TextOps.duckWordHash("shingle")} AS h
        |      FROM ex WHERE doc_id % 29 <> 0),
        |fl AS (SELECT c.doc_id,
        |        CASE WHEN p1.p IS NOT NULL AND p2.p IS NOT NULL
        |              AND p3.p IS NOT NULL THEN 1 ELSE 0 END AS bloom_hit,
        |        CASE WHEN bs2.shingle IS NOT NULL THEN 1 ELSE 0 END AS true_hit
        |      FROM c CROSS JOIN mm
        |        LEFT JOIN p1 ON ${probeKey(1, bloomAB(0))} = p1.p
        |        LEFT JOIN p2 ON ${probeKey(2, bloomAB(1))} = p2.p
        |        LEFT JOIN p3 ON ${probeKey(3, bloomAB(2))} = p3.p
        |        LEFT JOIN bs bs2 ON c.shingle = bs2.shingle)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
        |  CAST(sum(true_hit) AS BIGINT) AS n_true_hits,
        |  CAST(sum(bloom_hit) - sum(true_hit) AS BIGINT) AS n_false_pos,
        |  round(1.0 * (sum(bloom_hit) - sum(true_hit)) / count(*), 4)
        |    AS fp_share
        |FROM fl GROUP BY 1 HAVING sum(bloom_hit) > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ex = docs(s, d)
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), grams(4, distinct = true).as("shingle"))
      val bs = ex.filter(col("doc_id") % 29 === 0).select("shingle").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bh = bs.select(col("shingle"),
        expr(TextOps.sparkWordHash("shingle")).as("h"))
      val mm = bs.agg((count(lit(1)) * 8).as("m"))
      val pos = bloomAB.zipWithIndex.map { case ((a, b), i) =>
        bh.crossJoin(broadcast(mm))
          .select((((lit(a) * col("h") + lit(b)) % BloomP) % col("m")).as(s"p${i + 1}"))
          .distinct()
      }
      val probe = ex.filter(col("doc_id") % 29 =!= 0)
        .select(col("doc_id"), col("shingle"),
          expr(TextOps.sparkWordHash("shingle")).as("h"))
        .crossJoin(broadcast(mm))
      val keyed = bloomAB.zipWithIndex.foldLeft(probe) { case (df, ((a, b), i)) =>
        df.join(broadcast(pos(i)),
          (((lit(a) * col("h") + lit(b)) % BloomP) % col("m")) === col(s"p${i + 1}"),
          "left")
      }
      keyed
        .join(broadcast(bs.select(col("shingle").as("b_shingle"))),
          col("shingle") === col("b_shingle"), "left")
        .select(col("doc_id"),
          when(col("p1").isNotNull && col("p2").isNotNull && col("p3").isNotNull, 1)
            .otherwise(0).as("bloom_hit"),
          when(col("b_shingle").isNotNull, 1).otherwise(0).as("true_hit"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum("bloom_hit").cast("long").as("n_bloom_hits"),
          sum("true_hit").cast("long").as("n_true_hits"),
          (sum("bloom_hit") - sum("true_hit")).cast("long").as("n_false_pos"),
          round(lit(1.0) * (sum("bloom_hit") - sum("true_hit")) / count(lit(1)), 4)
            .as("fp_share"))
        .filter(col("n_bloom_hits") > 0)
        .orderBy("doc_id")
    }
  }

  /** PSI log-ratio per cell — integer rational inside one log2, rounded
    * once ([[dsirLamFormula]] discipline); `nbins` is the Laplace mass. */
  private val psiLgFormula =
    "round(log2(((c_s + 1e0) * (n_r + nbins)) / ((c_r + 1e0) * (n_s + nbins))), 6)"

  /** Population Stability Index between each SOURCE and the rest of the
    * corpus, per quantized quality feature — the drift gate a recurring
    * release runs before mixing a re-crawled source back in (PSI < 0.1
    * stable, < 0.25 moderate, else shifted — the standard scorecard
    * bands). Features are the integer quantizations [[qualityNb]] uses
    * as side-features (length decades capped at 12, mean-word-length
    * half-chars), so "this source drifted" points at the same axes the
    * quality rules threshold on.
    *
    * Scale shape: ONE corpus scan partial-aggregates to (feature,
    * source, bin) counts; every downstream frame is bounded by
    * |sources| × |bins| regardless of corpus size, so the whole PSI
    * computation after the first groupBy is effectively free and every
    * join side is broadcast.
    *
    * Determinism: the log-ratio is an integer rational quarantined
    * behind one round(…, 6); the share difference is two single IEEE
    * divisions of exact integers (correctly rounded, engine-identical);
    * each cell term is rounded once to 12 and DECIMAL-summed, and the
    * verdict bands compare the ROUNDED psi so the label can never
    * straddle an ulp. */
  /** Marginal-novelty curve over crawl order — the "is this crawl still
    * paying for itself" readout: docs bucketed into 20 equal-width
    * doc_id ranges (ingest order proxy), per bucket the share of docs
    * whose TEXT is globally first-seen there (novelty_rate) and the
    * cumulative distinct-content share. A flattening curve is the
    * data-driven stop/dedup-harder signal a crawl budget decision needs;
    * on a replicated corpus the curve collapses onto the first buckets —
    * exactly the diagnosis. Buckets are fixed-width off one broadcast
    * max (no global sort, no ntile window), so the shape survives any
    * id distribution.
    *
    * Scale shape: one distinct-text collapse (first-occurrence id = min
    * over the group — the exchange dedup_exact already pays), one raw
    * partial-agg groupBy on the computed bucket, a ≤ 20-row spine join
    * and a ≤ 20-row cumulative window. Nothing corpus-sized shuffles
    * beyond the collapse. */
  val corpusNoveltyCurve: Q = Q.sql(
    "corpus_novelty_curve",
    """WITH mx AS (SELECT max(doc_id) + 1 AS hi FROM documents),
      |b AS (SELECT CAST(doc_id * 20 // mx.hi AS BIGINT) AS bucket
      |      FROM documents, mx),
      |bc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM b GROUP BY 1),
      |fo AS (SELECT min(doc_id) AS first_id FROM documents GROUP BY text),
      |fb AS (SELECT CAST(first_id * 20 // mx.hi AS BIGINT) AS bucket,
      |         CAST(count(*) AS BIGINT) AS n_new
      |       FROM fo, mx GROUP BY 1),
      |sp AS (SELECT CAST(unnest(range(0, 20)) AS BIGINT) AS bucket),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct FROM fo),
      |u AS (SELECT sp.bucket, coalesce(bc.n_docs, 0) AS n_docs,
      |        coalesce(fb.n_new, 0) AS n_new
      |      FROM sp LEFT JOIN bc USING (bucket) LEFT JOIN fb USING (bucket))
      |SELECT u.bucket, u.n_docs, u.n_new AS n_new_texts,
      |  round(1.0 * u.n_new / nullif(u.n_docs, 0), 4) AS novelty_rate,
      |  round(1.0 * sum(u.n_new) OVER (ORDER BY u.bucket) / t.n_distinct, 4)
      |    AS cum_distinct_share
      |FROM u CROSS JOIN t ORDER BY u.bucket""".stripMargin) { (s, d) =>
    val (keyed, dist0) = distinctTexts(docs(s, d))
    val mx = docs(s, d).agg((max("doc_id") + 1).as("hi"))
    val bc = docs(s, d).crossJoin(broadcast(mx))
      .select(expr("CAST(doc_id * 20 div hi AS BIGINT)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_docs"))
    // first-occurrence id per distinct text off the collapse's keyed map
    val fo = keyed.groupBy("tkey").agg(min("doc_id").as("first_id"))
    val fb = fo.crossJoin(broadcast(mx))
      .select(expr("CAST(first_id * 20 div hi AS BIGINT)").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_new"))
    val t = dist0.agg(count(lit(1)).cast("long").as("n_distinct"))
    val sp = s.range(0, 20).select(col("id").as("bucket"))
    val w = Window.orderBy("bucket") // ≤ 20 rows — single partition is fine
    sp.join(bc, Seq("bucket"), "left").join(fb, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .crossJoin(broadcast(t))
      .select(col("bucket"), col("n_docs"), col("n_new").as("n_new_texts"),
        round(lit(1.0) * col("n_new") / nullif(col("n_docs"), lit(0L)), 4)
          .as("novelty_rate"),
        round(lit(1.0) * sum("n_new").over(w) / col("n_distinct"), 4)
          .as("cum_distinct_share"))
      .orderBy("bucket")
  }

  val corpusPsi: Q = Q.sql(
    "corpus_psi",
    s"""WITH f AS (SELECT doc_id, source,
      |    len(${duckWordList()}) AS n_words,
      |    length(replace(text, ' ', '')) AS word_chars
      |  FROM documents),
      |b AS (SELECT source, 'n_words' AS feature,
      |        least(n_words // 10, 12) AS bin FROM f
      |      UNION ALL SELECT source, 'word_len',
      |        (2 * word_chars) // n_words FROM f),
      |cs AS (SELECT feature, source, bin, CAST(count(*) AS BIGINT) AS c
      |       FROM b GROUP BY 1, 2, 3),
      |gc AS (SELECT feature, bin, CAST(sum(c) AS BIGINT) AS cg
      |       FROM cs GROUP BY 1, 2),
      |nb AS (SELECT feature, CAST(count(*) AS BIGINT) AS nbins
      |       FROM gc GROUP BY 1),
      |ns AS (SELECT feature, source, CAST(sum(c) AS BIGINT) AS n_s
      |       FROM cs GROUP BY 1, 2),
      |na AS (SELECT feature, CAST(sum(c) AS BIGINT) AS n_all
      |       FROM cs GROUP BY 1),
      |grid AS (SELECT gc.feature, gc.bin, gc.cg, ns.source, ns.n_s,
      |           na.n_all - ns.n_s AS n_r, nb.nbins
      |         FROM gc JOIN ns ON gc.feature = ns.feature
      |           JOIN na ON gc.feature = na.feature
      |           JOIN nb ON gc.feature = nb.feature),
      |cells AS (SELECT feature, source, n_s, n_r, nbins,
      |            coalesce(cs.c, 0) AS c_s, cg - coalesce(cs.c, 0) AS c_r
      |          FROM grid LEFT JOIN cs USING (feature, source, bin)),
      |terms AS (SELECT feature, source, n_s, nbins,
      |            CAST(round(((c_s + 1e0) / (n_s + nbins)
      |                   - (c_r + 1e0) / (n_r + nbins))
      |                 * $psiLgFormula, 12) AS DECIMAL(28, 12)) AS term
      |          FROM cells),
      |agg AS (SELECT feature, source, n_s AS n_docs, nbins AS n_bins,
      |          round(CAST(sum(term) AS DOUBLE), 6) AS psi
      |        FROM terms GROUP BY 1, 2, 3, 4)
      |SELECT source, feature, n_docs, n_bins, psi,
      |  CASE WHEN psi < 0.1 THEN 'stable'
      |       WHEN psi < 0.25 THEN 'moderate' ELSE 'shifted' END AS verdict
      |FROM agg ORDER BY source, feature""".stripMargin) { (s, d) =>
    val f = docs(s, d).select(col("source"),
      size(words).as("n_words"),
      expr("length(replace(text, ' ', ''))").as("word_chars"))
    val b = f.select(col("source"), lit("n_words").as("feature"),
        expr("least(n_words div 10, 12)").cast("long").as("bin"))
      .unionByName(f.select(col("source"), lit("word_len").as("feature"),
        expr("(2 * word_chars) div n_words").cast("long").as("bin")))
    val cs = b.groupBy("feature", "source", "bin")
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gc = cs.groupBy("feature", "bin").agg(sum("c").cast("long").as("cg"))
    val nb = gc.groupBy("feature").agg(count(lit(1)).cast("long").as("nbins"))
    val ns = cs.groupBy("feature", "source").agg(sum("c").cast("long").as("n_s"))
    val na = cs.groupBy("feature").agg(sum("c").cast("long").as("n_all"))
    val grid = gc.join(broadcast(ns), Seq("feature"))
      .join(broadcast(na), Seq("feature"))
      .join(broadcast(nb), Seq("feature"))
      .select(col("feature"), col("bin"), col("cg"), col("source"),
        col("n_s"), (col("n_all") - col("n_s")).as("n_r"), col("nbins"))
    val cells = grid.join(broadcast(cs), Seq("feature", "source", "bin"), "left")
      .select(col("feature"), col("source"), col("n_s"), col("n_r"), col("nbins"),
        coalesce(col("c"), lit(0L)).as("c_s"),
        (col("cg") - coalesce(col("c"), lit(0L))).as("c_r"))
    cells
      .select(col("feature"), col("source"), col("n_s"), col("nbins"),
        round(((col("c_s") + lit(1e0)) / (col("n_s") + col("nbins"))
          - (col("c_r") + lit(1e0)) / (col("n_r") + col("nbins")))
          * expr(psiLgFormula), 12).cast("decimal(28,12)").as("term"))
      .groupBy("feature", "source", "n_s", "nbins")
      .agg(round(sum("term").cast("double"), 6).as("psi"))
      .select(col("source"), col("feature"), col("n_s").as("n_docs"),
        col("nbins").as("n_bins"), col("psi"),
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "moderate")
          .otherwise("shifted").as("verdict"))
      .orderBy("source", "feature")
  }

  /** Generative outlier detector over the quantized quality-feature
    * grid — the complement of [[qualityNb]] (discriminative: "does this
    * look like text the rules fail?") and [[corpusPsi]] (population
    * drift): per document, the SURPRISE of its joint feature cell,
    * rarity = −log2(cell share). A document alone in its (length, TTR,
    * word-length, stopword) cell is unlike anything else in the corpus —
    * the slice a curation run eyeballs for parser breakage, format
    * anomalies, and adversarial content that per-rule thresholds miss
    * because every individual feature is in range. Published: every doc
    * with rarity ≥ 8 bits (cell share ≤ 1/256 — share-based, so the
    * threshold means the same thing at every corpus size).
    *
    * Scale shape: one scan quantizes features (pure integer map), one
    * partial-aggregating groupBy to the bounded cell grid, and the
    * probe joins the ≤|cells| grid back BROADCAST — the corpus never
    * shuffles. The one log2 is an integer rational rounded once; the
    * ≥9-bit filter compares the rounded value. */
  val docRarity: Q = {
    val duckBuckets =
      """least(n_words // 10, 12) AS b_len,
        |    (10 * n_distinct) // n_words AS b_ttr,
        |    (2 * word_chars) // n_words AS b_wlen,
        |    least(n_stop, 3) AS b_stop""".stripMargin
    Q.sql(
      "doc_rarity",
      s"""WITH f AS (SELECT doc_id, $duckQualityFeatures FROM documents),
        |b AS (SELECT doc_id, $duckBuckets FROM f),
        |cells AS (SELECT b_len, b_ttr, b_wlen, b_stop,
        |    CAST(count(*) AS BIGINT) AS cell_n
        |  FROM b GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |r AS (SELECT b.doc_id, b.b_len, b.b_ttr, b.b_wlen, b.b_stop,
        |    cells.cell_n,
        |    round(-log2((1e0 * cells.cell_n) / tot.n), 6) AS rarity_bits
        |  FROM b JOIN cells USING (b_len, b_ttr, b_wlen, b_stop)
        |    CROSS JOIN tot)
        |SELECT doc_id,
        |  CAST(b_len AS BIGINT) AS b_len, CAST(b_ttr AS BIGINT) AS b_ttr,
        |  CAST(b_wlen AS BIGINT) AS b_wlen, CAST(b_stop AS BIGINT) AS b_stop,
        |  cell_n, rarity_bits
        |FROM r WHERE rarity_bits >= 8e0 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val b = withQualityFlags(docs(s, d))
        .select(col("doc_id"),
          expr("least(n_words div 10, 12)").cast("long").as("b_len"),
          expr("(10 * n_distinct) div n_words").cast("long").as("b_ttr"),
          expr("(2 * word_chars) div n_words").cast("long").as("b_wlen"),
          expr("least(n_stop, 3)").cast("long").as("b_stop"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cells = b.groupBy("b_len", "b_ttr", "b_wlen", "b_stop")
        .agg(count(lit(1)).as("cell_n"))
      val tot = b.agg(count(lit(1)).as("n"))
      b.join(broadcast(cells), Seq("b_len", "b_ttr", "b_wlen", "b_stop"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("b_len"), col("b_ttr"), col("b_wlen"),
          col("b_stop"), col("cell_n"),
          round(-log2((lit(1e0) * col("cell_n")) / col("n")), 6)
            .as("rarity_bits"))
        .filter(col("rarity_bits") >= 8e0)
        .orderBy("doc_id")
    }
  }

  // ------------------------------------------------------- data mixing --

  /** Deterministic stratified sample toward a target mix: each
    * (lang, source) stratum contributes ceil(sqrt(n)) documents — the
    * sqrt-scaling downweights dominant sources and upweights tail ones
    * (a standard data-mixing heuristic). Selection is by content-hash
    * order (TextOps.samplePerSource's RNG-free reservoir), so re-runs and
    * re-partitionings sample identically. One window partitioning serves
    * both the stratum size and the rank — a single shuffle. */
  val corpusMix: Q = Q.sql(
    "corpus_mix",
    """WITH r AS (
      |  SELECT lang, source, doc_id,
      |    row_number() OVER (PARTITION BY lang, source ORDER BY md5(text), doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang, source) AS n_docs
      |  FROM documents)
      |SELECT lang, source, doc_id, rk, n_docs,
      |  CAST(ceil(sqrt(n_docs)) AS BIGINT) AS n_take
      |FROM r WHERE rk <= ceil(sqrt(n_docs))
      |ORDER BY lang, source, rk""".stripMargin) { (s, d) =>
    val byStratum = Window.partitionBy("lang", "source")
    val w = byStratum.orderBy(md5(col("text")), col("doc_id"))
    docs(s, d)
      .select(col("lang"), col("source"), col("doc_id"),
        row_number().over(w).as("rk"),
        count(lit(1)).over(byStratum).as("n_docs"))
      .withColumn("n_take", ceil(sqrt(col("n_docs"))).cast("long"))
      .filter(col("rk") <= col("n_take"))
      .orderBy("lang", "source", "rk")
  }

  /** Per-language docs, tokens and temperature weight `wgt` = √tokens
    * (T = 2), rounded once to DECIMAL(18,4): (lang, n_docs, tokens, wgt).
    * One partial-aggregating groupBy on lang. */
  private def langWeights(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("lang"), size(words).as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
      .withColumn("wgt",
        round(sqrt(lit(1.0) * col("tokens")), 4).cast("decimal(18,4)"))

  /** DuckDB twin of [[langWeights]]: the CTE `w`, with the totals `t`
    * (sum_wgt, sum_tokens). */
  private val duckLangWeights: String =
    s"""s AS (SELECT lang, count(*) AS n_docs,
       |        sum(len(${duckWordList()})) AS tokens
       |      FROM documents GROUP BY 1),
       |w AS (SELECT lang, n_docs, tokens,
       |        CAST(round(sqrt(1.0 * tokens), 4) AS DECIMAL(18, 4)) AS wgt
       |      FROM s),
       |t AS (SELECT sum(wgt) AS sum_wgt, sum(tokens) AS sum_tokens FROM w)""".stripMargin

  /** Temperature-scaled mixing weights per language — the multilingual
    * sampling standard: raw share pᵢ = tokensᵢ/Σtokens is flattened to
    * wᵢ ∝ tokensᵢ^(1/T) with T = 2 (i.e. √tokens), so low-resource
    * languages are upsampled without letting any language dominate.
    * `boost` = temp_share / nat_share is the per-language up/downsampling
    * factor a corpus loader applies. corpus_mix caps ABSOLUTE per-stratum
    * counts (√n docs); this computes the RELATIVE rates between strata —
    * the two knobs a mixing stage exposes.
    *
    * Scale shape: one partial-aggregating groupBy on lang (the full
    * corpus reduces map-side to |langs| rows), a 1-row total broadcast —
    * nothing else. Determinism: √tokens is rounded once to 4 decimals and
    * the denominator summed as DECIMAL (exact, order-independent); shares
    * divide ROUNDED values, so a shuffle cannot move a weight. */
  val corpusTemperature: Q = Q.sql(
    "corpus_temperature",
    s"""WITH $duckLangWeights
      |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(tokens AS BIGINT) AS tokens,
      |  round(1.0 * tokens / sum_tokens, 6) AS nat_share,
      |  round(CAST(wgt AS DOUBLE) / CAST(sum_wgt AS DOUBLE), 6) AS temp_share,
      |  round(round(CAST(wgt AS DOUBLE) / CAST(sum_wgt AS DOUBLE), 6)
      |        / round(1.0 * tokens / sum_tokens, 6), 4) AS boost
      |FROM w CROSS JOIN t ORDER BY lang""".stripMargin) { (s, d) =>
    val perLang = langWeights(s, d)
    // totals come from the per-lang AGGREGATE via an unpartitioned window
    // (≤ |langs| rows — bounded, never feed-sized), so the corpus is
    // scanned exactly once; a separate totals branch would re-scan and
    // re-aggregate the full corpus at 100 TB
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tempShare = round(col("wgt").cast("double") / col("sum_wgt").cast("double"), 6)
    val natShare = round(lit(1.0) * col("tokens") / col("sum_tokens"), 6)
    perLang
      .withColumn("sum_wgt", sum("wgt").over(w))
      .withColumn("sum_tokens", sum("tokens").over(w))
      .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
        col("tokens").cast("long").as("tokens"),
        natShare.as("nat_share"), tempShare.as("temp_share"),
        round(tempShare / natShare, 4).as("boost"))
      .orderBy("lang")
  }

  // -------------------------------------------------- token statistics --

  /** Token-count distribution per source (the data-mixing dashboard):
    * exact interpolated quantiles + totals. Partial-aggregating groupBy
    * on a low-cardinality key; quantiles are exact here because the
    * per-source value lists are the decision input for mixing weights —
    * the sketch path for arbitrary-cardinality keys is
    * audit_value_quantiles/audit_approx_entities. */
  val tokenHistogram: Q = Q.sql(
    "token_histogram",
    s"""WITH t AS (SELECT source, len(${duckWordList()}) AS n_tok FROM documents)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  round(avg(n_tok), 4) AS mean_tokens,
      |  round(quantile_cont(n_tok, 0.25), 4) AS p25,
      |  round(quantile_cont(n_tok, 0.50), 4) AS p50,
      |  round(quantile_cont(n_tok, 0.75), 4) AS p75,
      |  round(quantile_cont(n_tok, 0.90), 4) AS p90
      |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("source"), size(words).as("n_tok"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        round(avg("n_tok"), 4).as("mean_tokens"),
        round(expr("percentile(n_tok, 0.25)"), 4).as("p25"),
        round(expr("percentile(n_tok, 0.50)"), 4).as("p50"),
        round(expr("percentile(n_tok, 0.75)"), 4).as("p75"),
        round(expr("percentile(n_tok, 0.90)"), 4).as("p90"))
      .orderBy("source")
  }

  // ---------------------------------------------------- sequence packing --

  /** The per-source token tape: (doc_id, source, n_tok, start_off), each
    * doc's word count and its start offset on its source's tape in doc_id
    * order — one running-sum window per source partition. */
  private def tokenTape(s: SparkSession, d: String): DataFrame = {
    val tape = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("doc_id"), col("source"),
        size(words).as("n_tok"))
      .withColumn("start_off",
        (sum("n_tok").over(tape) - col("n_tok")).cast("long"))
  }

  /** DuckDB twin of [[tokenTape]]: the CTE `c`. */
  private val duckTokenTape: String =
    s"""t AS (SELECT doc_id, source, len(${duckWordList()}) AS n_tok
       |           FROM documents),
       |c AS (SELECT doc_id, source, n_tok,
       |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
       |          AS BIGINT) AS start_off
       |      FROM t)""".stripMargin

  /** Concatenate-and-chunk sequence packing: documents stream per source in
    * doc_id order into a contiguous token tape, cut into fixed 512-token
    * training sequences — the step that turns a curated corpus into model
    * inputs. Each doc gets its byte-exact placement: start offset on the
    * tape, first/last chunk touched, and whether it straddles a boundary
    * (the tax the packing efficiency report cares about).
    *
    * Scale shape: one running-sum window per source partition — the same
    * single-shuffle shape as every audit reconstruction; no driver state,
    * no sequential loop. Deterministic by construction (doc_id order), so
    * re-runs and re-partitionings produce the identical tape — which is
    * what makes checkpoint-resumable training data possible. */
  val packSequences: Q = Q.sql(
    "pack_sequences",
    s"""WITH $duckTokenTape
      |SELECT doc_id, source, n_tok, start_off,
      |  start_off // 512 AS chunk_first,
      |  (start_off + n_tok - 1) // 512 AS chunk_last,
      |  CAST(start_off // 512 <> (start_off + n_tok - 1) // 512 AS INT)
      |    AS straddles
      |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
    tokenTape(s, d)
      .select(col("doc_id"), col("source"), col("n_tok"), col("start_off"),
        expr("start_off div 512").as("chunk_first"),
        expr("(start_off + n_tok - 1) div 512").as("chunk_last"),
        expr("CAST(start_off div 512 <> (start_off + n_tok - 1) div 512 AS INT)")
          .as("straddles"))
      .orderBy("source", "doc_id")
  }

  /** Packing-efficiency report over the [[packSequences]] tape — the
    * numbers that decide the chunk length and whether to pack with
    * document resets: per source, chunk count and tail padding (the only
    * padding concat-and-chunk produces), fill rate, docs straddling a
    * chunk boundary, and total boundary crossings (each crossing is a
    * training sequence whose attention window spans two documents — the
    * contamination a reset-mask would cut; crossings, not straddlers, is
    * the right numerator since one long doc can cross many boundaries).
    *
    * Scale shape: the per-source tape window and the per-source aggregate
    * share ONE hash distribution — the window's Exchange satisfies the
    * aggregate's requirement, so adding this report to the packing pass
    * costs zero extra shuffles (PlanShapeSpec-pinned); output is
    * |sources| rows. All counts are exact integers; the two rates are
    * single-rounded quotients. */
  val packEfficiency: Q = Q.sql(
    "pack_efficiency",
    s"""WITH $duckTokenTape,
      |p AS (SELECT source, n_tok, start_off // 512 AS cf,
      |        (start_off + n_tok - 1) // 512 AS cl
      |      FROM c)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  CAST((sum(n_tok) + 511) // 512 AS BIGINT) AS n_chunks,
      |  CAST(((sum(n_tok) + 511) // 512) * 512 - sum(n_tok) AS BIGINT)
      |    AS tail_pad,
      |  round(1.0 * sum(n_tok) / (((sum(n_tok) + 511) // 512) * 512), 4)
      |    AS fill_rate,
      |  CAST(sum(CASE WHEN cf <> cl THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_straddlers,
      |  round(1.0 * sum(CASE WHEN cf <> cl THEN 1 ELSE 0 END) / count(*), 4)
      |    AS straddle_share,
      |  CAST(sum(cl - cf) AS BIGINT) AS n_crossings,
      |  round(1.0 * sum(cl - cf) / count(*), 4) AS crossings_per_doc
      |FROM p GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    tokenTape(s, d)
      .withColumn("cf", expr("start_off div 512"))
      .withColumn("cl", expr("(start_off + n_tok - 1) div 512"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("total_tokens"),
        sum(when(col("cf") =!= col("cl"), 1).otherwise(0)).cast("long")
          .as("n_straddlers"),
        sum(col("cl") - col("cf")).cast("long").as("n_crossings"))
      .withColumn("n_chunks", expr("(total_tokens + 511) div 512"))
      .select(col("source"), col("n_docs"), col("total_tokens"), col("n_chunks"),
        (col("n_chunks") * 512 - col("total_tokens")).as("tail_pad"),
        round(lit(1.0) * col("total_tokens") / (col("n_chunks") * 512), 4)
          .as("fill_rate"),
        col("n_straddlers"),
        round(lit(1.0) * col("n_straddlers") / col("n_docs"), 4)
          .as("straddle_share"),
        col("n_crossings"),
        round(lit(1.0) * col("n_crossings") / col("n_docs"), 4)
          .as("crossings_per_doc"))
      .orderBy("source")
  }

  // ---------------------------------------------------- curation funnel --

  /** The curation funnel report: how many documents survive each pipeline
    * stage, per stratum — the summary every corpus release publishes.
    * Stages cascade (each applies to the previous stage's survivors):
    * total → quality gates → exact-dedup keep (min doc id of the md5
    * group survives) → decontamination (no 4-gram shared with the
    * held-out benchmark). Benchmark docs themselves are out of scope row
    * zero. Shape: the stage flags are per-row maps or broadcast/window
    * lookups the earlier operators already proved; the funnel is one
    * partial-aggregating groupBy over them. */
  /** Oracle CTE chain of the release-pipeline stage flags — shared
    * VERBATIM by corpus_funnel (the report) and corpus_export (the
    * materializer), so the two cannot drift: in-scope docs `f` with
    * quality features + exact-dup fingerprint, per-doc flags `q`
    * (ok_quality, ok_unique), benchmark shingles `b`, contaminated ids
    * `hit`. */
  private val funnelCtesSql: String =
    s"""${duckWords(s"doc_id, lang, source,\n    $duckQualityFeatures,\n    md5(text) AS fp",
        "documents WHERE doc_id % 29 <> 0", name = "f")},
      |q AS (SELECT *,
      |    CASE WHEN $passAllSql THEN 1 ELSE 0 END AS ok_quality,
      |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END
      |      AS ok_unique
      |  FROM f),
      |ex AS (SELECT doc_id, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM f),
      |${duckWords("doc_id", "documents WHERE doc_id % 29 = 0", name = "bw")},
      |b AS (SELECT DISTINCT shingle FROM (
      |        SELECT doc_id, unnest(list_distinct(${duckGrams(4)})) AS shingle FROM bw)),
      |hit AS (SELECT DISTINCT ex.doc_id FROM ex JOIN b USING (shingle))""".stripMargin

  /** Spark twin of [[funnelCtesSql]]: in-scope corpus with quality flags,
    * ok_quality / ok_unique stage flags, and a left-joined `hit_id`
    * (non-null = shares a 4-gram with the held-out benchmark). The single
    * flag engine under corpus_funnel AND corpus_export. */
  private def funnelFlagged(s: SparkSession, d: String): DataFrame = {
    // distinct-text collapse (the quality_nb pattern): the quality rule
    // battery, the 4-gram explode, and contamination hit-ness are pure
    // text functions — computed once per distinct in-scope text; the
    // per-doc frame keeps only the pruned doc columns plus the tkey map
    // key. ok_unique is doc-identity-dependent by definition (one
    // survivor per exact-dup group) and stays a corpus-side window —
    // partitioned by tkey, the SAME grouping the former md5(text) fp
    // induced, so verdicts are unchanged.
    val scoped = docs(s, d).filter(col("doc_id") % 29 =!= 0)
    val (keyedS, distS) = distinctTexts(scoped, scoped.columns.toSeq)
    val flagsT = withQualityFlags(distS)
      .withColumn("ok_quality",
        when(ruleFlags.map(f => col(f._1)).reduce(_ + _) === 0, 1).otherwise(0))
      .select("tkey", "ok_quality")
    def gramsT(df: DataFrame) = df
      .select(col("tkey"), words.as("ws"))
      .select(col("tkey"), grams(4, distinct = true).as("shingle"))
    val benchShingles =
      gramsT(distinctTexts(docs(s, d).filter(col("doc_id") % 29 === 0))._2)
        .select("shingle").distinct()
    val hitT = gramsT(distS).join(broadcast(benchShingles), Seq("shingle"))
      .select(col("tkey").as("hit_tkey")).distinct()
    keyedS
      .withColumn("ok_unique",
        when(col("doc_id") === min("doc_id").over(Window.partitionBy("tkey")), 1)
          .otherwise(0))
      .join(flagsT, Seq("tkey"))
      .join(hitT, col("tkey") === col("hit_tkey"), "left")
      .withColumn("hit_id", when(col("hit_tkey").isNotNull, col("doc_id")))
  }

  val corpusFunnel: Q = Q.sql(
    "corpus_funnel",
    s"""WITH $funnelCtesSql
      |SELECT lang, source, count(*) AS n_total,
      |  CAST(sum(ok_quality) AS BIGINT) AS n_quality,
      |  CAST(sum(CASE WHEN ok_quality = 1 AND ok_unique = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unique,
      |  CAST(sum(CASE WHEN ok_quality = 1 AND ok_unique = 1
      |    AND hit.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
      |FROM q LEFT JOIN hit ON q.doc_id = hit.doc_id
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
    funnelFlagged(s, d)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_total"),
        sum("ok_quality").as("n_quality"),
        sum(when(col("ok_quality") === 1 && col("ok_unique") === 1, 1).otherwise(0))
          .as("n_unique"),
        sum(when(col("ok_quality") === 1 && col("ok_unique") === 1
          && col("hit_id").isNull, 1).otherwise(0)).as("n_clean"))
      .orderBy("lang", "source")
  }

  /** Deterministic stratified train/val/test split (90/5/5): the split of
    * a document is a pure function of its id — `md5(doc_id)`-derived
    * bucket mod 100 — NOT of row order, partitioning, or corpus size. At
    * 100 TB that property is what makes the split reproducible across
    * re-shards and incremental ingests: a document keeps its split for
    * life, and train/eval contamination can't creep in through a
    * re-partition. Output: per-(lang, source) stratum composition with
    * each split's document/token share — the skew readout (id-hash
    * splitting guarantees global fractions, not per-stratum ones).
    *
    * Per-row map + one partial-aggregating groupBy; the share window runs
    * over the tiny aggregated stratum table. */
  /** id-hash split bucket + 90/5/5 assignment — single definition shared
    * by corpus_split (the skew report) and corpus_export (the
    * materializer), in both dialects. */
  private val duckBucket = s"${TextOps.duckWordHash("CAST(doc_id AS VARCHAR)")} % 100"
  private val sparkBucket = s"${TextOps.sparkWordHash("cast(doc_id as string)")} % 100"
  private def splitCase(b: String) =
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' ELSE 'test' END"

  val corpusSplit: Q = {
    Q.sql(
      "corpus_split",
      s"""WITH b AS (
         |  SELECT lang, source, ${splitCase(duckBucket)} AS split,
         |    len(${duckWordList()}) AS n_words
         |  FROM documents),
         |c AS (SELECT lang, source, split, count(*) AS n_docs,
         |        CAST(sum(n_words) AS BIGINT) AS n_words
         |      FROM b GROUP BY lang, source, split)
         |SELECT lang, source, split, n_docs, n_words,
         |  round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang, source), 4)
         |    AS doc_share
         |FROM c ORDER BY lang, source, split""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang", "source")
      docs(s, d)
        .select(col("lang"), col("source"),
          expr(splitCase(sparkBucket)).as("split"),
          size(words).as("n_words"))
        .groupBy("lang", "source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"))
        .withColumn("doc_share",
          round(col("n_docs") * lit(1.0) / sum("n_docs").over(w), 4))
        .orderBy("lang", "source", "split")
    }
  }

  /** The materializer the release stack was missing: corpus_funnel only
    * REPORTS survival counts — this op actually WRITES the curated corpus
    * (quality gate → exact-dedup keep → decontamination, the funnel's
    * exact stages via [[funnelFlagged]], plus the corpus_split 90/5/5
    * id-hash assignment) through the append-only guarded writer, then
    * reads the release BACK and reconciles it against the stage
    * arithmetic: per (lang, source) stratum the report carries
    * n_total = drop_quality + drop_dup + drop_contam + n_written and the
    * written per-split counts, where n_written/n_train/n_val/n_test come
    * from the MATERIALIZED files — any loss between plan → writer →
    * partition layout → read-back breaks the cross-engine hash (the
    * audit_partition_health discipline applied to the corpus plane).
    *
    * Layout: partitioned split/lang — the two keys a training loader
    * prunes on (train-only reads skip val/test dirs wholesale; per-lang
    * mixing reads only its dirs). Append-only via writeGuardedBy — a
    * release, once cut, is immutable history like the audit sink.
    *
    * Scale: the flag engine is corpus_funnel's (per-row maps + one
    * broadcast probe + one fp window); the write adds one pass over the
    * kept rows and the read-back aggregates file rows partial-agg to
    * ≤ |langs|×|sources| rows. Nothing new shuffles the corpus. */
  val corpusExport: Q = Q.sql(
    "corpus_export",
    s"""WITH $funnelCtesSql,
      |ks AS (SELECT doc_id, lang, source, ${splitCase(duckBucket)} AS split,
      |         ok_quality, ok_unique FROM q),
      |k AS (SELECT ks.lang, ks.source, ks.split
      |      FROM ks LEFT JOIN hit ON ks.doc_id = hit.doc_id
      |      WHERE ks.ok_quality = 1 AND ks.ok_unique = 1 AND hit.doc_id IS NULL),
      |g AS (SELECT lang, source, count(*) AS n_total,
      |        CAST(sum(ok_quality) AS BIGINT) AS n_quality,
      |        CAST(sum(CASE WHEN ok_quality = 1 AND ok_unique = 1
      |          THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |        CAST(sum(CASE WHEN ok_quality = 1 AND ok_unique = 1
      |          AND hit.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
      |      FROM q LEFT JOIN hit ON q.doc_id = hit.doc_id
      |      GROUP BY lang, source),
      |w AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_written,
      |        CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      |        CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
      |        CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
      |      FROM k GROUP BY lang, source)
      |SELECT g.lang, g.source, g.n_total,
      |  g.n_total - g.n_quality AS drop_quality,
      |  g.n_quality - g.n_unique AS drop_dup,
      |  g.n_unique - g.n_clean AS drop_contam,
      |  coalesce(w.n_written, 0) AS n_written,
      |  coalesce(w.n_train, 0) AS n_train,
      |  coalesce(w.n_val, 0) AS n_val,
      |  coalesce(w.n_test, 0) AS n_test
      |FROM g LEFT JOIN w ON g.lang = w.lang AND g.source = w.source
      |ORDER BY g.lang, g.source""".stripMargin) { (s, d) =>
    val flagged = funnelFlagged(s, d)
    def kept0 = flagged
      .filter(col("ok_quality") === 1 && col("ok_unique") === 1 &&
        col("hit_id").isNull)
      .withColumn("split", expr(splitCase(sparkBucket)))
      .select("doc_id", "source", "n_chars", "text", "split", "lang")
    val dir = graft.Scratch.cachedExport(s, "corpus-release", d) { out =>
      graft.sources.FeedSources.writeGuardedBy(kept0, out, Seq("split", "lang"))
    }
    // Read back with the writer's schema pinned: a release where zero
    // documents survive the funnel (fully-contaminated synthetic corpora
    // do this) writes an empty layout, and schema inference over zero
    // footers would crash — the reconciliation report must instead show
    // n_written = 0 per stratum, which is the alarm the operator exists
    // to raise.
    val w = s.read.schema(kept0.schema).parquet(dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).cast("long").as("n_written"),
        sum(when(col("split") === "train", 1).otherwise(0)).cast("long").as("n_train"),
        sum(when(col("split") === "val", 1).otherwise(0)).cast("long").as("n_val"),
        sum(when(col("split") === "test", 1).otherwise(0)).cast("long").as("n_test"))
    val g = flagged
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_total"),
        sum("ok_quality").cast("long").as("n_quality"),
        sum(when(col("ok_quality") === 1 && col("ok_unique") === 1, 1).otherwise(0))
          .cast("long").as("n_unique"),
        sum(when(col("ok_quality") === 1 && col("ok_unique") === 1
          && col("hit_id").isNull, 1).otherwise(0)).cast("long").as("n_clean"))
    g.join(w, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_total"),
        (col("n_total") - col("n_quality")).as("drop_quality"),
        (col("n_quality") - col("n_unique")).as("drop_dup"),
        (col("n_unique") - col("n_clean")).as("drop_contam"),
        coalesce(col("n_written"), lit(0L)).as("n_written"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_val"), lit(0L)).as("n_val"),
        coalesce(col("n_test"), lit(0L)).as("n_test"))
      .orderBy("lang", "source")
  }

  // --------------------------------------------------- unigram LM score --

  /** Per-term surprisal, rounded once then scaled by the exact integer
    * term count — the only float op in the perplexity pipeline (both
    * dialects accept it verbatim; `ct`/`nt` are exact BIGINTs). */
  private val surprisalFormula =
    "round(-log2((1.0 * ct) / nt), 6)"

  /** CCNet-style unigram language-model scoring: per-document
    * cross-entropy (bits/token) under the corpus's own unigram
    * distribution, plus perplexity — the standard "looks like the corpus"
    * quality signal (gibberish and boilerplate both surface as outliers).
    *
    * Scale shape: one corpus pass into per-(doc, term) counts (persisted
    * MEMORY_AND_DISK — read by the global-count agg AND the scoring
    * pass, the [[Retrieval]] tfidf posture); global term counts shuffle
    * on term with partial agg on both sides (vocabulary grows with the
    * corpus, so the model side is NOT broadcast); the 1-row total IS
    * broadcast. Determinism: surprisal rounded once to 6, multiplied by
    * the exact integer tf, summed as DECIMAL — order-independent. */
  val corpusPerplexity: Q = {
    // Scale twin: the collapsed formulation the Spark side runs — score
    // one representative per distinct text (model counts weighted by
    // multiplicity) and expand per-doc rows through the membership map.
    // Keeps the 100x/1000x legs hash-checkable where the naive token
    // explode exceeds single-box DuckDB (the doc_keyphrase_rake twin's
    // shape; MATERIALIZED pins each hop to one evaluation).
    val scaleOracle =
      s"""WITH $duckDocGroups,
        |${duckWords("gid, m", "grp")},
        |t AS (SELECT gid, m, len(ws) AS n, unnest(ws) AS term FROM w),
        |tf AS (SELECT gid, m, n, term, count(*) AS c FROM t GROUP BY 1, 2, 3, 4),
        |gt AS (SELECT term, CAST(sum(c * m) AS BIGINT) AS ct FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM gt),
        |sc AS (SELECT tf.gid, tf.n,
        |         c * CAST($surprisalFormula AS DECIMAL(18, 6)) AS contrib
        |       FROM tf JOIN gt ON tf.term = gt.term CROSS JOIN tot),
        |agg AS (SELECT gid, n, count(*) AS n_distinct_terms,
        |          CAST(sum(contrib) * 1000000 AS BIGINT) AS bits_micro
        |        FROM sc GROUP BY 1, 2),
        |x AS (SELECT gid, n, n_distinct_terms,
        |        (2 * bits_micro + 100 * n) // (200 * n) AS xent_e4
        |      FROM agg)
        |SELECT gmr.doc_id, CAST(n AS BIGINT) AS n_words,
        |  CAST(n_distinct_terms AS BIGINT) AS n_distinct_terms,
        |  CAST(xent_e4 AS DOUBLE) / 10000 AS xent,
        |  round(power(2, CAST(xent_e4 AS DOUBLE) / 10000), 2) AS ppl
        |FROM x JOIN gmr ON x.gid = gmr.gid ORDER BY gmr.doc_id""".stripMargin
    Q.sqlDual(
    "corpus_perplexity",
    s"""WITH ${duckWords()},
      |t AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS term FROM w),
      |tf AS (SELECT doc_id, n, term, count(*) AS c FROM t GROUP BY 1, 2, 3),
      |gt AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM gt),
      |sc AS (SELECT tf.doc_id, tf.n,
      |         c * CAST($surprisalFormula AS DECIMAL(18, 6)) AS contrib
      |       FROM tf JOIN gt ON tf.term = gt.term CROSS JOIN tot),
      |agg AS (SELECT doc_id, n, count(*) AS n_distinct_terms,
      |          CAST(sum(contrib) * 1000000 AS BIGINT) AS bits_micro
      |        FROM sc GROUP BY 1, 2),
      |x AS (SELECT doc_id, n, n_distinct_terms,
      |        (2 * bits_micro + 100 * n) // (200 * n) AS xent_e4
      |      FROM agg)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
      |  CAST(n_distinct_terms AS BIGINT) AS n_distinct_terms,
      |  CAST(xent_e4 AS DOUBLE) / 10000 AS xent,
      |  round(power(2, CAST(xent_e4 AS DOUBLE) / 10000), 2) AS ppl
      |FROM x ORDER BY doc_id""".stripMargin,
    scaleOracle) { (s, d) =>
    // two collapses before anything heavy: docs fold to distinct texts
    // (multiplicity-weighted model counts — [[Tokens.distinctTexts]]), and
    // terms dictionary-encode to 16-byte 128-bit ids (Hash128.key128),
    // so the tf partial-agg and the model join — the sf10 spill drivers
    // — carry fixed-width keys over 1/dup-factor of the mass. Surprisal
    // needs only counts, so the string itself is never published
    // (injectivity pinned by CorpusOpsSpec's term-id guard and by the
    // ~2^-128 pair bound — holds at web-vocab scale)
    val (keyed, dist) = distinctTexts(docs(s, d))
    val tf = dist
      .select(col("tkey"), col("m"), words.as("ws"))
      .select(col("tkey"), col("m"), size(col("ws")).as("n"), explode(col("ws")).as("term"))
      .select(col("tkey"), col("m"), col("n"), graft.Hash128.key128(col("term")).as("tid"))
      .groupBy("tkey", "m", "n", "tid").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gt = tf.groupBy("tid").agg(sum(col("c") * col("m")).cast("long").as("ct"))
    val tot = gt.agg(sum("ct").cast("long").as("nt"))
    val scored = tf.join(gt, Seq("tid"))
      .crossJoin(broadcast(tot))
      .withColumn("contrib",
        col("c") * expr(surprisalFormula).cast("decimal(18,6)"))
      .groupBy("tkey", "n")
      .agg(count(lit(1)).as("n_distinct_terms"),
        // bits is an exact DECIMAL sum; the 4-decimal HALF_UP rounding of
        // bits/n is then done in pure INTEGER arithmetic — a double
        // quotient would tie-break differently across engines when its
        // shortest decimal repr lands on a 5 (bit at sf1: doc 2256)
        (sum("contrib") * 1000000).cast("long").as("bits_micro"))
      .withColumn("xent_e4",
        expr("(2 * bits_micro + 100 * n) div (200 * n)"))
    keyed.join(scored, Seq("tkey"))
      .select(col("doc_id"), col("n").cast("long").as("n_words"),
        col("n_distinct_terms").cast("long").as("n_distinct_terms"),
        (col("xent_e4").cast("double") / 10000).as("xent"),
        round(pow(lit(2), col("xent_e4").cast("double") / 10000), 2).as("ppl"))
      .orderBy("doc_id")
    }
  }

  /** CCNet's head/middle/tail corpus split (Wenzek et al., LREC 2020):
    * per language, documents are scored under that LANGUAGE'S OWN
    * unigram LM (corpus_perplexity scores under one global model — the
    * per-lang conditioning is what makes the buckets comparable across
    * languages) and cut at the within-lang perplexity terciles; head =
    * most-fluent third, the slice CCNet feeds to training first. The
    * report gives each (lang, bucket)'s doc/token mass and mean
    * cross-entropy — the mix-planning input for a quality-tiered
    * sampling schedule.
    *
    * Exactness: same integer half-up discipline as corpus_perplexity
    * (surprisal rounded once to 6, × integer tf, DECIMAL sum, xent in
    * integer e4 units); tercile cuts are ⌈n/3⌉ ranks read off the
    * (lang, xent_e4) cumulative histogram in pure integer arithmetic
    * ((n+2) div 3 — no float percentile), so both engines pick identical
    * thresholds. Mean xent per bucket is half-up integer division.
    *
    * Scale: the (doc, lang, term) tf table persists MEMORY_AND_DISK
    * (model agg + scoring pass); the model join shuffles on (lang,
    * term) with partial aggs both sides (vocab scales — no broadcast);
    * the tercile histogram is bounded at |langs|×|distinct xent_e4|
    * (token_length_quantiles' domain-boundedness argument — xent_e4 is
    * a 4-decimal grid), thresholds broadcast back, and the output is
    * ≤ |langs|×3 rows. No window ever touches a per-doc row. */
  /** Spark twin of [[pplDocBucketSql]]: per-doc (doc_id, lang, n,
    * xent_e4, bucket) under the per-language unigram LM. */
  private def pplDocBuckets(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d)
      .select(col("doc_id"), col("lang"), words.as("ws"))
      .select(col("doc_id"), col("lang"), size(col("ws")).as("n"),
        explode(col("ws")).as("term"))
      .groupBy("doc_id", "lang", "n", "term").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gt = tf.groupBy("lang", "term").agg(sum("c").cast("long").as("ct"))
    val lt = gt.groupBy("lang").agg(sum("ct").cast("long").as("nt"))
    val x = tf.join(gt, Seq("lang", "term"))
      .join(broadcast(lt), Seq("lang"))
      .withColumn("contrib",
        col("c") * expr(surprisalFormula).cast("decimal(18,6)"))
      .groupBy("doc_id", "lang", "n")
      .agg((sum("contrib") * 1000000).cast("long").as("bits_micro"))
      .withColumn("xent_e4", expr("(2 * bits_micro + 100 * n) div (200 * n)"))
      // persisted: the tercile histogram AND the bucket join both read
      // this frame (and quality_plane_agreement reads it a third time
      // through the join) — without it the whole (lang, term) LM scoring
      // join re-runs per consumer. Text-free, 4 columns/doc;
      // MEMORY_AND_DISK so 100 TB eviction spills instead of re-scoring.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byLang = Window.partitionBy("lang")
    val cum = x.groupBy("lang", "xent_e4").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(byLang.orderBy("xent_e4")))
      .withColumn("nd", sum("cnt").over(byLang))
    val th = cum.groupBy("lang").agg(
      min(when(col("cum") >= expr("(nd + 2) div 3"), col("xent_e4"))).as("t1"),
      min(when(col("cum") >= expr("(2 * nd + 2) div 3"), col("xent_e4"))).as("t2"))
    x.join(broadcast(th), Seq("lang"))
      .withColumn("bucket",
        when(col("xent_e4") <= col("t1"), "head")
          .when(col("xent_e4") <= col("t2"), "middle").otherwise("tail"))
      .select("doc_id", "lang", "bucket", "n", "xent_e4")
  }

  /** Standalone per-doc (doc_id, lang, n, xent_e4, bucket) query under
    * the per-language unigram LM — shared by perplexity_buckets and
    * quality_plane_agreement (both dialects). */
  private val pplDocBucketSql: String =
    s"""WITH ${duckWords("doc_id, lang")},
      |t AS (SELECT doc_id, lang, len(ws) AS n, unnest(ws) AS term FROM w),
      |tf AS (SELECT doc_id, lang, n, term, count(*) AS c FROM t GROUP BY 1, 2, 3, 4),
      |gt AS (SELECT lang, term, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY 1, 2),
      |lt AS (SELECT lang, CAST(sum(ct) AS BIGINT) AS nt FROM gt GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id, tf.lang, tf.n,
      |    CAST(sum(c * CAST($surprisalFormula AS DECIMAL(18, 6))) * 1000000 AS BIGINT)
      |      AS bits_micro
      |  FROM tf JOIN gt ON tf.lang = gt.lang AND tf.term = gt.term
      |    JOIN lt ON tf.lang = lt.lang
      |  GROUP BY 1, 2, 3),
      |x AS (SELECT doc_id, lang, n,
      |        (2 * bits_micro + 100 * n) // (200 * n) AS xent_e4 FROM sc),
      |h AS (SELECT lang, xent_e4, count(*) AS cnt FROM x GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, xent_e4,
      |    sum(cnt) OVER (PARTITION BY lang ORDER BY xent_e4) AS cum,
      |    sum(cnt) OVER (PARTITION BY lang) AS nd
      |  FROM h),
      |th AS (
      |  SELECT lang,
      |    min(CASE WHEN cum >= (nd + 2) // 3 THEN xent_e4 END) AS t1,
      |    min(CASE WHEN cum >= (2 * nd + 2) // 3 THEN xent_e4 END) AS t2
      |  FROM cum GROUP BY 1)
      |SELECT x.doc_id, x.lang,
      |  CASE WHEN xent_e4 <= t1 THEN 'head'
      |       WHEN xent_e4 <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
      |  n, xent_e4
      |FROM x JOIN th ON x.lang = th.lang""".stripMargin

  val perplexityBuckets: Q = Q.sql(
    "perplexity_buckets",
    s"""WITH b AS ($pplDocBucketSql),
      |agg AS (
      |  SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n) AS BIGINT) AS n_tokens, CAST(sum(xent_e4) AS BIGINT) AS sx
      |  FROM b GROUP BY 1, 2)
      |SELECT lang, bucket, n_docs, n_tokens,
      |  CAST((2 * sx + n_docs) // (2 * n_docs) AS DOUBLE) / 10000 AS mean_xent,
      |  round(1.0 * n_docs / sum(n_docs) OVER (PARTITION BY lang), 4) AS doc_share
      |FROM agg ORDER BY lang, bucket""".stripMargin) { (s, d) =>
    val byLang = Window.partitionBy("lang")
    pplDocBuckets(s, d)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n").cast("long").as("n_tokens"),
        sum("xent_e4").cast("long").as("sx"))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_tokens"),
        (expr("(2 * sx + n_docs) div (2 * n_docs)").cast("double") / 10000)
          .as("mean_xent"),
        round(lit(1.0) * col("n_docs") / sum("n_docs").over(byLang), 4)
          .as("doc_share"))
      .orderBy("lang", "bucket")
  }

  /** Cross-plane quality audit: does the HEURISTIC gate (quality_filter's
    * rule battery) agree with the LM plane (perplexity_buckets'
    * head/middle/tail terciles)? Each (verdict, bucket) cell carries its
    * doc count, its share within the verdict group, and the lift over
    * the bucket's base rate — lift > 1 on (passed, head) means the two
    * independent quality signals reinforce; lift ≈ 1 everywhere means
    * one of them is noise (the dedup_plane_agreement question asked of
    * the quality stack). Both planes are the LIVE operators' own
    * machinery, so the audit cannot drift from what the gates do.
    *
    * Scale: the two per-doc planes meet in ONE doc_id equi-join (both
    * sides one corpus pass); everything after is a ≤ 2×3 grid with
    * 1-row/|cells| broadcasts. */
  val qualityPlaneAgreement: Q = Q.sql(
    "quality_plane_agreement",
    s"""WITH pb AS ($pplDocBucketSql),
      |qf AS (${qualityFilter.oracle.get}),
      |j AS (SELECT qf.passed, pb.bucket
      |      FROM qf JOIN pb ON qf.doc_id = pb.doc_id),
      |cell AS (SELECT passed, bucket, CAST(count(*) AS BIGINT) AS n_docs
      |         FROM j GROUP BY 1, 2),
      |gr AS (SELECT passed, CAST(sum(n_docs) AS BIGINT) AS n_group
      |       FROM cell GROUP BY 1),
      |gb AS (SELECT bucket, CAST(sum(n_docs) AS BIGINT) AS n_bucket
      |       FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM cell)
      |SELECT cell.passed, cell.bucket, n_docs,
      |  round(1.0 * n_docs / n_group, 4) AS share_within_verdict,
      |  round((1.0 * n_docs / n_group) / (1.0 * n_bucket / n), 4) AS lift
      |FROM cell JOIN gr ON cell.passed = gr.passed
      |  JOIN gb ON cell.bucket = gb.bucket CROSS JOIN tot
      |ORDER BY cell.passed, cell.bucket""".stripMargin) { (s, d) =>
    val j = qualityFilter.fn(s, d).select("doc_id", "passed")
      .join(pplDocBuckets(s, d).select("doc_id", "bucket"), Seq("doc_id"))
    // marginals via windows over the ≤2x|buckets|-row AGGREGATE — three
    // separate agg+broadcast hops here were pure sequential job chain
    // (the tok_unigram chain-depth lesson; the frame is bucket-bounded)
    val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cell = j.groupBy("passed", "bucket")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("n_group",
        sum("n_docs").over(Window.partitionBy("passed")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_bucket",
        sum("n_docs").over(Window.partitionBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n", sum("n_docs").over(allW))
    cell
      .select(col("passed"), col("bucket"), col("n_docs"),
        round(lit(1.0) * col("n_docs") / col("n_group"), 4)
          .as("share_within_verdict"),
        round((lit(1.0) * col("n_docs") / col("n_group"))
          / (lit(1.0) * col("n_bucket") / col("n")), 4).as("lift"))
      .orderBy("passed", "bucket")
  }

  // ------------------------------------------------- boilerplate n-grams --

  /** A bigram is boilerplate within its source when it appears in ≥ 10%
    * of the source's documents and at least 3 of them (thresholds sit
    * inside this corpus's observed DF distribution: per-source max DF
    * share is 20-32%, with 100-200 bigrams over the 10% line). */
  private val BoilerMinDf = 3
  private val BoilerShare = 0.10

  /** Per-source boilerplate detection (the CCNet/C4 header-footer
    * filter): bigrams shared by an unusually large fraction of one
    * source's documents are template text — navigation chrome, license
    * headers, sign-offs — and each document is scored by how much of it
    * is template. Whole-doc dedup never sees this (the surrounding text
    * differs); [[Retrieval.chunkOverlap]] needs a full 64-word window to
    * fire. Shape: per-doc DISTINCT bigrams (partial-agg bounded), DF per
    * (source, bigram) partial agg, per-source doc counts joined on the
    * tiny source dimension (broadcast), then ONE equi-join of the doc
    * bigram stream against the flagged set on (source, gram) — flagged
    * vocabulary is small by construction (high-DF survivors only), but
    * NOT force-broadcast: it grows with source count, AQE decides. */
  val boilerplateNgrams: Q = Q.sql(
    "boilerplate_ngrams",
    s"""WITH ${duckWords("doc_id, source")},
      |g AS (SELECT doc_id, source, unnest(list_distinct(
      |        ${duckGrams(2)}))
      |        AS gram
      |      FROM w),
      |df AS (SELECT source, gram, count(*) AS df FROM g GROUP BY 1, 2),
      |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |bp AS (SELECT df.source, gram FROM df JOIN nd ON df.source = nd.source
      |       WHERE df >= $BoilerMinDf AND 1.0 * df / n_docs >= $BoilerShare),
      |per AS (SELECT g.doc_id, count(*) AS n_grams,
      |          sum(CASE WHEN bp.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      |        FROM g LEFT JOIN bp ON g.source = bp.source AND g.gram = bp.gram
      |        GROUP BY 1)
      |SELECT doc_id, n_grams, CAST(n_boiler AS BIGINT) AS n_boiler,
      |  round(1.0 * n_boiler / n_grams, 4) AS boiler_ratio
      |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
    val g = docs(s, d)
      .select(col("doc_id"), col("source"), words.as("ws"))
      .select(col("doc_id"), col("source"),
        grams(2, distinct = true).as("gram"))
    val df = g.groupBy("source", "gram").agg(count(lit(1)).as("df"))
    val nd = docs(s, d).groupBy("source").agg(count(lit(1)).as("n_docs"))
    val bp = df.join(broadcast(nd), Seq("source"))
      .filter(col("df") >= BoilerMinDf &&
        lit(1.0) * col("df") / col("n_docs") >= BoilerShare)
      .select(col("source"), col("gram"), lit(1).as("is_bp"))
    g.join(bp, Seq("source", "gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("is_bp").isNotNull, 1).otherwise(0)).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        round(lit(1.0) * col("n_boiler") / col("n_grams"), 4).as("boiler_ratio"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- vocabulary curves --

  /** Vocabulary saturation by corpus decile (the Heaps-law readout): how
    * many term types are first seen in each tenth of the corpus, with the
    * cumulative share of the final vocabulary — flat tail = the corpus
    * has stopped teaching the tokenizer/model new words; a late spike =
    * a contaminating source entered mid-ingest. Decile = pure function of
    * doc_id against the (1-row broadcast) max id, so the curve is stable
    * under re-sharding. Shape: distinct (doc, term) partial agg →
    * min-doc-per-term partial agg (bounded at |vocab|) → 10-row groupBy;
    * per-decile token mass rides a second cheap pass over documents.
    * The token-mass side drives (left join), so a saturated decile that
    * taught no new types still appears with new_types = 0 — the flat
    * tail IS the signal this curve exists to show. */
  val vocabGrowth: Q = Q.sql(
    "vocab_growth",
    s"""WITH ${duckWords()},
      |mx AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
      |dt AS (SELECT DISTINCT doc_id, unnest(ws) AS term FROM w),
      |ft AS (SELECT term, min(doc_id) AS first_doc FROM dt GROUP BY 1),
      |fd AS (SELECT CAST(first_doc * 10 // n_docs AS BIGINT) AS decile,
      |         count(*) AS new_types
      |       FROM ft CROSS JOIN mx GROUP BY 1),
      |tok AS (SELECT CAST(doc_id * 10 // n_docs AS BIGINT) AS decile,
      |          CAST(sum(len(ws)) AS BIGINT) AS n_tokens
      |        FROM w CROSS JOIN mx GROUP BY 1),
      |cum AS (SELECT tok.decile, coalesce(new_types, 0) AS new_types,
      |          n_tokens,
      |          sum(coalesce(new_types, 0)) OVER (ORDER BY tok.decile)
      |            AS cum_types,
      |          sum(coalesce(new_types, 0)) OVER () AS total_types
      |        FROM tok LEFT JOIN fd ON fd.decile = tok.decile)
      |SELECT decile, n_tokens, new_types,
      |  CAST(cum_types AS BIGINT) AS cum_types,
      |  round(1.0 * cum_types / total_types, 4) AS vocab_share
      |FROM cum ORDER BY decile""".stripMargin) { (s, d) =>
    val w = docs(s, d).select(col("doc_id"), words.as("ws"))
    val mx = docs(s, d).agg((max("doc_id") + 1).as("n_docs"))
    val ft = w.select(col("doc_id"), explode(col("ws")).as("term")).distinct()
      .groupBy("term").agg(min("doc_id").as("first_doc"))
    val fd = ft.crossJoin(broadcast(mx))
      .groupBy(expr("first_doc * 10 div n_docs").as("decile"))
      .agg(count(lit(1)).as("new_types"))
    val tok = w.crossJoin(broadcast(mx))
      .groupBy(expr("doc_id * 10 div n_docs").as("decile"))
      .agg(sum(size(col("ws"))).as("n_tokens"))
    val cumW = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy()
    tok.join(fd, Seq("decile"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum("new_types").over(cumW))
      .withColumn("total_types", sum("new_types").over(allW))
      .select(col("decile"), col("n_tokens"), col("new_types"),
        col("cum_types").cast("long").as("cum_types"),
        round(lit(1.0) * col("cum_types") / col("total_types"), 4).as("vocab_share"))
      .orderBy("decile")
  }

  /** Out-of-vocabulary audit of the held-out split: per language, the
    * share of `val`-split tokens (and types) whose term never occurs in
    * the `train` split — read BEFORE freezing a tokenizer or trusting
    * val perplexity (an OOV-heavy language's eval numbers measure the
    * unknown-token path, not the model). Reuses corpus_split's exact
    * md5(doc_id) rule, so the audit describes the real released split.
    * Shape: train vocabulary is a distinct-term partial agg (bounded at
    * |vocab|, NOT broadcast — it scales with the corpus); val term
    * counts equi-join it on term with partial aggs on both sides; the
    * |langs|-row rollup ends it. */
  val oovRate: Q = {
    val duckBucket = s"${TextOps.duckWordHash("CAST(doc_id AS VARCHAR)")} % 100"
    val sparkBucket = s"${TextOps.sparkWordHash("cast(doc_id as string)")} % 100"
    Q.sql(
      "oov_rate",
      s"""WITH ${duckWords(s"doc_id, lang, $duckBucket AS bucket", name = "b")},
         |tv AS (SELECT DISTINCT unnest(ws) AS term FROM b WHERE bucket < 90),
         |vt AS (SELECT lang, unnest(ws) AS term FROM b
         |       WHERE bucket >= 90 AND bucket < 95),
         |vc AS (SELECT lang, term, count(*) AS c FROM vt GROUP BY 1, 2),
         |j AS (SELECT vc.lang, vc.term, vc.c,
         |        CASE WHEN tv.term IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM vc LEFT JOIN tv ON vc.term = tv.term)
         |SELECT lang,
         |  CAST(sum(c) AS BIGINT) AS n_val_tokens,
         |  CAST(sum(oov * c) AS BIGINT) AS n_oov_tokens,
         |  round(1.0 * sum(oov * c) / sum(c), 4) AS oov_token_rate,
         |  count(*) AS n_val_types,
         |  CAST(sum(oov) AS BIGINT) AS n_oov_types,
         |  round(1.0 * sum(oov) / count(*), 4) AS oov_type_rate
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val b = docs(s, d).select(col("doc_id"), col("lang"),
        words.as("ws"),
        expr(sparkBucket).as("bucket"))
      val tv = b.filter(col("bucket") < 90)
        .select(explode(col("ws")).as("term")).distinct()
        .withColumn("in_train", lit(1))
      val vc = b.filter(col("bucket") >= 90 && col("bucket") < 95)
        .select(col("lang"), explode(col("ws")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      vc.join(tv, Seq("term"), "left")
        .withColumn("oov", when(col("in_train").isNull, 1).otherwise(0))
        .groupBy("lang").agg(
          sum("c").cast("long").as("n_val_tokens"),
          sum(col("oov") * col("c")).cast("long").as("n_oov_tokens"),
          round(lit(1.0) * sum(col("oov") * col("c")) / sum("c"), 4)
            .as("oov_token_rate"),
          count(lit(1)).as("n_val_types"),
          sum("oov").cast("long").as("n_oov_types"),
          round(lit(1.0) * sum("oov") / count(lit(1)), 4).as("oov_type_rate"))
        .orderBy("lang")
    }
  }

  // ------------------------------------------------------- zipf fit --

  private[graft] val ZipfTopK = 1000
  private[graft] val ZipfBuckets = 64

  /** Per-language Zipf (rank-frequency power-law) fit: least-squares
    * slope / intercept / r² of log2(freq) against log2(rank) over the
    * top-1000 terms — natural language sits near slope ≈ −1 with high
    * r²; machine-generated or template text bends the curve, and a
    * slope drifting across ingest batches is an early corruption signal.
    * Head-rank fitting (top-k) is the standard Zipf protocol AND the
    * scale guard: the rank window never sees the full vocabulary.
    *
    * Scale shape: per-(lang, term) counts are one partial-agg groupBy
    * bounded at |vocab|; ranks use the ngram_stats TWO-PHASE top-k (a
    * per-(lang, 64-bucket) row_number pre-pass keeps ≤ 1000 per bucket,
    * the global per-lang rank runs over the ≤ 64k survivors — never the
    * full vocabulary in one partition); the regression reduces to ONE
    * |langs|-row groupBy of DECIMAL sums. Determinism: log2 of exact
    * integers rounded once to 6 decimals, products re-rounded to scale 6
    * (every sum stays ≤ 13 significant digits — exact as DOUBLE), all
    * final arithmetic in identically-shaped DOUBLE expressions. */
  /** Per-(lang, term) counts `c` of the corpus. */
  private def langTermCounts(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("lang"), explode(words).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))

  /** The top-[[ZipfTopK]] terms per language of the counts `lc`, ranked
    * `rnk` by (c DESC, term). Two-phase top-k: membership in the global
    * top-k implies membership in the owning bucket's top-k under the same
    * order, so the per-(lang, bucket) pre-pass only discards non-winners
    * (the oracle needs no bucket model) and the global per-lang rank sees
    * ≤ |buckets|×k survivors, never a whole vocabulary in one partition. */
  private def topTermRanks(lc: DataFrame): DataFrame =
    lc.withColumn("bucket", pmod(hash(col("term")), lit(ZipfBuckets)))
      .withColumn("pre_rnk", row_number().over(
        Window.partitionBy("lang", "bucket").orderBy(col("c").desc, col("term"))))
      .filter(col("pre_rnk") <= ZipfTopK)
      .drop("bucket", "pre_rnk")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("term"))))
      .filter(col("rnk") <= ZipfTopK)

  /** DuckDB twin of [[langTermCounts]] (`lc`) and the rank of
    * [[topTermRanks]] before its cut (`r`: lang, c, rnk). */
  private val duckTermRanks: String =
    s"""w AS (SELECT lang, unnest(${duckWordList()}) AS term
       |       FROM documents),
       |lc AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
       |       FROM w GROUP BY 1, 2),
       |r AS (SELECT lang, c,
       |        row_number() OVER (PARTITION BY lang ORDER BY c DESC, term) AS rnk
       |      FROM lc)""".stripMargin

  /** The least-squares fit over the sufficient statistics nt, sx, sy,
    * sxy, sxx, syy (exact DECIMAL sums): slope, intercept and r² as
    * formula strings both engines evaluate — identical expression trees,
    * identical IEEE evaluation. Shared by zipf_fit and heaps_fit. */
  private object Ols {
    private def d(x: String) = s"CAST($x AS DOUBLE)"
    private val num = s"(${d("nt")} * ${d("sxy")} - ${d("sx")} * ${d("sy")})"
    private val den = s"(${d("nt")} * ${d("sxx")} - ${d("sx")} * ${d("sx")})"
    private val denY = s"(${d("nt")} * ${d("syy")} - ${d("sy")} * ${d("sy")})"
    val slope = s"($num / nullif($den, 0))"
    val intercept = s"((${d("sy")} - $slope * ${d("sx")}) / ${d("nt")})"
    val r2 = s"$num * $num / nullif($den * $denY, 0)"
  }

  val zipfFit: Q = {
    def lg(x: String) = s"CAST(round(log2($x), 6) AS DECIMAL(18, 6))"
    val slopeF = s"round(${Ols.slope}, 4)"
    val interceptF = s"round(${Ols.intercept}, 4)"
    val r2F = s"round(${Ols.r2}, 4)"
    Q.sql(
      "zipf_fit",
      s"""WITH $duckTermRanks,
         |p AS (SELECT lang, ${lg("rnk")} AS x, ${lg("c")} AS y
         |      FROM r WHERE rnk <= $ZipfTopK),
         |a AS (SELECT lang, count(*) AS nt,
         |        sum(x) AS sx, sum(y) AS sy,
         |        sum(CAST(round(x * y, 6) AS DECIMAL(18, 6))) AS sxy,
         |        sum(CAST(round(x * x, 6) AS DECIMAL(18, 6))) AS sxx,
         |        sum(CAST(round(y * y, 6) AS DECIMAL(18, 6))) AS syy
         |      FROM p GROUP BY 1)
         |SELECT lang, CAST(nt AS BIGINT) AS n_terms,
         |  $slopeF AS slope, $interceptF AS intercept, $r2F AS r2
         |FROM a ORDER BY lang""".stripMargin) { (s, dir) =>
      topTermRanks(langTermCounts(s, dir))
        .withColumn("x", expr(lg("rnk")))
        .withColumn("y", expr(lg("c")))
        .groupBy("lang").agg(
          count(lit(1)).as("nt"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(round(x * y, 6) AS DECIMAL(18, 6))")).as("sxy"),
          sum(expr("CAST(round(x * x, 6) AS DECIMAL(18, 6))")).as("sxx"),
          sum(expr("CAST(round(y * y, 6) AS DECIMAL(18, 6))")).as("syy"))
        .select(col("lang"), col("nt").cast("long").as("n_terms"),
          expr(slopeF).as("slope"), expr(interceptF).as("intercept"),
          expr(r2F).as("r2"))
        .orderBy("lang")
    }
  }

  // ---------------------------------------------------- release card --

  /** The per-(lang, source) corpus release card: doc/token volume, token
    * share of the whole corpus, average document length, quality-gate
    * pass share (the exact conjunction quality_filter publishes), type
    * count, and the share of docs whose full text is an exact duplicate
    * of ANY corpus doc (corpus-wide md5 groups, the dedup_exact
    * membership) — the one-table summary a corpus release ships and the
    * first thing reviewed when a new source lands.
    *
    * Scale shape: one per-doc pass computes words/flags/md5; corpus-wide
    * dup membership is a partial-agg groupBy on the digest joined back
    * as an equi-join (both sides scale — no hint, AQE decides); the type
    * count is a distinct (lang, source, term) partial agg bounded at
    * |vocab| × |groups|; everything then collapses to a ≤ |groups|-row
    * aggregate, where the 1-row total joins via the unpartitioned-window
    * trick on the tiny aggregate. Shares rounded once from exact
    * BIGINT ratios. */
  val corpusReport: Q = Q.sql(
    "corpus_report",
    s"""WITH q AS (SELECT doc_id, lang, source, md5(text) AS digest,
       |         $duckQualityFeatures
       |       FROM documents),
       |f AS (SELECT doc_id, lang, source, digest, n_words,
       |        CASE WHEN $passAllSql THEN 1 ELSE 0 END AS passed
       |      FROM q),
       |dup AS (SELECT digest, count(*) AS n_same FROM f GROUP BY 1),
       |fd AS (SELECT f.*, CASE WHEN n_same > 1 THEN 1 ELSE 0 END AS is_dup
       |       FROM f JOIN dup ON f.digest = dup.digest),
       |ty AS (SELECT lang, source, count(*) AS n_types FROM (
       |         SELECT DISTINCT lang, source, unnest(${duckWordList()}) AS term
       |         FROM documents) GROUP BY 1, 2),
       |g AS (SELECT lang, source,
       |        count(*) AS n_docs,
       |        CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |        CAST(sum(passed) AS BIGINT) AS n_pass,
       |        CAST(sum(is_dup) AS BIGINT) AS n_exact_dup
       |      FROM fd GROUP BY 1, 2)
       |SELECT g.lang AS lang, g.source AS source, n_docs, n_tokens,
       |  round(1.0 * n_tokens / sum(n_tokens) OVER (), 4) AS token_share,
       |  round(1.0 * n_tokens / n_docs, 2) AS avg_doc_words,
       |  round(1.0 * n_pass / n_docs, 4) AS pass_share,
       |  round(1.0 * n_exact_dup / n_docs, 4) AS dup_share,
       |  n_types
       |FROM g JOIN ty ON g.lang = ty.lang AND g.source = ty.source
       |ORDER BY g.lang, g.source""".stripMargin) { (s, d) =>
    // distinct-text collapse: n_words/passed are text functions (once
    // per distinct text), exact-dup grouping keys on the same tkey the
    // former md5 digest induced, and the per-stratum type inventory
    // fans per-TEXT distinct terms out over the bounded distinct
    // (lang, source, tkey) frame instead of exploding every twin. The
    // persisted per-doc frame is TEXT-FREE (a few dozen bytes/doc).
    val (keyed, dist) = distinctTexts(docs(s, d), Seq("doc_id", "lang", "source"))
    val perText = withQualityFlags(dist)
      .withColumn("passed", when(expr(passAllSql), 1).otherwise(0))
      .select("tkey", "n_words", "passed")
    val f = keyed
      .join(perText, Seq("tkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = f.groupBy("tkey").agg(count(lit(1)).as("n_same"))
    val g = f.join(dup, Seq("tkey"))
      .withColumn("is_dup", when(col("n_same") > 1, 1).otherwise(0))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").cast("long").as("n_tokens"),
        sum("passed").cast("long").as("n_pass"),
        sum("is_dup").cast("long").as("n_exact_dup"))
    val terms = dist.select(col("tkey"),
      explode(array_distinct(words)).as("term"))
    val ty = f.select("lang", "source", "tkey").distinct()
      .join(terms, Seq("tkey"))
      .select("lang", "source", "term").distinct()
      .groupBy("lang", "source").agg(count(lit(1)).as("n_types"))
    val allW = Window.partitionBy()
    g.join(ty, Seq("lang", "source"))
      .withColumn("token_share",
        round(lit(1.0) * col("n_tokens") / sum("n_tokens").over(allW), 4))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"),
        round(lit(1.0) * col("n_tokens") / col("n_docs"), 2).as("avg_doc_words"),
        round(lit(1.0) * col("n_pass") / col("n_docs"), 4).as("pass_share"),
        round(lit(1.0) * col("n_exact_dup") / col("n_docs"), 4).as("dup_share"),
        col("n_types"))
      .orderBy("lang", "source")
  }

  // ------------------------------------------------------ epoch plan --

  private[graft] val MaxEpochs = 4

  /** Training-token allocation under the temperature mix — the plan that
    * turns corpus_temperature's weights into an executable schedule: with
    * a one-corpus-pass token budget (Σ tokens) redistributed by the T=2
    * weights, each language gets `allocated_tokens`; languages whose
    * allocation exceeds their natural mass repeat data across epochs
    * (`epochs_raw`), capped at 4 epochs — past ~4 repeats extra epochs
    * stop buying loss (the data-constrained scaling result, Muennighoff
    * et al. 2023) — so `planned_tokens` is the delivered allocation and
    * `data_constrained = 1` marks languages where the cap bound (the
    * "go collect more of this language" flag).
    *
    * Scale shape: identical to corpus_temperature — ONE corpus scan into
    * a |langs|-row aggregate, totals via unpartitioned window on that
    * aggregate, all further math driver-scale. Determinism: weights are
    * √tokens rounded once to DECIMAL(18,4); shares rounded once to 6;
    * allocations floor an identical double product of (rounded share ×
    * exact integer total) on both engines. */
  val epochPlan: Q = {
    val share = "round(CAST(wgt AS DOUBLE) / CAST(sum_wgt AS DOUBLE), 6)"
    val alloc = s"CAST(floor($share * sum_tokens) AS BIGINT)"
    Q.sql(
      "epoch_plan",
      s"""WITH s AS (SELECT lang, CAST(sum(len(${duckWordList()})) AS BIGINT)
       |          AS tokens
       |      FROM documents GROUP BY 1),
       |w AS (SELECT lang, tokens,
       |        CAST(round(sqrt(1.0 * tokens), 4) AS DECIMAL(18, 4)) AS wgt
       |      FROM s),
       |t AS (SELECT sum(wgt) AS sum_wgt, CAST(sum(tokens) AS BIGINT)
       |        AS sum_tokens FROM w),
       |a AS (SELECT lang, tokens, $alloc AS allocated_tokens
       |      FROM w CROSS JOIN t)
       |SELECT lang, tokens, allocated_tokens,
       |  round(1.0 * allocated_tokens / tokens, 4) AS epochs_raw,
       |  least(allocated_tokens, $MaxEpochs * tokens) AS planned_tokens,
       |  round(1.0 * least(allocated_tokens, $MaxEpochs * tokens) / tokens, 4)
       |    AS epochs_planned,
       |  CASE WHEN allocated_tokens > $MaxEpochs * tokens THEN 1 ELSE 0 END
       |    AS data_constrained
       |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      val perLang = docs(s, d)
        .select(col("lang"), size(words).as("n_tok"))
        .groupBy("lang")
        .agg(sum("n_tok").cast("long").as("tokens"))
        .withColumn("wgt",
          round(sqrt(lit(1.0) * col("tokens")), 4).cast("decimal(18,4)"))
      val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perLang
        .withColumn("sum_wgt", sum("wgt").over(allW))
        .withColumn("sum_tokens", sum("tokens").over(allW).cast("long"))
        .withColumn("allocated_tokens", expr(alloc))
        .select(col("lang"), col("tokens"), col("allocated_tokens"),
          round(lit(1.0) * col("allocated_tokens") / col("tokens"), 4)
            .as("epochs_raw"),
          least(col("allocated_tokens"), lit(MaxEpochs) * col("tokens"))
            .as("planned_tokens"),
          round(lit(1.0)
            * least(col("allocated_tokens"), lit(MaxEpochs) * col("tokens"))
            / col("tokens"), 4).as("epochs_planned"),
          when(col("allocated_tokens") > lit(MaxEpochs) * col("tokens"), 1)
            .otherwise(0).as("data_constrained"))
        .orderBy("lang")
    }
  }

  /** Cross-split contamination audit: for each eval split, how many
    * documents share at least one 4-gram with ANY train document — the
    * leakage check a release runs after [[corpusSplit]] (id-hash
    * splitting keeps a document's split stable, but near-duplicate TEXTS
    * still land on both sides; decontaminate probes a fixed benchmark,
    * this probes the split boundary itself).
    *
    * Scale shape: the train side collapses to its DISTINCT shingle set
    * and the probe is a LEFT SEMI join on shingle — membership only, so
    * a stopword-ish shingle shared by millions of docs on both sides
    * contributes zero pair blowup (the decontaminate inner join would
    * multiply; semi short-circuits). Neither side is broadcast: both
    * scale with the corpus. The totals pass re-reads only doc_id
    * (column-pruned — the split is a pure id function). */
  val splitLeakage: Q = {
    val duckBucket = s"${TextOps.duckWordHash("CAST(doc_id AS VARCHAR)")} % 100"
    val sparkBucket = s"${TextOps.sparkWordHash("cast(doc_id as string)")} % 100"
    def splitCase(b: String) =
      s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' ELSE 'test' END"
    Q.sql(
      "split_leakage",
      s"""WITH ${duckWords(s"doc_id, ${splitCase(duckBucket)} AS split")},
         |ex AS (SELECT doc_id, split, unnest(list_distinct(${duckGrams(4)})) AS shingle
         |       FROM w),
         |tr AS (SELECT DISTINCT shingle FROM ex WHERE split = 'train'),
         |leaked AS (
         |  SELECT DISTINCT ex.doc_id, ex.split
         |  FROM ex JOIN tr USING (shingle) WHERE ex.split <> 'train'),
         |tot AS (SELECT split, count(*) AS n_docs FROM w
         |        WHERE split <> 'train' GROUP BY 1),
         |l AS (SELECT split, count(*) AS n_leaked FROM leaked GROUP BY 1)
         |SELECT tot.split, tot.n_docs,
         |  coalesce(l.n_leaked, 0) AS n_leaked,
         |  round(CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / tot.n_docs, 4)
         |    AS leak_share
         |FROM tot LEFT JOIN l ON tot.split = l.split
         |ORDER BY tot.split""".stripMargin) { (s, d) =>
      val w = docs(s, d).select(col("doc_id"),
        expr(splitCase(sparkBucket)).as("split"),
        words.as("ws"))
      val ex = w.select(col("doc_id"), col("split"),
        grams(4, distinct = true).as("shingle"))
      val tr = ex.filter(col("split") === "train").select("shingle").distinct()
      val leaked = ex.filter(col("split") =!= "train")
        .join(tr, Seq("shingle"), "left_semi")
        .select("doc_id", "split").distinct()
        .groupBy("split").agg(count(lit(1)).as("n_leaked"))
      val tot = w.filter(col("split") =!= "train")
        .groupBy("split").agg(count(lit(1)).as("n_docs"))
      tot.join(leaked, Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
          round(coalesce(col("n_leaked"), lit(0L)).cast("double")
            / col("n_docs"), 4).as("leak_share"))
        .orderBy("split")
    }
  }

  /** Per-document content novelty under ingest order: the share of a
    * doc's distinct 3-gram shingles whose FIRST corpus occurrence (min
    * doc_id) is this doc — 1.0 = genuinely new content, ~0 = everything
    * was already ingested (the near-dup long tail dedup's pairwise passes
    * rank by similarity, this ranks by contribution). The curation use:
    * novelty-weighted sampling keeps late corpora from re-paying for
    * content the early corpora already contributed.
    *
    * Scale shape: the classic inverted-index two-pass — explode to
    * (shingle, doc) [linear], partial-agg min(doc_id) per shingle
    * [|shingles|-bounded output], equi-join the exploded frame back on
    * the SAME shingle distribution (no df-cap needed: the firsts side is
    * one row per shingle, so join output = explode output exactly — never
    * quadratic), re-aggregate per doc. Three linear shuffles, no window
    * over raw data, no all-pairs anywhere. */
  val ngramNovelty: Q = Q.sql(
    "ngram_novelty",
    s"""WITH ${duckShingleRows("doc_id, lang, source")},
      |f AS (SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY 1)
      |SELECT ex.doc_id, ex.lang, ex.source,
      |  count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  round(1.0 * sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
      |        / count(*), 4) AS novelty
      |FROM ex JOIN f USING (shingle)
      |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val ex = docs(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(shingles(3, words)).as("s3"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(col("s3")).as("shingle"))
    val firsts = ex.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    val novel = sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
    ex.join(firsts, Seq("shingle"))
      .groupBy("doc_id", "lang", "source")
      .agg(count(lit(1)).as("n_shingles"),
        novel.cast("long").as("n_novel"),
        round(lit(1.0) * novel / count(lit(1)), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted (importance) sampling EXECUTING the
    * corpus_temperature rates: each language's acceptance rate is its
    * temperature boost × a 0.5 base rate (capped at 1), and a document is
    * kept iff its content-stable hash falls under the rate — the stage
    * that turns corpus_temperature's report into an actual sampled
    * corpus, with the realized rate alongside the target as the
    * self-audit (they converge as |docs| grows; both published).
    * Re-run/re-partition/re-shard stable: the keep decision is a pure
    * function of doc_id (the corpus_split hash discipline), never of RNG
    * or row order.
    *
    * Scale shape: scan 1 partial-aggregates to the |langs| rate frame
    * (temperature arithmetic identical to corpus_temperature — exact
    * decimal weight sums, shares of rounded values); scan 2 joins that
    * tiny frame back broadcast and partial-aggregates the keep flags —
    * the corpus itself is never shuffled, output ≤ |langs| rows. */
  val sampleWeighted: Q = {
    val duckHash = s"${TextOps.duckWordHash("CAST(doc_id AS VARCHAR)")} % 1000000"
    val sparkHash = s"${TextOps.sparkWordHash("cast(doc_id as string)")} % 1000000"
    Q.sql(
      "sample_weighted",
      s"""WITH $duckLangWeights,
        |r AS (SELECT lang, n_docs, tokens,
        |        least(1.0, round(
        |          round(round(CAST(wgt AS DOUBLE) / CAST(sum_wgt AS DOUBLE), 6)
        |                / round(1.0 * tokens / sum_tokens, 6), 4) * 0.5, 4))
        |          AS rate
        |      FROM w CROSS JOIN t),
        |k AS (SELECT d.lang,
        |        CAST(sum(CASE WHEN $duckHash
        |          < CAST(round(r.rate * 1000000, 0) AS BIGINT)
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        CAST(sum(CASE WHEN $duckHash
        |          < CAST(round(r.rate * 1000000, 0) AS BIGINT)
        |          THEN len(${duckWordList("d.text")}) ELSE 0 END) AS BIGINT)
        |          AS kept_tokens
        |      FROM documents d JOIN r USING (lang) GROUP BY 1)
        |SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(r.tokens AS BIGINT) AS tokens, r.rate,
        |  k.n_kept, k.kept_tokens,
        |  round(1.0 * k.n_kept / r.n_docs, 4) AS realized_rate
        |FROM r JOIN k USING (lang) ORDER BY r.lang""".stripMargin) { (s, d) =>
      val perLang = langWeights(s, d)
      val allW = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val boost = round(
        round(col("wgt").cast("double") / sum("wgt").over(allW).cast("double"), 6)
          / round(lit(1.0) * col("tokens") / sum("tokens").over(allW), 6), 4)
      val rates = perLang
        .select(col("lang"), col("n_docs"), col("tokens"),
          least(lit(1.0), round(boost * 0.5, 4)).as("rate"))
      val keep = expr(sparkHash) <
        round(col("rate") * 1000000, 0).cast("long")
      val kept = docs(s, d)
        .select(col("lang"), col("doc_id"),
          size(words).as("n_tok"))
        .join(broadcast(rates.select("lang", "rate")), Seq("lang"))
        .groupBy("lang")
        .agg(sum(when(keep, 1).otherwise(0)).cast("long").as("n_kept"),
          sum(when(keep, col("n_tok")).otherwise(0)).cast("long")
            .as("kept_tokens"))
      rates.join(kept, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("tokens"), col("rate"),
          col("n_kept"), col("kept_tokens"),
          round(lit(1.0) * col("n_kept") / col("n_docs"), 4)
            .as("realized_rate"))
        .orderBy("lang")
    }
  }

  /** EXACT token-length quantiles per language (p50/p90/p99 + max) — the
    * packing/truncation sizing input (pack_sequences' budget and a
    * max-length cutoff are chosen off these). Exactness at scale WITHOUT
    * a global sort: token length is a small-integer domain, so the corpus
    * partial-aggregates to a (lang, length)→count histogram first
    * (bounded at |langs|×|distinct lengths| at any corpus size) and the
    * quantile is read off the cumulative histogram — the lower-quantile
    * rule value = min{len : cum ≥ ⌈p·n⌉} — where a rank/percentile
    * window over raw docs would sort the corpus (the
    * audit_value_quantiles lesson, solved by domain-boundedness instead
    * of sketching: these quantiles are exact). */
  val tokenLengthQuantiles: Q = {
    def qSel(p: String, alias: String) =
      s"CAST(min(CASE WHEN cum >= CAST(ceil($p * n_docs) AS BIGINT) THEN n_words END) AS INT) AS $alias"
    Q.sql(
      "token_length_quantiles",
      s"""WITH h AS (SELECT lang, len(${duckWordList()}) AS n_words
        |       FROM documents),
        |c AS (SELECT lang, n_words, count(*) AS cnt FROM h GROUP BY 1, 2),
        |t AS (SELECT lang, n_words, cnt,
        |        sum(cnt) OVER (PARTITION BY lang ORDER BY n_words) AS cum,
        |        sum(cnt) OVER (PARTITION BY lang) AS n_docs
        |      FROM c)
        |SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  ${qSel("0.5", "p50")}, ${qSel("0.9", "p90")}, ${qSel("0.99", "p99")},
        |  CAST(max(n_words) AS INT) AS max_words
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val hist = docs(s, d)
        .select(col("lang"), size(words).as("n_words"))
        .groupBy("lang", "n_words").agg(count(lit(1)).as("cnt"))
      val byLang = Window.partitionBy("lang")
      val t = hist
        .withColumn("cum", sum("cnt").over(byLang.orderBy("n_words")))
        .withColumn("n_docs", sum("cnt").over(byLang))
      def q(p: Double, alias: String) =
        min(when(col("cum") >= ceil(lit(p) * col("n_docs")).cast("long"),
          col("n_words"))).cast("int").as(alias)
      t.groupBy("lang")
        .agg(max("n_docs").cast("long").as("n_docs"),
          q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"),
          max("n_words").cast("int").as("max_words"))
        .orderBy("lang")
    }
  }

  /** Heaps'-law fit V(n) = K·n^β over the LIVE vocab_growth curve — the
    * vocabulary-at-scale forecaster (Heaps 1978): β near 1 means the
    * vocabulary keeps exploding (OOV pressure, bigger BPE budget), β
    * near 0.5 is classic natural-language saturation. The op composes
    * vocab_growth's published deciles (the ann_recall discipline — the
    * fit can never drift from the curve users see) into a log-log OLS
    * with the zipf_fit determinism recipe (log2 rounded once to 6,
    * products re-rounded, DECIMAL sums, one shared formula string for
    * both engines), and publishes the actionable number: the predicted
    * log2 vocabulary at 10× the current token count — what a 100 TB
    * ingest will do to the tokenizer.
    *
    * Scale: everything after vocab_growth's aggregates runs on a
    * 10-row frame; the only unbounded work is vocab_growth itself.
    *
    * On THIS driver corpus the vocabulary is closed (~31 types, all
    * seen in decile 0), so the fit honestly reports β = 0 with a flat
    * prediction — the saturation verdict, spec-pinned; on an open
    * natural corpus β lands near 0.4-0.6. */
  val heapsFit: Q = {
    val slopeRaw = Ols.slope
    val interceptRaw = Ols.intercept
    val lg10N = "CAST(round(log2(10.0 * n_total), 6) AS DOUBLE)"
    // `+ 0` normalizes IEEE signed zero: on a closed vocabulary the OLS
    // slope is a true 0 and DuckDB's round() preserves -0.0 where Spark
    // emits +0.0 — one bit, hash-divergent. Both dialects consume these
    // same strings so the normalization cannot drift.
    val betaF = s"(round($slopeRaw, 4) + 0)"
    val interceptF = s"(round($interceptRaw, 4) + 0)"
    val r2F = s"(round(${Ols.r2}, 4) + 0)"
    val predF = s"(round($interceptRaw + $slopeRaw * $lg10N, 4) + 0)"
    val finalSel =
      s"""SELECT CAST(nt AS BIGINT) AS n_points, n_total,
         |  $betaF AS beta,
         |  $interceptF AS intercept,
         |  $r2F AS r2,
         |  $predF AS pred_log2_vocab_10x""".stripMargin
    Q.sql(
      "heaps_fit",
      s"""WITH vg AS (${vocabGrowth.oracle.get}),
        |ct AS (SELECT decile, cum_types,
        |         sum(n_tokens) OVER (ORDER BY decile
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |       FROM vg),
        |pt AS (SELECT CAST(round(log2(cum_tok), 6) AS DECIMAL(18, 6)) AS x,
        |         CAST(round(log2(cum_types), 6) AS DECIMAL(18, 6)) AS y
        |       FROM ct),
        |a AS (SELECT count(*) AS nt, sum(x) AS sx, sum(y) AS sy,
        |        sum(CAST(round(x * y, 6) AS DECIMAL(18, 6))) AS sxy,
        |        sum(CAST(round(x * x, 6) AS DECIMAL(18, 6))) AS sxx,
        |        sum(CAST(round(y * y, 6) AS DECIMAL(18, 6))) AS syy
        |      FROM pt),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM vg)
        |$finalSel
        |FROM a CROSS JOIN tot""".stripMargin) { (s, d) =>
      val vg = vocabGrowth.fn(s, d)
      val cumW = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pt = vg
        .withColumn("cum_tok", sum("n_tokens").over(cumW))
        .select(
          expr("CAST(round(log2(cum_tok), 6) AS DECIMAL(18, 6))").as("x"),
          expr("CAST(round(log2(cum_types), 6) AS DECIMAL(18, 6))").as("y"))
      val a = pt.agg(
        count(lit(1)).as("nt"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(round(x * y, 6) AS DECIMAL(18, 6))")).as("sxy"),
        sum(expr("CAST(round(x * x, 6) AS DECIMAL(18, 6))")).as("sxx"),
        sum(expr("CAST(round(y * y, 6) AS DECIMAL(18, 6))")).as("syy"))
      val tot = vg.agg(sum("n_tokens").cast("long").as("n_total"))
      a.crossJoin(broadcast(tot)).selectExpr(
        "CAST(nt AS BIGINT) AS n_points", "n_total",
        s"$betaF AS beta",
        s"$interceptF AS intercept",
        s"$r2F AS r2",
        s"$predF AS pred_log2_vocab_10x")
    }
  }

  // -------------------------------------------- stopword profile --

  /** Per-source function-word fingerprint, self-calibrating: the
    * "stopword" set is the corpus's OWN top-5 tokens (no language
    * assumption — the head of any corpus's frequency curve plays the
    * function-word role), and each source is scored by (a) what share
    * of its tokens the set covers and (b) the total-variation distance
    * of its per-stopword shares from the corpus profile. A source whose
    * head-token profile diverges is template text, machine output, or a
    * scraper grabbing navigation chrome — the classic source-level
    * contamination smell that per-doc quality gates miss.
    *
    * Scale: (source, word) counts are ONE partial-agg groupBy bounded
    * at |sources|×|vocab|; the top-5 head is a global top-k heap
    * (TakeOrderedAndProject — never a full-vocab sort) broadcast back;
    * the profile grid is |sources|×5 rows. Shares rounded once to 6,
    * TVD summed over the DECIMAL grid (the audit_value_drift
    * discipline). */
  val stopwordProfile: Q = Q.sql(
    "stopword_profile",
    s"""WITH w AS (SELECT source, unnest(${duckWordList()}) AS word
      |       FROM documents),
      |sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
      |       FROM w GROUP BY 1, 2),
      |vocab AS (SELECT word, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY 1),
      |top5 AS (SELECT word, cw FROM vocab ORDER BY cw DESC, word LIMIT 5),
      |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens FROM sw GROUP BY 1),
      |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM vocab),
      |grid AS (SELECT st.source, st.n_tokens, t5.word, t5.cw,
      |           coalesce(sw.c, 0) AS c
      |         FROM st CROSS JOIN top5 t5
      |         LEFT JOIN sw ON sw.source = st.source AND sw.word = t5.word),
      |dev AS (SELECT source, n_tokens, c,
      |    abs(CAST(round(1.0 * c / n_tokens, 6) AS DECIMAL(18,6))
      |      - CAST(round(1.0 * cw / n_total, 6) AS DECIMAL(18,6))) AS d
      |  FROM grid CROSS JOIN tot)
      |SELECT source, n_tokens,
      |  CAST(sum(c) AS BIGINT) AS stop_tokens,
      |  round(1.0 * sum(c) / n_tokens, 4) AS stop_share,
      |  round(CAST(sum(d) AS DOUBLE) / 2, 6) AS tvd,
      |  CASE WHEN round(CAST(sum(d) AS DOUBLE) / 2, 6) > 0.02
      |    THEN 1 ELSE 0 END AS skewed
      |FROM dev GROUP BY source, n_tokens
      |ORDER BY source""".stripMargin) { (s, d) =>
    val dec = "decimal(18,6)"
    val sw = docs(s, d)
      .select(col("source"), explode(words).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val vocab = sw.groupBy("word").agg(sum("c").cast("long").as("cw"))
    val top5 = vocab.orderBy(col("cw").desc, col("word")).limit(5)
    val st = sw.groupBy("source").agg(sum("c").cast("long").as("n_tokens"))
    val tot = vocab.agg(sum("cw").cast("long").as("n_total"))
    val grid = st.crossJoin(broadcast(top5))
      .join(sw, Seq("source", "word"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    grid.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("c"),
        abs(round(lit(1.0) * col("c") / col("n_tokens"), 6).cast(dec)
          - round(lit(1.0) * col("cw") / col("n_total"), 6).cast(dec)).as("d"))
      .groupBy("source", "n_tokens")
      .agg(sum("c").cast("long").as("stop_tokens"),
        round(lit(1.0) * sum("c") / col("n_tokens"), 4).as("stop_share"),
        round(sum("d").cast("double") / 2, 6).as("tvd"))
      .withColumn("skewed", when(col("tvd") > 0.02, 1).otherwise(0))
      .select("source", "n_tokens", "stop_tokens", "stop_share", "tvd", "skewed")
      .orderBy("source")
  }

  // -------------------------------------- vocab coverage curve --

  /** Tokenizer-vocabulary sizing curve: per language, the share of
    * total token mass the top-k most frequent terms cover, at
    * k ∈ {10, 50, 100, 500, 1000} — the measurement that decides how
    * large a vocabulary (or how aggressive a BPE merge budget) a corpus
    * needs: a 0.99 share at k=500 says a small vocab suffices; a flat
    * curve says the tail matters and UNK rates will bite.
    *
    * Scale: (lang, term) counts partial-agg to |vocab|; ranks ride the
    * zipf_fit TWO-PHASE top-k (per-(lang, bucket) pre-pass keeps ≤1000,
    * the global per-lang rank sees only survivors — the full vocabulary
    * never lands in one partition); coverages are conditional sums on
    * the ≤1000-per-lang ranked set against per-lang totals from the
    * full count table. Exact BIGINT/BIGINT ratios rounded once. */
  val vocabCoverage: Q = Q.sql(
    "vocab_coverage",
    s"""WITH $duckTermRanks,
       |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
       |        CAST(sum(c) AS BIGINT) AS n_tokens
       |      FROM lc GROUP BY 1),
       |cv AS (SELECT lang,
       |    CAST(sum(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS BIGINT) AS c10,
       |    CAST(sum(CASE WHEN rnk <= 50 THEN c ELSE 0 END) AS BIGINT) AS c50,
       |    CAST(sum(CASE WHEN rnk <= 100 THEN c ELSE 0 END) AS BIGINT) AS c100,
       |    CAST(sum(CASE WHEN rnk <= 500 THEN c ELSE 0 END) AS BIGINT) AS c500,
       |    CAST(sum(CASE WHEN rnk <= 1000 THEN c ELSE 0 END) AS BIGINT) AS c1000
       |  FROM r WHERE rnk <= 1000 GROUP BY 1)
       |SELECT t.lang, n_types, n_tokens,
       |  round(1.0 * c10 / n_tokens, 4) AS cov10,
       |  round(1.0 * c50 / n_tokens, 4) AS cov50,
       |  round(1.0 * c100 / n_tokens, 4) AS cov100,
       |  round(1.0 * c500 / n_tokens, 4) AS cov500,
       |  round(1.0 * c1000 / n_tokens, 4) AS cov1000
       |FROM cv JOIN t ON cv.lang = t.lang
       |ORDER BY t.lang""".stripMargin) { (s, d) =>
    val lc = langTermCounts(s, d)
    val t = lc.groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_types"),
        sum("c").cast("long").as("n_tokens"))
    val ranked = topTermRanks(lc)
    def covc(k: Int) =
      sum(when(col("rnk") <= k, col("c")).otherwise(0L)).cast("long")
    val cv = ranked.groupBy("lang")
      .agg(covc(10).as("c10"), covc(50).as("c50"), covc(100).as("c100"),
        covc(500).as("c500"), covc(1000).as("c1000"))
    cv.join(t, Seq("lang"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        round(lit(1.0) * col("c10") / col("n_tokens"), 4).as("cov10"),
        round(lit(1.0) * col("c50") / col("n_tokens"), 4).as("cov50"),
        round(lit(1.0) * col("c100") / col("n_tokens"), 4).as("cov100"),
        round(lit(1.0) * col("c500") / col("n_tokens"), 4).as("cov500"),
        round(lit(1.0) * col("c1000") / col("n_tokens"), 4).as("cov1000"))
      .orderBy("lang")
  }

  // -------------------------------------------- vocab overlap --

  /** Cross-language vocabulary sharing matrix: per language pair, the
    * shared type count with containment (share of the smaller vocab)
    * and Jaccard — the measurement behind the shared-vocab decision (one
    * multilingual tokenizer vs per-language): high containment means a
    * shared subword inventory amortizes, near-zero means shared merges
    * waste vocab slots on one side. Complements corpus_temperature
    * (which sizes the MIX) with the script/lexicon geometry.
    *
    * Scale: the distinct (lang, term) table is ONE partial-agg pass; the
    * pair join is a term equi-join of two vocab-scaling sides (both
    * partial-agged, NO broadcast hint — AQE size-gates); the matrix
    * rolls up to ≤ |langs|² rows and per-lang type counts broadcast.
    * Ratios are exact BIGINT quotients rounded once. */
  val vocabOverlap: Q = Q.sql(
    "vocab_overlap",
    s"""WITH lt AS (SELECT DISTINCT lang, unnest(${duckWordList()}) AS term
      |       FROM documents),
      |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types FROM lt GROUP BY 1),
      |p AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
      |        CAST(count(*) AS BIGINT) AS shared
      |      FROM lt a JOIN lt b ON a.term = b.term AND a.lang < b.lang
      |      GROUP BY 1, 2)
      |SELECT lang_a, lang_b, na.n_types AS types_a, nb.n_types AS types_b,
      |  shared,
      |  round(1.0 * shared / least(na.n_types, nb.n_types), 4) AS containment,
      |  round(1.0 * shared / (na.n_types + nb.n_types - shared), 4) AS jaccard
      |FROM p
      |JOIN n na ON na.lang = p.lang_a
      |JOIN n nb ON nb.lang = p.lang_b
      |ORDER BY lang_a, lang_b""".stripMargin) { (s, d) =>
    val lt = docs(s, d)
      .select(col("lang"), explode(words).as("term"))
      .distinct()
    val n = lt.groupBy("lang").agg(count(lit(1)).cast("long").as("n_types"))
    val p = lt.select(col("lang").as("lang_a"), col("term"))
      .join(lt.select(col("lang").as("lang_b"), col("term")), Seq("term"))
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).cast("long").as("shared"))
    p.join(broadcast(n.select(col("lang").as("lang_a"), col("n_types").as("types_a"))),
        Seq("lang_a"))
      .join(broadcast(n.select(col("lang").as("lang_b"), col("n_types").as("types_b"))),
        Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("types_a"), col("types_b"),
        col("shared"),
        round(lit(1.0) * col("shared") / least(col("types_a"), col("types_b")), 4)
          .as("containment"),
        round(lit(1.0) * col("shared")
          / (col("types_a") + col("types_b") - col("shared")), 4).as("jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  // ---------------------------------------- bigram LM perplexity --

  /** The bigram model both bigram perplexities share: the per-text
    * (gram, w1, w2) tf table `dtf` over distinct texts, the bigram counts
    * `bc`, each bigram scored by `bitsF` against the per-w1 table, per-w2
    * table and one-row scalar that `model` builds from the word frame
    * `w` (tkey, m, ws) and `bc`, then per-doc bits/bigram and perplexity.
    *
    * Two collapses (the corpus_perplexity posture): distinct texts with
    * multiplicity-weighted model counts, and gram/word strings folded to
    * 128-bit Hash128 ids in the source projection — the persisted tf
    * table and every model join carry fixed-width keys over
    * 1/dup-factor of the mass; strings exist only inside the stage that
    * explodes them. gid determines (w1, w2), so grouping carries them for
    * free. A doc with < 2 words has no bigram rows and drops out of the
    * expansion join — exactly the naive shape. */
  private def bigramPpl(s: SparkSession, d: String, bitsF: String)(
      model: (DataFrame, DataFrame) => (DataFrame, DataFrame, DataFrame)): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val (keyed, dist) = distinctTexts(docs(s, d))
    val w = dist.select(col("tkey"), col("m"), words.as("ws"))
    val dtf = w.select(col("tkey"), col("m"), grams(2).as("gram"))
      .select(col("tkey"), col("m"), graft.Hash128.key128(col("gram")).as("gid"),
        graft.Hash128.key128(expr("split_part(gram, ' ', 1)")).as("w1"),
        graft.Hash128.key128(expr("split_part(gram, ' ', 2)")).as("w2"))
      .groupBy("tkey", "m", "gid", "w1", "w2").agg(count(lit(1)).cast("long").as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bc = dtf.groupBy("gid", "w1", "w2")
      .agg(sum(col("tf") * col("m")).cast("long").as("cbg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (w1c, w2c, scalar) = model(w, bc)
    val scored = dtf
      .join(bc.select("gid", "cbg"), Seq("gid"))
      .join(w1c, Seq("w1"))
      .join(w2c, Seq("w2"))
      .crossJoin(broadcast(scalar))
      .withColumn("bits", expr(bitsF))
    // half-up mean in integer micro-bits — bits is rounded at 6, so
    // tf·round(bits·1e6) is an exact BIGINT and (2s + n·100) div (2n·100)
    // is the half-up 4-decimal mean with no double near a tie (the
    // q_revenue_ma7 discipline; a double round here flipped at sf1)
    val per = scored.groupBy("tkey")
      .agg(sum("tf").cast("long").as("n_bigrams"),
        sum(col("tf") * expr("CAST(round(bits * 1000000, 0) AS BIGINT)"))
          .cast("long").as("sum_micro"))
    keyed.join(per, Seq("tkey"))
      .select(col("doc_id"), col("n_bigrams"),
        (expr("(2 * sum_micro + n_bigrams * 100) div (2 * n_bigrams * 100)")
          .cast("double") / 10000).as("bits_per_bigram"))
      .withColumn("ppl", round(pow(lit(2), col("bits_per_bigram")), 2))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bigramPpl]]: `w` (key, m, ws), the tf table `dtf`,
    * the bigram counts `bc`, the `model` CTEs, each bigram scored by
    * `bitsF` through `joins`, and the same integer half-up per-doc mean.
    * Doc-level (m = 1) by default; `collapsed` scores one representative
    * per distinct text and expands through the doc map — the scale twin,
    * since the naive token/bigram explode is corpus-sized and exceeds
    * single-box DuckDB at the 1000x gate. */
  private def duckBigramPpl(bitsF: String, model: String, joins: String,
      collapsed: Boolean = false): String = {
    val (head, key, from) =
      if (collapsed) (s"$duckDocGroups,\n${duckWords("gid, m", "grp")}", "gid",
        "agg JOIN gmr USING (gid)")
      else (duckWords("doc_id, 1 AS m"), "doc_id", "agg")
    s"""WITH $head,
       |db AS (SELECT $key, m, unnest(${duckGrams(2)}) AS gram FROM w),
       |dtf AS MATERIALIZED (SELECT $key, m, gram, CAST(count(*) AS BIGINT) AS tf
       |        FROM db GROUP BY 1, 2, 3),
       |bc AS MATERIALIZED (SELECT gram, CAST(sum(tf * m) AS BIGINT) AS cbg
       |        FROM dtf GROUP BY 1),
       |$model,
       |sc AS (SELECT d.$key, d.tf, $bitsF AS bits
       |       FROM dtf d
       |       JOIN bc ON d.gram = bc.gram
       |       $joins),
       |agg AS (SELECT $key, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |          CAST(sum(tf * CAST(round(bits * 1000000, 0) AS BIGINT)) AS BIGINT)
       |            AS sum_micro
       |        FROM sc GROUP BY 1)
       |SELECT doc_id, n_bigrams,
       |  CAST((2 * sum_micro + n_bigrams * 100) // (2 * n_bigrams * 100) AS DOUBLE)
       |    / 10000 AS bits_per_bigram,
       |  round(pow(2, CAST((2 * sum_micro + n_bigrams * 100) // (2 * n_bigrams * 100)
       |    AS DOUBLE) / 10000), 2) AS ppl
       |FROM $from ORDER BY doc_id""".stripMargin
  }

  /** Bigram-LM document scoring — the conditional upgrade of
    * corpus_perplexity's unigram model: P(w₂|w₁) interpolated with the
    * unigram floor (λ=0.8 bigram MLE + 0.2 unigram — the Jelinek-Mercer
    * smoothing that keeps unseen-context probability finite), per-doc
    * bits/bigram and perplexity. A unigram model scores word salad and
    * fluent text alike if the word mix matches; the bigram conditional
    * is what actually separates them — the stronger "looks like the
    * corpus" quality signal.
    *
    * Scale: the per-(doc, gram) tf table persists MEMORY_AND_DISK (read
    * by the model aggregation AND the scoring pass — the perplexity
    * posture); the bigram model likewise (read by the context-count agg
    * AND the probe); model joins shuffle on gram/term with partial aggs
    * both sides (vocabulary scales — no broadcast); only the 1-row token
    * total broadcasts. Probability is ONE shared expression over exact
    * integer counts; surprisal rounded once, weighted by integer tf,
    * summed as DECIMAL. */
  val corpusBigramPpl: Q = {
    val bitsF = "round(-log2(0.8 * cbg / cw1 + 0.2 * cu / n), 6)"
    val model =
      """ug AS (SELECT m, unnest(ws) AS term FROM w),
        |uc AS (SELECT term, CAST(sum(m) AS BIGINT) AS cu FROM ug GROUP BY 1),
        |nt AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uc),
        |w1c AS (SELECT split_part(gram, ' ', 1) AS w1,
        |          CAST(sum(cbg) AS BIGINT) AS cw1 FROM bc GROUP BY 1)""".stripMargin
    val joins =
      """JOIN w1c ON split_part(d.gram, ' ', 1) = w1c.w1
        |       JOIN uc ON split_part(d.gram, ' ', 2) = uc.term
        |       CROSS JOIN nt""".stripMargin
    Q.sqlDual("corpus_bigram_ppl", duckBigramPpl(bitsF, model, joins),
      duckBigramPpl(bitsF, model, joins, collapsed = true)) { (s, d) =>
      bigramPpl(s, d, bitsF) { (w, bc) =>
        val uc = w.select(col("m"), explode(col("ws")).as("term"))
          .select(col("m"), graft.Hash128.key128(col("term")).as("w2"))
          .groupBy("w2").agg(sum("m").cast("long").as("cu"))
        (bc.groupBy("w1").agg(sum("cbg").cast("long").as("cw1")), uc,
          uc.agg(sum("cu").cast("long").as("n")))
      }
    }
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; Chen
    * & Goodman 1999's standard formulation): absolute discount D = 0.75
    * on the bigram MLE, with the stolen mass routed to the CONTINUATION
    * probability — p_cont(w) ∝ how many distinct left neighbors w has,
    * not how often w occurs (the "San Francisco" correction: 'Francisco'
    * is frequent but predictable, so it makes a poor novel-context
    * guess). [[corpusBigramPpl]] scores with fixed 0.8/0.2 unigram
    * interpolation — the CCNet-style quality signal; this is the
    * higher-fidelity LM the two should be compared on before
    * perplexity-filtering a corpus (a doc ranked differently by the two
    * models is exactly the smoothing-sensitive tail).
    *
    * Scale shape: identical to [[corpusBigramPpl]] ([[bigramPpl]]); the
    * model tables (left-context totals + continuation-type counts per w1,
    * left-neighbor-type counts per w2, one scalar) are vocab²-bounded
    * partial aggregates joined ON THE GRAM (never broadcast — vocabulary
    * grows with the corpus). cbg weights by m, while k1/nl/bb count
    * DISTINCT gram types — a twin doc introduces no new type, so the
    * group-level bc yields them exactly.
    *
    * Determinism: counts are exact integers; D subtraction (x−0.75) is
    * exact in binary; the probability is one fixed-parenthesization
    * double expression quarantined behind round(−log2(…), 6). */
  val corpusKnPpl: Q = {
    val bitsF = "round(-log2(greatest(cbg - 0.75e0, 0e0) / cw1" +
      " + (0.75e0 * k1 / cw1) * (nl * 1e0 / bb)), 6)"
    val model =
      """w1c AS (SELECT split_part(gram, ' ', 1) AS w1,
        |          CAST(sum(cbg) AS BIGINT) AS cw1,
        |          CAST(count(*) AS BIGINT) AS k1
        |        FROM bc GROUP BY 1),
        |nlc AS (SELECT split_part(gram, ' ', 2) AS w2,
        |          CAST(count(*) AS BIGINT) AS nl
        |        FROM bc GROUP BY 1),
        |bt AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM bc)""".stripMargin
    val joins =
      """JOIN w1c ON split_part(d.gram, ' ', 1) = w1c.w1
        |       JOIN nlc ON split_part(d.gram, ' ', 2) = nlc.w2
        |       CROSS JOIN bt""".stripMargin
    Q.sqlDual("corpus_kn_ppl", duckBigramPpl(bitsF, model, joins),
      duckBigramPpl(bitsF, model, joins, collapsed = true)) { (s, d) =>
      bigramPpl(s, d, bitsF) { (_, bc) =>
        (bc.groupBy("w1").agg(sum("cbg").cast("long").as("cw1"),
            count(lit(1)).cast("long").as("k1")),
          bc.groupBy("w2").agg(count(lit(1)).cast("long").as("nl")),
          bc.agg(count(lit(1)).cast("long").as("bb")))
      }
    }
  }

  // -------------------------------------------- curriculum order --

  /** Curriculum-training order plan: each document gets a difficulty
    * score (length-saturating term + repetition term — short, varied
    * text first; long, repetitive text last), a phase (3 fixed
    * difficulty bands), and a deterministic within-phase serving key
    * (md5 content hash — the RNG-free shuffle every curriculum loader
    * needs for reproducible epochs). A writer materializes the schedule
    * by range-partitioning on (phase, order_key); this op IS that plan.
    *
    * Scale: pure per-row projection — no aggregate, no window, no join;
    * fixed difficulty bands rather than score quantiles precisely so no
    * global rank over the corpus is ever needed (the quantile version
    * of this op is what token_length_quantiles' histogram trick would
    * give; bands are the 100 TB default). Score arithmetic is integer
    * basis points end-to-end — both engines bit-equal at any scale. */
  val curriculumOrder: Q = Q.sql(
    "curriculum_order",
    s"""WITH f AS (
      |  SELECT doc_id, lang,
      |    len(${duckWordList()}) AS n_words,
      |    len(list_distinct(${duckWordList()})) AS n_distinct,
      |    substr(md5(text), 1, 8) AS order_key
      |  FROM documents),
      |s AS (SELECT doc_id, lang, n_words, order_key,
      |    (7 * least(n_words * 100, 10000)
      |      + 3 * (10000 - n_distinct * 10000 // n_words)) // 10 AS bp
      |  FROM f)
      |SELECT doc_id, lang, n_words,
      |  CAST(bp AS DOUBLE) / 10000 AS difficulty,
      |  CASE WHEN bp < 4000 THEN 1
      |       WHEN bp < 7000 THEN 2 ELSE 3 END AS phase,
      |  order_key
      |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
    // difficulty in integer basis points end-to-end — length term
    // min(n_words·100, 10000), repetition term 10000 − floor(ttr·10000) —
    // so no engine ever rounds a double near a band boundary (a scale-4
    // double round here flipped at sf1); the published double is an
    // exact int/10⁴ quotient, identical IEEE both sides
    val f = docs(s, d)
      .select(col("doc_id"), col("lang"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct"),
        substring(md5(col("text")), 1, 8).as("order_key"))
    f.withColumn("bp",
        expr("""(7 * least(n_words * 100, 10000)
          | + 3 * (10000 - n_distinct * 10000 div n_words)) div 10""".stripMargin))
      .select(col("doc_id"), col("lang"), col("n_words"),
        (col("bp").cast("double") / 10000).as("difficulty"),
        when(col("bp") < 4000, 1)
          .when(col("bp") < 7000, 2).otherwise(3).as("phase"),
        col("order_key"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- rule ablation --

  /** Per-rule ablation of the quality gate: for each rule in the battery,
    * how many documents it flags at all (`n_flagged`), how many it alone
    * rejects (`n_sole_reject` — docs that would pass the conjunction were
    * this one rule dropped), the token mass those sole-rejects hold
    * (`words_recoverable`), and the corpus pass rate with and without the
    * rule. This is the "killer rule" audit run before tightening or
    * loosening any gate threshold: a rule with large `n_flagged` but tiny
    * `n_sole_reject` is redundant with the rest of the battery, while a
    * rule carrying most of its flags alone is the one actually shaping
    * the corpus. Reads the SAME flag battery as quality_filter
    * ([[ruleFlags]] — single source), so the ablation can never drift
    * from the gate it prices.
    *
    * Scale: one pure per-row map (the flag battery — no shuffle) into ONE
    * global partial aggregate producing every per-rule counter as a
    * column; the |rules|-row unpivot happens on that 1-row frame. No
    * per-doc row survives the aggregate. */
  val qualityAblation: Q = {
    val nf = ruleFlags.map(_._1).mkString(" + ")
    val aggsSql = ruleFlags.map { case (n, _) =>
      s"""CAST(sum($n) AS BIGINT) AS f_$n,
         |    CAST(sum(CASE WHEN $n = 1 AND n_failed = 1 THEN 1 ELSE 0 END) AS BIGINT) AS s_$n,
         |    CAST(sum(CASE WHEN $n = 1 AND n_failed = 1 THEN n_words ELSE 0 END) AS BIGINT) AS w_$n""".stripMargin
    }.mkString(",\n    ")
    val unionSql = ruleFlags.map { case (n, _) =>
      s"SELECT '$n' AS rule, f_$n AS n_flagged, s_$n AS n_sole_reject, w_$n AS words_recoverable, n_docs, n_passed FROM a"
    }.mkString("\n  UNION ALL ")
    Q.sql(
      "quality_ablation",
      s"""WITH ${duckQualityFlags("doc_id")},
        |x AS (SELECT *, $nf AS n_failed FROM r),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN n_failed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
        |    $aggsSql
        |  FROM x),
        |u AS ($unionSql)
        |SELECT rule, n_flagged, n_sole_reject, words_recoverable, n_docs, n_passed,
        |  round(1.0 * n_passed / n_docs, 4) AS pass_rate,
        |  round(1.0 * (n_passed + n_sole_reject) / n_docs, 4) AS pass_rate_without
        |FROM u ORDER BY rule""".stripMargin) { (s, d) =>
      val x = withQualityFlags(docs(s, d))
        .withColumn("n_failed", ruleFlags.map(f => col(f._1)).reduce(_ + _))
      val aggCols = Seq(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("n_failed") === 0, 1).otherwise(0)).cast("long").as("n_passed")) ++
        ruleFlags.flatMap { case (n, _) => Seq(
          sum(col(n)).cast("long").as(s"f_$n"),
          sum(when(col(n) === 1 && col("n_failed") === 1, 1).otherwise(0))
            .cast("long").as(s"s_$n"),
          sum(when(col(n) === 1 && col("n_failed") === 1, col("n_words")).otherwise(0))
            .cast("long").as(s"w_$n"))
        }
      val stackArgs = ruleFlags
        .map { case (n, _) => s"'$n', f_$n, s_$n, w_$n" }.mkString(", ")
      x.agg(aggCols.head, aggCols.tail: _*)
        .select(
          expr(s"stack(${ruleFlags.size}, $stackArgs) AS (rule, n_flagged, n_sole_reject, words_recoverable)"),
          col("n_docs"), col("n_passed"))
        .select(col("rule"), col("n_flagged"), col("n_sole_reject"),
          col("words_recoverable"), col("n_docs"), col("n_passed"),
          round(lit(1.0) * col("n_passed") / col("n_docs"), 4).as("pass_rate"),
          round(lit(1.0) * (col("n_passed") + col("n_sole_reject")) / col("n_docs"), 4)
            .as("pass_rate_without"))
        .orderBy("rule")
    }
  }

  // ------------------------------------------- importance weighting --

  /** Hashed-feature bucket count (DSIR's n-gram feature space): the
    * shared md5-prefix word hash folded into a fixed-size table, so the
    * model side of the scorer is bounded regardless of corpus size. */
  private val DsirB = 1024

  /** Per-bucket importance log-ratio λ_b = log2(p_target(b) / p_raw(b))
    * with add-1 smoothing over the $DsirB buckets — the only float op in
    * the DSIR pipeline, quarantined behind one round(…, 6) exactly like
    * [[surprisalFormula]]; `1e0` (not `1.0`) forces DOUBLE in both
    * dialects (the bm25 decimal-literal lesson). Inputs ct/cr/tt/tr are
    * exact BIGINTs < 2^53, so the quotient's operands are bit-identical
    * across engines. */
  private val dsirLamFormula =
    s"round(log2(((ct + 1e0) * (tr + $DsirB)) / ((cr + 1e0) * (tt + $DsirB))), 6)"

  /** Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    * arXiv:2302.03169), the standard recipe for "give me more data that
    * looks like this target domain": score every document by the
    * log-likelihood ratio of its hashed-unigram bag under a target-slice
    * bucket LM vs the raw-corpus bucket LM (here target = the `en`
    * slice), and mark for selection the docs whose PER-TOKEN score beats
    * the corpus-average per-token score. The deterministic variant of
    * DSIR's Gumbel resampling: the threshold is the corpus mean, checked
    * by exact integer cross-multiplication (dsir_micro·Σtokens >
    * n_tokens·Σmicro) — no float division, no order statistic, and the
    * negative-score floor/trunc divergence between engines never arises
    * because nothing divides.
    *
    * Scale shape: ONE corpus scan partial-aggregates to the
    * (doc, bucket, count) frame (persisted MEMORY_AND_DISK — read by the
    * raw-count agg, the target-count agg, and the scoring join); both
    * bucket LMs and the λ table are ≤ $DsirB rows (broadcast); the score
    * join is tf ⋈ broadcast(λ) with per-doc partial aggregation, and the
    * selection threshold is a 1-row broadcast. The corpus never shuffles
    * on anything but its own doc/bucket keys, and the model side stays
    * O($DsirB) at 100 TB. Determinism: λ rounded once to 6 decimals then
    * DECIMAL(18,6); per-doc score = Σ c·λ summed as DECIMAL (exact,
    * order-independent), scaled to integer micro-bits. */
  val corpusDsir: Q = Q.sql(
    "corpus_dsir",
    s"""WITH t AS (SELECT doc_id, lang, unnest(${duckWordList()}) AS term
      |           FROM documents),
      |f AS (SELECT doc_id, lang, ${TextOps.duckWordHash("term")} % $DsirB AS b,
      |        count(*) AS c
      |      FROM t WHERE length(term) > 0 GROUP BY 1, 2, 3),
      |r AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM f GROUP BY 1),
      |tg AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM f
      |       WHERE lang = 'en' GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM r) AS tr,
      |               (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tg) AS tt),
      |j AS (SELECT r.b, r.cr, coalesce(tg.ct, 0) AS ct, tot.tr, tot.tt
      |      FROM r LEFT JOIN tg ON r.b = tg.b CROSS JOIN tot),
      |lam AS (SELECT b, CAST($dsirLamFormula AS DECIMAL(18, 6)) AS lam FROM j),
      |d AS (SELECT f.doc_id, f.lang, CAST(sum(f.c) AS BIGINT) AS n_tokens,
      |        CAST(sum(f.c * lam.lam) * 1000000 AS BIGINT) AS dsir_micro
      |      FROM f JOIN lam ON f.b = lam.b GROUP BY 1, 2),
      |dt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
      |              CAST(sum(dsir_micro) AS BIGINT) AS tot_micro FROM d)
      |SELECT doc_id, lang, n_tokens, dsir_micro,
      |  CAST(dsir_micro AS DOUBLE) / 1000000 AS dsir_bits,
      |  CAST(CASE WHEN CAST(dsir_micro AS HUGEINT) * tot_tokens
      |            > CAST(n_tokens AS HUGEINT) * tot_micro
      |       THEN 1 ELSE 0 END AS BIGINT) AS selected
      |FROM d CROSS JOIN dt ORDER BY doc_id""".stripMargin) { (s, d) =>
    val f = docs(s, d)
      .select(col("doc_id"), col("lang"),
        explode(words).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("doc_id"), col("lang"),
        (expr(TextOps.sparkWordHash("term")) % DsirB).as("b"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = f.groupBy("b").agg(sum("c").cast("long").as("cr"))
    val tg = f.filter(col("lang") === "en")
      .groupBy("b").agg(sum("c").cast("long").as("ct"))
    // corpus totals tr/tt ride unpivoted windows over the ≤ B-row bucket
    // frame (the unigram-rewrite lesson: a bounded aggregate's total is a
    // window column, not a separate agg → broadcast hop) — same exact
    // integer sums the former 2-agg crossJoin produced
    val allW = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val lam = r.join(tg, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .withColumn("tr", sum("cr").over(allW).cast("long"))
      .withColumn("tt", sum("ct").over(allW).cast("long"))
      .select(col("b"), expr(dsirLamFormula).cast("decimal(18,6)").as("lam"))
    val d2 = f.join(broadcast(lam), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(sum("c").cast("long").as("n_tokens"),
        (sum(col("c") * col("lam")) * 1000000).cast("long").as("dsir_micro"))
    val dt = d2.agg(sum("n_tokens").cast("long").as("tot_tokens"),
      sum("dsir_micro").cast("long").as("tot_micro"))
    d2.crossJoin(broadcast(dt))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_micro"),
        (col("dsir_micro").cast("double") / 1000000).as("dsir_bits"),
        when(col("dsir_micro").cast("decimal(38,0)") * col("tot_tokens")
          > col("n_tokens").cast("decimal(38,0)") * col("tot_micro"), 1L)
          .otherwise(0L).as("selected"))
      .orderBy("doc_id")
  }

  /** Per-term surprisal under a DOMAIN's own unigram distribution — the
    * [[surprisalFormula]] shape over that domain's count/total columns. */
  private val ownSurprisalFormula =
    "round(-log2((1e0 * c) / nd), 6)"

  /** One DoReMi-style domain-reweighting step (Xie et al. 2023,
    * arXiv:2305.10429): for each domain (lang), measure the excess
    * per-token cross-entropy of the SHARED corpus unigram LM over the
    * domain's OWN unigram LM — exactly KL(domain ‖ corpus) per token,
    * the "this domain is underserved by the current mixture" signal —
    * and take one exponentiated-gradient step on the mixture weights:
    * w_d ∝ token_share_d · exp(excess_d), normalized. corpus_mix and
    * corpus_temperature EXECUTE given weights; this op is the step that
    * DECIDES them.
    *
    * Scale shape: one corpus scan partial-aggregates to the
    * (lang, term, c) frame (persisted MEMORY_AND_DISK — read by the
    * corpus-LM agg, the domain-total agg, and the scoring join); the
    * corpus LM is vocab-bounded and joined ON TERM with partial agg on
    * both sides (never broadcast — vocabulary grows with the corpus);
    * domain totals and the weight update are ≤ |langs| rows. Output is
    * |langs| rows however large the corpus.
    *
    * Determinism: both surprisals are rounded once to 6 then
    * DECIMAL-summed exactly (the [[corpusPerplexity]] discipline); the
    * per-token quotients, exp boost, and weight normalization divide
    * exact integers / exact decimals as IEEE doubles and round once —
    * identical bit patterns in both engines. */
  val corpusDoremi: Q = Q.sql(
    "corpus_doremi",
    s"""WITH t AS (SELECT lang, unnest(${duckWordList()}) AS term
      |           FROM documents),
      |tf AS (SELECT lang, term, count(*) AS c FROM t GROUP BY 1, 2),
      |gt AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM gt),
      |dn AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nd FROM tf GROUP BY 1),
      |sc AS (SELECT tf.lang,
      |         tf.c * CAST($surprisalFormula AS DECIMAL(18, 6)) AS shared_contrib,
      |         tf.c * CAST($ownSurprisalFormula AS DECIMAL(18, 6)) AS own_contrib
      |       FROM tf JOIN gt ON tf.term = gt.term
      |         JOIN dn ON tf.lang = dn.lang CROSS JOIN tot),
      |agg AS (SELECT lang,
      |          CAST(sum(shared_contrib) * 1000000 AS BIGINT) AS shared_micro,
      |          CAST(sum(own_contrib) * 1000000 AS BIGINT) AS own_micro
      |        FROM sc GROUP BY 1),
      |x AS (SELECT agg.lang, dn.nd,
      |        CAST((SELECT nt FROM tot) AS BIGINT) AS nt,
      |        round(CAST(shared_micro AS DOUBLE) / (1000000e0 * nd), 6) AS xent_shared,
      |        round(CAST(own_micro AS DOUBLE) / (1000000e0 * nd), 6) AS xent_own,
      |        round(CAST(shared_micro - own_micro AS DOUBLE) / (1000000e0 * nd), 6)
      |          AS excess_bits
      |      FROM agg JOIN dn ON agg.lang = dn.lang),
      |u AS (SELECT lang, nd, xent_shared, xent_own, excess_bits,
      |        CAST(round((1e0 * nd) / nt, 6) AS DECIMAL(18, 6)) AS ref_weight,
      |        CAST(round(exp(excess_bits), 6) AS DECIMAL(18, 6)) AS boost
      |      FROM x),
      |n AS (SELECT sum(ref_weight * boost) AS z FROM u)
      |SELECT lang, nd AS n_tokens,
      |  CAST(ref_weight AS DOUBLE) AS ref_weight,
      |  xent_shared, xent_own, excess_bits,
      |  CAST(boost AS DOUBLE) AS boost,
      |  round(CAST(ref_weight * boost AS DOUBLE) / CAST(z AS DOUBLE), 6)
      |    AS new_weight
      |FROM u CROSS JOIN n ORDER BY lang""".stripMargin) { (s, d) =>
    val tf = docs(s, d)
      .select(col("lang"), explode(words).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gt = tf.groupBy("term").agg(sum("c").cast("long").as("ct"))
    val tot = gt.agg(sum("ct").cast("long").as("nt"))
    val dn = tf.groupBy("lang").agg(sum("c").cast("long").as("nd"))
    val agg = tf.join(gt, Seq("term"))
      .join(broadcast(dn), Seq("lang"))
      .crossJoin(broadcast(tot))
      .select(col("lang"),
        (col("c") * expr(surprisalFormula).cast("decimal(18,6)")).as("shared_contrib"),
        (col("c") * expr(ownSurprisalFormula).cast("decimal(18,6)")).as("own_contrib"))
      .groupBy("lang")
      .agg((sum("shared_contrib") * 1000000).cast("long").as("shared_micro"),
        (sum("own_contrib") * 1000000).cast("long").as("own_micro"))
    val x = agg.join(broadcast(dn), Seq("lang"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("nd"),
        round(col("shared_micro").cast("double") / (lit(1000000e0) * col("nd")), 6)
          .as("xent_shared"),
        round(col("own_micro").cast("double") / (lit(1000000e0) * col("nd")), 6)
          .as("xent_own"),
        round((col("shared_micro") - col("own_micro")).cast("double")
          / (lit(1000000e0) * col("nd")), 6).as("excess_bits"),
        round(lit(1e0) * col("nd") / col("nt"), 6).cast("decimal(18,6)")
          .as("ref_weight"))
      .withColumn("boost", round(exp(col("excess_bits")), 6).cast("decimal(18,6)"))
    val z = x.agg(sum(col("ref_weight") * col("boost")).as("z"))
    x.crossJoin(broadcast(z))
      .select(col("lang"), col("nd").as("n_tokens"),
        col("ref_weight").cast("double").as("ref_weight"),
        col("xent_shared"), col("xent_own"), col("excess_bits"),
        col("boost").cast("double").as("boost"),
        round((col("ref_weight") * col("boost")).cast("double")
          / col("z").cast("double"), 6).as("new_weight"))
      .orderBy("lang")
  }

  /** Hashed-feature bucket count for the NB quality classifier — small
    * enough that the 2·B-weight model broadcasts, large enough that the
    * synthetic vocabulary doesn't alias every word into the same cell. */
  private val NbB = 512

  /** Per-bucket NB log-likelihood-ratio weight and class prior — the
    * shared formula strings (the [[dsirLamFormula]] discipline: log2
    * quarantined behind one round(…, 6), everything downstream exact). */
  private val nbWeightFormula =
    s"round(log2(((c1 + 1e0) * (t0 + $NbB)) / ((c0 + 1e0) * (t1 + $NbB))), 6)"
  private val nbPriorFormula = "round(log2((n1 + 1e0) / (n0 + 1e0)), 6)"

  /** Model-based quality filter: a multinomial Naive Bayes classifier
    * over hashed unigrams PLUS quantized side-features, distilled from
    * the [[qualityFilter]] rule battery — the CCNet/fastText recipe
    * (Wenzek et al. 2020, arXiv:1911.00359: train a cheap linear model
    * on labeled text, score everything) re-expressed as pure
    * aggregation. Labels = the rule battery's verdict; training slice =
    * doc_id % 5 ≠ 0; EVERY doc is scored and carries `held_out` so the
    * 20% slice measures real generalization (a doc the rules fail but
    * the model passes is exactly the borderline text a hard threshold
    * mis-handles). Side-features are the fastText trick: length, TTR,
    * mean-word-length and stopword-count buckets enter the bag as
    * presence tokens in RESERVED NEGATIVE buckets (integer quantization
    * only — exact in both engines), so the model can actually see the
    * signals the rules threshold on instead of guessing them from
    * hashed-unigram residue.
    *
    * Scale shape (the [[corpusDsir]] posture): ONE corpus scan computes
    * the rule flags and explodes tokens → persisted (doc, label, bucket,
    * count) frame; the model is ≤ 2·($NbB + 60) bucket counts + 2 priors
    * — O(B) rows broadcast however large the corpus — and scoring is a
    * map-side join on the bucket. Nothing but the token histogram ever
    * shuffles, and it partial-aggregates on (doc, b).
    *
    * Determinism: per-bucket weights and the prior are log2 rationals
    * rounded once to 6 decimals and cast DECIMAL(18,6); per-doc margins
    * are exact integer-weighted DECIMAL sums published in micro-bits
    * (BIGINT) — no float accumulation anywhere, so the sign (= the
    * verdict) is bit-stable in both engines. */
  val qualityNb: Q = Q.sql(
    "quality_nb",
    s"""WITH lab AS (
      |  SELECT doc_id, text, n_words, n_distinct, word_chars, n_stop,
      |    CAST(CASE WHEN $passAllSql THEN 1 ELSE 0 END AS BIGINT) AS heur_pass
      |  FROM (SELECT doc_id, text, $duckQualityFeatures FROM documents)),
      |t AS (SELECT doc_id, heur_pass, unnest(${duckWordList()}) AS term
      |      FROM lab),
      |tf AS (SELECT doc_id, heur_pass,
      |        ${TextOps.duckWordHash("term")} % $NbB AS b, count(*) AS c
      |      FROM t WHERE length(term) > 0 GROUP BY 1, 2, 3),
      |ps AS (SELECT doc_id, heur_pass,
      |         -(1 + least(n_words // 25, 3)) AS b, CAST(1 AS BIGINT) AS c
      |       FROM lab
      |       UNION ALL SELECT doc_id, heur_pass,
      |         -(5 + (10 * n_distinct) // n_words), 1 FROM lab
      |       UNION ALL SELECT doc_id, heur_pass,
      |         -(16 + least((2 * word_chars) // n_words, 23)), 1 FROM lab
      |       UNION ALL SELECT doc_id, heur_pass,
      |         -(40 + least(n_stop, 3)), 1 FROM lab),
      |f AS (SELECT * FROM tf UNION ALL SELECT * FROM ps),
      |cb AS (SELECT b,
      |        CAST(sum(CASE WHEN doc_id % 5 <> 0 AND heur_pass = 1
      |                 THEN c ELSE 0 END) AS BIGINT) AS c1,
      |        CAST(sum(CASE WHEN doc_id % 5 <> 0 AND heur_pass = 0
      |                 THEN c ELSE 0 END) AS BIGINT) AS c0
      |       FROM f GROUP BY 1),
      |tot AS (SELECT (SELECT CAST(sum(c1) AS BIGINT) FROM cb) AS t1,
      |               (SELECT CAST(sum(c0) AS BIGINT) FROM cb) AS t0,
      |               (SELECT count(*) FROM lab
      |                WHERE doc_id % 5 <> 0 AND heur_pass = 1) AS n1,
      |               (SELECT count(*) FROM lab
      |                WHERE doc_id % 5 <> 0 AND heur_pass = 0) AS n0),
      |w AS (SELECT b, CAST($nbWeightFormula AS DECIMAL(18, 6)) AS w
      |      FROM cb CROSS JOIN tot),
      |pri AS (SELECT CAST(CAST($nbPriorFormula AS DECIMAL(18, 6)) * 1000000
      |          AS BIGINT) AS pw_micro FROM tot),
      |d AS (SELECT doc_id, heur_pass,
      |        CAST(sum(CASE WHEN b >= 0 THEN c ELSE 0 END) AS BIGINT)
      |          AS n_tokens,
      |        CAST(sum(c * w.w) * 1000000 AS BIGINT) AS s_micro
      |      FROM f JOIN w USING (b) GROUP BY 1, 2)
      |SELECT doc_id, heur_pass,
      |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS held_out,
      |  n_tokens, s_micro + pw_micro AS margin_micro,
      |  CAST(CASE WHEN s_micro + pw_micro > 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS nb_pass
      |FROM d CROSS JOIN pri ORDER BY doc_id""".stripMargin) { (s, d) =>
    // Distinct-text collapse (round-11, the LM-plane discipline applied
    // to the NB plane): every NB quantity is a pure text function —
    // token bucket counts, side-feature buckets, the heuristic label,
    // and therefore the margin itself — so the token explode, the bucket
    // counts, and the per-document score all run ONCE per distinct text.
    // Training counts weight each text's buckets by its TRAIN-twin
    // multiplicity (exact integers — c·m_train ≡ the per-doc sum), and
    // the per-doc output is a distinct-sized score frame mapped back
    // over the doc→tkey key join. Values are bit-identical to the
    // doc-level shape (the unchanged doc-level DuckDB oracle is the
    // proof); the win is that no token and no duplicate text ever rides
    // a shuffle — replication-invariant at the 100x/1000x legs.
    val (keyed, dist) = distinctTexts(docs(s, d))
    val feats = withQualityFlags(dist)
      .withColumn("heur_pass", when(expr(passAllSql), 1L).otherwise(0L))
      .select(col("tkey"), col("text"), col("heur_pass"),
        col("n_words"), col("n_distinct"), col("word_chars"), col("n_stop"))
    val mt = keyed.groupBy("tkey").agg(
      count(when(col("doc_id") % 5 =!= 0, 1)).cast("long").as("m_train"))
    val lab = feats.join(mt, Seq("tkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = lab
      .select(col("tkey"), explode(words).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("tkey"), (expr(TextOps.sparkWordHash("term")) % NbB).as("b"))
      .groupBy("tkey", "b").agg(count(lit(1)).as("c"))
    // quantized side-features as presence tokens in reserved negative
    // buckets (pure integer arithmetic — the exprs are the oracle's own)
    val ps = Seq(
      "-(1 + least(n_words div 25, 3))",
      "-(5 + (10 * n_distinct) div n_words)",
      // capped so doubled mean word length can never alias into the
      // stopword buckets at -(40..43)
      "-(16 + least((2 * word_chars) div n_words, 23))",
      "-(40 + least(n_stop, 3))")
      .map(e => lab.select(col("tkey"),
        expr(e).cast("long").as("b"), lit(1L).as("c")))
      .reduce(_ unionByName _)
    val f = tf.unionByName(ps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labSlim = lab.select("tkey", "heur_pass", "m_train")
    val cb = f.join(labSlim, Seq("tkey")).groupBy("b").agg(
      sum(when(col("heur_pass") === 1, col("c") * col("m_train")).otherwise(0L))
        .cast("long").as("c1"),
      sum(when(col("heur_pass") === 0, col("c") * col("m_train")).otherwise(0L))
        .cast("long").as("c0"))
    // class totals t1/t0 ride unpartitioned windows over the ≤ 2·B-row
    // bucket frame instead of a separate agg → crossJoin hop (the
    // unigram-rewrite lesson); the prior only needs the doc-count side
    val allW = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val labAgg = lab.agg(
      sum(when(col("heur_pass") === 1, col("m_train")).otherwise(0L)).as("n1"),
      sum(when(col("heur_pass") === 0, col("m_train")).otherwise(0L)).as("n0"))
    val w = cb
      .withColumn("t1", sum("c1").over(allW).cast("long"))
      .withColumn("t0", sum("c0").over(allW).cast("long"))
      .select(col("b"), expr(nbWeightFormula).cast("decimal(18,6)").as("w"))
    val pri = labAgg.select(
      (expr(nbPriorFormula).cast("decimal(18,6)") * 1000000)
        .cast("long").as("pw_micro"))
    // per-TEXT score and token mass (the same decimal-exact fold the
    // per-doc shape computed — twins share every f row)
    val dtScore = f.join(broadcast(w), Seq("b"))
      .groupBy("tkey")
      .agg(sum(when(col("b") >= 0, col("c")).otherwise(0L))
        .cast("long").as("n_tokens"),
        (sum(col("c") * col("w")) * 1000000).cast("long").as("s_micro"))
    keyed
      .join(labSlim.select("tkey", "heur_pass"), Seq("tkey"))
      .join(dtScore, Seq("tkey"))
      .crossJoin(broadcast(pri))
      .select(col("doc_id"), col("heur_pass"),
        when(col("doc_id") % 5 === 0, 1L).otherwise(0L).as("held_out"),
        col("n_tokens"),
        (col("s_micro") + col("pw_micro")).as("margin_micro"),
        when(col("s_micro") + col("pw_micro") > 0, 1L).otherwise(0L)
          .as("nb_pass"))
      .orderBy("doc_id")
  }

  /** Reliability audit of the NB quality scorer ([[qualityNb]]) on its
    * HELD-OUT split: margin-bucketed calibration — per 2-logit bucket of
    * the NB margin, how often the heuristic gate actually passes. A
    * monotone frac_heur_pass curve means the classifier's confidence
    * ORDERS documents correctly (what DSIR-style soft filtering relies
    * on); the agreement column is held-out accuracy by confidence band —
    * the "is my filter trustworthy where it is most sure" readout a
    * release gate wants BEFORE thresholding 100 TB on margin sign.
    *
    * Composes the live quality_nb plan (identical training split and
    * weights by construction — same builder). Bucketing floors
    * margin/2e6 in double (|margin_micro| ≪ 2^53, so the division is
    * exact and floor() agrees across engines — integer `div`/`//` would
    * NOT: Spark truncates toward zero, DuckDB floors). The per-bucket
    * margin mass is published as the raw integer sum (no mean division
    * to round). Output ≤ 11 rows; the only work past quality_nb is one
    * partial-aggregating groupBy on the bucket. */
  val qualityCalibration: Q = Q.sql(
    "quality_calibration",
    s"""WITH nbout AS (${qualityNb.oracle.get}),
       |h AS (SELECT greatest(-5, least(5,
       |          CAST(floor(margin_micro / 2000000.0) AS BIGINT)))
       |          AS margin_bucket,
       |        heur_pass, nb_pass, margin_micro
       |      FROM nbout WHERE held_out = 1)
       |SELECT margin_bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(heur_pass) AS BIGINT) AS n_heur_pass,
       |  round(1.0 * sum(heur_pass) / count(*), 4) AS frac_heur_pass,
       |  CAST(sum(nb_pass) AS BIGINT) AS n_nb_pass,
       |  CAST(sum(CASE WHEN nb_pass = heur_pass THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(sum(margin_micro) AS BIGINT) AS margin_sum_micro
       |FROM h GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    qualityNb.fn(s, d)
      .filter(col("held_out") === 1)
      .groupBy(greatest(lit(-5L), least(lit(5L),
        floor(col("margin_micro") / lit(2000000.0)).cast("long")))
        .as("margin_bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("heur_pass").cast("long").as("n_heur_pass"),
        round(lit(1.0) * sum("heur_pass") / count(lit(1)), 4).as("frac_heur_pass"),
        sum("nb_pass").cast("long").as("n_nb_pass"),
        sum(when(col("nb_pass") === col("heur_pass"), 1L).otherwise(0L))
          .cast("long").as("n_agree"),
        sum("margin_micro").cast("long").as("margin_sum_micro"))
      .orderBy("margin_bucket")
  }

  /** Largest-remainder (Hamilton) stratified sampling plan + its
    * deterministic realization: a fixed sample budget (⌊corpus⁄3⌋ docs)
    * is allocated across (lang, source) strata exactly proportionally —
    * floor quotas first, the leftover seats to the largest remainders —
    * then each stratum's quota is FILLED by hash-order pick (wordHash of
    * doc_id, the corpus_split bucket hash), so two engines — or two runs
    * over reshuffled partitions — select the identical document set.
    * Published per stratum: the arithmetic trail (quota_floor, remainder,
    * extra) plus the realized pick (n_sampled, sampled_chars), so the
    * artifact proves both that Σ n_alloc = budget and that the pick
    * honored the plan. corpus_split hash-buckets (fixed shares);
    * sample_weighted draws by weight; this is the third classical
    * sampler — exact proportional allocation under an integer budget.
    *
    * Scale: one partial-aggregating groupBy to the |langs|×|sources|
    * strata frame (all allocation arithmetic lives there — integers
    * only), one doc-keyed window rank per stratum (the sample_per_source
    * exchange), one broadcast join of the bounded plan back to the rank.
    */
  val sampleStratified: Q = {
    val duckH = TextOps.duckWordHash("CAST(doc_id AS VARCHAR)")
    val sparkH = TextOps.sparkWordHash("cast(doc_id as string)")
    Q.sql(
      "sample_stratified",
      s"""WITH s AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
         |           FROM documents GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t,
         |        CAST(sum(n_docs) // 3 AS BIGINT) AS budget FROM s),
         |q AS (SELECT lang, source, n_docs, budget,
         |        CAST((n_docs * budget) // t AS BIGINT) AS quota_floor,
         |        CAST((n_docs * budget) % t AS BIGINT) AS remainder
         |      FROM s CROSS JOIN t),
         |r AS (SELECT *,
         |        CAST(row_number() OVER (ORDER BY remainder DESC, lang, source)
         |          AS BIGINT) AS rr,
         |        CAST(sum(quota_floor) OVER () AS BIGINT) AS fsum
         |      FROM q),
         |al AS (SELECT lang, source, n_docs, quota_floor, remainder,
         |         CASE WHEN rr <= budget - fsum THEN 1 ELSE 0 END AS extra,
         |         quota_floor + CASE WHEN rr <= budget - fsum THEN 1 ELSE 0 END
         |           AS n_alloc
         |       FROM r),
         |picked AS (SELECT lang, source, n_chars,
         |             row_number() OVER (PARTITION BY lang, source
         |               ORDER BY $duckH, doc_id) AS rk
         |           FROM documents),
         |k AS (SELECT p.lang, p.source, CAST(count(*) AS BIGINT) AS n_sampled,
         |        CAST(sum(p.n_chars) AS BIGINT) AS sampled_chars
         |      FROM picked p JOIN al ON p.lang = al.lang AND p.source = al.source
         |      WHERE p.rk <= al.n_alloc GROUP BY 1, 2)
         |SELECT al.lang, al.source, al.n_docs, al.quota_floor, al.remainder,
         |  CAST(al.extra AS BIGINT) AS extra, CAST(al.n_alloc AS BIGINT) AS n_alloc,
         |  coalesce(k.n_sampled, 0) AS n_sampled,
         |  coalesce(k.sampled_chars, 0) AS sampled_chars
         |FROM al LEFT JOIN k ON al.lang = k.lang AND al.source = k.source
         |ORDER BY al.lang, al.source""".stripMargin) { (s, d) =>
      val strata = docs(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).cast("long").as("n_docs"))
      val tot = strata.agg(sum("n_docs").cast("long").as("t"),
        expr("sum(n_docs) div 3").cast("long").as("budget"))
      val q = strata.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"), col("budget"),
          expr("(n_docs * budget) div t").cast("long").as("quota_floor"),
          ((col("n_docs") * col("budget")) % col("t")).cast("long").as("remainder"))
      // the strata frame is bounded (|langs|×|sources|), so the global
      // windows here never touch corpus-sized data
      val allW = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val rnkW = Window.orderBy(col("remainder").desc, col("lang"), col("source"))
      val al = q
        .withColumn("rr", row_number().over(rnkW).cast("long"))
        .withColumn("fsum", sum("quota_floor").over(allW).cast("long"))
        .withColumn("extra",
          when(col("rr") <= col("budget") - col("fsum"), 1L).otherwise(0L))
        .select(col("lang"), col("source"), col("n_docs"), col("quota_floor"),
          col("remainder"), col("extra"),
          (col("quota_floor") + col("extra")).as("n_alloc"))
      val pickW = Window.partitionBy("lang", "source")
        .orderBy(expr(sparkH), col("doc_id"))
      val k = docs(s, d)
        .select(col("lang"), col("source"), col("n_chars"), col("doc_id"))
        .withColumn("rk", row_number().over(pickW))
        .join(broadcast(al.select("lang", "source", "n_alloc")),
          Seq("lang", "source"))
        .filter(col("rk") <= col("n_alloc"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).cast("long").as("n_sampled"),
          sum("n_chars").cast("long").as("sampled_chars"))
      al.join(k, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"), col("n_docs"), col("quota_floor"),
          col("remainder"), col("extra"), col("n_alloc"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("sampled_chars"), lit(0L)).as("sampled_chars"))
        .orderBy("lang", "source")
    }
  }

  /** The Gopher repetition battery beyond doc_repetition's bigrams: the
    * top-n-gram share for n = 3, 4 and the duplicate-n-gram share for
    * n = 5, 10 (Rae et al. 2021 §A1.1 — short n measure a stuck phrase,
    * long n measure copy-paste blocks; a doc can fail one family while
    * passing the other, which is why the battery publishes all four as
    * ratios rather than one verdict). Ratios are per-doc quotients of
    * exact gram counts, rounded once.
    *
    * Scale: the ratios are a pure function of text, so the fold runs
    * ONCE PER DISTINCT TEXT (the SURVEY §4 collapse) and expands through
    * the (doc_id, tkey) map. Per distinct text each family is ONE
    * in-place fold over the sorted gram array (total = size, distinct =
    * run starts, top frequency = longest run — one pass, no
    * array_distinct, no explode), so no gram string ever rides an
    * exchange. The first cut exploded the four families through two
    * corpus-wide groupBys and paid 330 s at sf10; the un-collapsed fold
    * still paid 26 s at sf1 re-folding every twin. The oracle keeps the
    * independent doc-level explode shape. */
  val docRepetitionTopn: Q = {
    val ns = Seq(3, 4, 5, 10)
    val gramRows = ns.map(n =>
      s"SELECT doc_id, $n AS n, unnest(${duckGrams(n)}) AS gram FROM w")
      .mkString("\n  UNION ALL ")
    Q.sql(
      "doc_repetition_topn",
      s"""WITH ${duckWords()},
         |g AS ($gramRows),
         |c AS (SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
         |      FROM g GROUP BY 1, 2, 3),
         |a AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot,
         |        CAST(count(*) AS BIGINT) AS dist, CAST(max(c) AS BIGINT) AS mx
         |      FROM c GROUP BY 1, 2)
         |SELECT doc_id,
         |  coalesce(max(CASE WHEN n = 3 THEN round(1.0 * mx / tot, 4) END), 0.0)
         |    AS top3_ratio,
         |  coalesce(max(CASE WHEN n = 4 THEN round(1.0 * mx / tot, 4) END), 0.0)
         |    AS top4_ratio,
         |  coalesce(max(CASE WHEN n = 5 THEN round(1.0 * (tot - dist) / tot, 4) END), 0.0)
         |    AS dup5_ratio,
         |  coalesce(max(CASE WHEN n = 10 THEN round(1.0 * (tot - dist) / tot, 4) END), 0.0)
         |    AS dup10_ratio
         |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // per-family stats via the native one-pass kernel (tot = gram
      // count, dist = distinct grams, best = top gram frequency) —
      // replaces the interpreted aggregate(array_sort(...)) struct fold,
      // which allocated a 4-field struct per gram outside codegen
      // (NativeExprSpec pins the kernel equal to that fold)
      def famStats(n: Int): String = s"graft_gram_stats(ws, $n)"
      def topRatio(c: String): String =
        s"IF($c.tot = 0, 0.0e0, round(1.0 * $c.best / $c.tot, 4))"
      def dupRatio(c: String): String =
        s"IF($c.tot = 0, 0.0e0, round(1.0 * ($c.tot - $c.dist) / $c.tot, 4))"
      val (keyed, dist) = distinctTexts(docs(s, d))
      val perText = dist
        .select(col("tkey"), words.as("ws"))
        .select(col("tkey"),
          expr(famStats(3)).as("f3"), expr(famStats(4)).as("f4"),
          expr(famStats(5)).as("f5"), expr(famStats(10)).as("f10"))
        .select(col("tkey"),
          expr(topRatio("f3")).as("top3_ratio"),
          expr(topRatio("f4")).as("top4_ratio"),
          expr(dupRatio("f5")).as("dup5_ratio"),
          expr(dupRatio("f10")).as("dup10_ratio"))
      keyed.join(perText, Seq("tkey"))
        .select(col("doc_id"), col("top3_ratio"), col("top4_ratio"),
          col("dup5_ratio"), col("dup10_ratio"))
        .orderBy("doc_id")
    }
  }

  val all: Seq[Q] = Seq(
    sampleStratified, docRepetitionTopn,
    docRepetition, qualityFilter, qualitySourceMatrix, decontaminate,
    corpusMix, corpusTemperature,
    tokenHistogram, packSequences, packEfficiency, corpusFunnel, corpusSplit,
    corpusPerplexity, boilerplateNgrams, vocabGrowth, oovRate, zipfFit,
    corpusReport, epochPlan, splitLeakage, ngramNovelty, sampleWeighted,
    tokenLengthQuantiles, stopwordProfile, vocabCoverage, curriculumOrder,
    corpusBigramPpl, vocabOverlap, perplexityBuckets, heapsFit,
    qualityPlaneAgreement, qualityAblation, contaminationSources,
    corpusExport, corpusDsir, corpusDoremi, qualityNb, qualityCalibration,
    decontaminateBloom, corpusPsi, docRarity, corpusKnPpl, corpusNoveltyCurve)
}
