package graft.text

import graft.Q
import graft.Tables.{documents => docs}
import graft.text.Tokens.{duckWordList, words}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Tokenizer-design analytics over the `documents` corpus — the
  * measurements a team runs BEFORE training a subword tokenizer on a
  * 100 TB corpus: the first BPE merge table (which adjacent character
  * pairs dominate), and the fertility profile (how many subword tokens a
  * word costs per language/source, the cost model for context-window
  * budgeting).
  *
  * Scale posture shared by both ops: every stage is a per-row map /
  * explode followed by a partial-aggregating groupBy whose key space is
  * BOUNDED (≤ |langs|·26² pairs; |lang × source| cells) — the shuffle
  * carries merged counts, never corpus-sized rows, and the only window
  * runs on the bounded aggregate. No join, no broadcast, no skew risk:
  * this is the same shape at sf0.001 and at 100 TB.
  */
object TokenizerOps {

  /** First-round BPE merge candidates: the top-20 adjacent character
    * pairs inside letter-run words, per language. This is exactly the
    * statistic byte-pair-encoding training maximizes on its first merge
    * round; ranked per language because merge tables are usually trained
    * per-corpus-slice before being unioned.
    *
    * Determinism: ties in pair count are broken by the pair string, so
    * the rank is a total order in both engines. */
  val bpePairStats: Q = Q.sql(
    "bpe_pair_stats",
    """WITH w AS (SELECT lang,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |  FROM documents),
      |p0 AS (SELECT lang, word,
      |    unnest(generate_series(1, length(word) - 1)) AS i
      |  FROM w WHERE length(word) >= 2),
      |p AS (SELECT lang, substr(word, CAST(i AS INT), 2) AS pair FROM p0),
      |c AS (SELECT lang, pair, count(*) AS cnt FROM p GROUP BY 1, 2),
      |r AS (SELECT lang, pair, cnt,
      |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rk
      |  FROM c)
      |SELECT lang, rk, pair, cnt FROM r
      |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin) { (s, d) =>
    val pairs = docs(s, d)
      .select(col("lang"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("lang"),
        explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
      .groupBy("lang", "pair").agg(count(lit(1)).as("cnt"))
    // the window runs on the ≤ |langs|·26² aggregate, never the corpus
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("pair"))
    pairs.select(col("lang"), row_number().over(w).as("rk"),
        col("pair"), col("cnt"))
      .filter(col("rk") <= 20)
      .orderBy("lang", "rk")
  }

  /** Tokenizer fertility profile per (lang, source): subword tokens per
    * whitespace word and characters per subword token, under the engine's
    * BPE-style regex pre-tokenization (letter runs / digit runs / single
    * marks — the token_regex split pass). High fertility slices are the
    * expensive ones in a fixed context window; this is the per-slice cost
    * table a mixing plan consumes next to corpus_mix.
    *
    * All sums are integers (exact, order-independent); ratios are derived
    * once at the output edge. */
  val tokFertility: Q = Q.sql(
    "tok_fertility",
    s"""WITH f AS (
      |  SELECT lang, source, n_chars,
      |    len(${duckWordList()}) AS n_words,
      |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens
      |  FROM documents)
      |SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS n_words,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  round(1.0 * sum(n_tokens) / sum(n_words), 4) AS tokens_per_word,
      |  round(1.0 * sum(n_chars) / sum(n_tokens), 4) AS chars_per_token
      |FROM f GROUP BY 1, 2 ORDER BY lang, source""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("lang"), col("source"), col("n_chars"),
        size(words).as("n_words"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .as("n_tokens"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"),
        round(lit(1.0) * col("n_tokens") / col("n_words"), 4)
          .as("tokens_per_word"),
        round(lit(1.0) * col("n_chars") / col("n_tokens"), 4)
          .as("chars_per_token"))
      .orderBy("lang", "source")
  }

  /** Iterative BPE training — 3 REAL merge rounds, not just the round-1
    * candidate table (bpe_pair_stats): each round counts adjacent symbol
    * pairs over the occurrence-weighted word universe, merges the argmax
    * pair everywhere (left-to-right non-overlapping — the BPE greedy
    * rule, realized as a separator-delimited string replace with
    * identical scan semantics in both engines), and reports the merged
    * pair plus the corpus token count before/after — the actual
    * compression trajectory a tokenizer trainer optimizes.
    *
    * Scale: the corpus collapses ONCE to the distinct-word table
    * (|vocab|-bounded partial agg — at 100 TB still aggregate-scale, and
    * the only corpus-sized pass); each round is a pair partial-agg
    * bounded by |symbol pairs|, a 1-row argmax broadcast, and a per-row
    * replace over the word table. Ties break lexicographically so the
    * merge choice is a total order; all counts are exact integers. */
  val bpeMergeIterate: Q = {
    val sep = " "
    Q.sql(
      "bpe_merge_iterate",
      s"""WITH w0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS wcount
         |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
         |        FROM documents)
         |  WHERE length(word) >= 2 GROUP BY 1),
         |words0 AS MATERIALIZED (
         |  SELECT '$sep' || list_aggregate(list_transform(range(1, length(word) + 1),
         |      i -> word[i]), 'string_agg', '$sep') || '$sep' AS ws,
         |    wcount
         |  FROM w0),
         |p1 AS (SELECT s1, s2, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
         |    SELECT s[i] AS s1, s[i+1] AS s2, wcount FROM (
         |      SELECT s, wcount, unnest(range(1, len(s))) AS i
         |      FROM (SELECT list_filter(str_split(ws, '$sep'), x -> x <> '') AS s,
         |              wcount FROM words0)
         |      WHERE len(s) >= 2))
         |  GROUP BY 1, 2),
         |m1 AS MATERIALIZED (SELECT s1, s2, cnt FROM p1
         |      ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |words1 AS MATERIALIZED (
         |  SELECT replace(ws, '$sep' || m1.s1 || '$sep' || m1.s2 || '$sep',
         |      '$sep' || m1.s1 || m1.s2 || '$sep') AS ws, wcount
         |  FROM words0 CROSS JOIN m1),
         |p2 AS (SELECT s1, s2, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
         |    SELECT s[i] AS s1, s[i+1] AS s2, wcount FROM (
         |      SELECT s, wcount, unnest(range(1, len(s))) AS i
         |      FROM (SELECT list_filter(str_split(ws, '$sep'), x -> x <> '') AS s,
         |              wcount FROM words1)
         |      WHERE len(s) >= 2))
         |  GROUP BY 1, 2),
         |m2 AS MATERIALIZED (SELECT s1, s2, cnt FROM p2
         |      ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |words2 AS MATERIALIZED (
         |  SELECT replace(ws, '$sep' || m2.s1 || '$sep' || m2.s2 || '$sep',
         |      '$sep' || m2.s1 || m2.s2 || '$sep') AS ws, wcount
         |  FROM words1 CROSS JOIN m2),
         |p3 AS (SELECT s1, s2, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
         |    SELECT s[i] AS s1, s[i+1] AS s2, wcount FROM (
         |      SELECT s, wcount, unnest(range(1, len(s))) AS i
         |      FROM (SELECT list_filter(str_split(ws, '$sep'), x -> x <> '') AS s,
         |              wcount FROM words2)
         |      WHERE len(s) >= 2))
         |  GROUP BY 1, 2),
         |m3 AS MATERIALIZED (SELECT s1, s2, cnt FROM p3
         |      ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |words3 AS MATERIALIZED (
         |  SELECT replace(ws, '$sep' || m3.s1 || '$sep' || m3.s2 || '$sep',
         |      '$sep' || m3.s1 || m3.s2 || '$sep') AS ws, wcount
         |  FROM words2 CROSS JOIN m3),
         |tk AS (
         |  SELECT 0 AS r, CAST(sum(wcount * len(list_filter(str_split(ws, '$sep'),
         |      x -> x <> ''))) AS BIGINT) AS toks FROM words0
         |  UNION ALL SELECT 1, CAST(sum(wcount * len(list_filter(str_split(ws, '$sep'),
         |      x -> x <> ''))) AS BIGINT) FROM words1
         |  UNION ALL SELECT 2, CAST(sum(wcount * len(list_filter(str_split(ws, '$sep'),
         |      x -> x <> ''))) AS BIGINT) FROM words2
         |  UNION ALL SELECT 3, CAST(sum(wcount * len(list_filter(str_split(ws, '$sep'),
         |      x -> x <> ''))) AS BIGINT) FROM words3),
         |mm AS (
         |  SELECT 1 AS round, s1 AS merge_left, s2 AS merge_right,
         |    s1 || s2 AS merged, cnt AS pair_count FROM m1
         |  UNION ALL SELECT 2, s1, s2, s1 || s2, cnt FROM m2
         |  UNION ALL SELECT 3, s1, s2, s1 || s2, cnt FROM m3)
         |SELECT mm.round, mm.merge_left, mm.merge_right, mm.merged,
         |  mm.pair_count, tb.toks AS tokens_before, ta.toks AS tokens_after
         |FROM mm
         |JOIN tk tb ON tb.r = mm.round - 1
         |JOIN tk ta ON ta.r = mm.round
         |ORDER BY mm.round""".stripMargin) { (s, d) =>
      // one corpus pass → occurrence-weighted distinct-word table
      val w0 = docs(s, d)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).cast("long").as("wcount"))
      val words0 = w0.select(
        concat(lit(sep),
          array_join(expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            sep),
          lit(sep)).as("ws"),
        col("wcount"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def pairCounts(words: DataFrame): DataFrame = words
        .select(expr(s"filter(split(ws, '$sep'), x -> x <> '')").as("syms"),
          col("wcount"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) as s1, element_at(syms, i + 1) as s2))"))
          .as("p"), col("wcount"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(sum("wcount").cast("long").as("cnt"))
      def argmax(pc: DataFrame): DataFrame =
        pc.orderBy(col("cnt").desc, col("s1"), col("s2")).limit(1)
      def applyMerge(words: DataFrame, m: DataFrame): DataFrame = words
        .crossJoin(broadcast(m.select(col("s1").as("__a"), col("s2").as("__b"))))
        .select(expr(
          s"replace(ws, '$sep' || __a || '$sep' || __b || '$sep', '$sep' || __a || __b || '$sep')")
          .as("ws"), col("wcount"))
      def tokCount(words: DataFrame): DataFrame = words
        .agg(sum(col("wcount") *
          size(expr(s"filter(split(ws, '$sep'), x -> x <> '')")))
          .cast("long").as("toks"))
      val p1 = pairCounts(words0); val m1 = argmax(p1)
      val words1 = applyMerge(words0, m1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p2 = pairCounts(words1); val m2 = argmax(p2)
      val words2 = applyMerge(words1, m2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p3 = pairCounts(words2); val m3 = argmax(p3)
      val words3 = applyMerge(words2, m3)
      def mergeRow(r: Int, m: DataFrame): DataFrame = m.select(
        lit(r).as("round"), col("s1").as("merge_left"), col("s2").as("merge_right"),
        concat(col("s1"), col("s2")).as("merged"), col("cnt").as("pair_count"))
      val tk = tokCount(words0).select(lit(0).as("r"), col("toks"))
        .unionByName(tokCount(words1).select(lit(1).as("r"), col("toks")))
        .unionByName(tokCount(words2).select(lit(2).as("r"), col("toks")))
        .unionByName(tokCount(words3).select(lit(3).as("r"), col("toks")))
      val mm = mergeRow(1, m1).unionByName(mergeRow(2, m2))
        .unionByName(mergeRow(3, m3))
      mm.join(broadcast(tk.select(col("r").as("__rb"), col("toks").as("tokens_before"))),
          col("__rb") === col("round") - 1)
        .join(broadcast(tk.select(col("r").as("__ra"), col("toks").as("tokens_after"))),
          col("__ra") === col("round"))
        .select("round", "merge_left", "merge_right", "merged", "pair_count",
          "tokens_before", "tokens_after")
        .orderBy("round")
    }
  }

  /** WordPiece-style greedy inference (Wu et al. 2016, arXiv:1609.08144
    * — longest-match-first subword segmentation): build a piece
    * vocabulary from the corpus (all single chars implicitly + the
    * top-64 substrings of length 2–4 by occurrence-weighted frequency,
    * ties by piece string), then segment every distinct word by
    * repeatedly taking the LONGEST vocab piece at the cursor, falling
    * back to the single character. [[bpeMergeIterate]] is the TRAINING
    * side of subword tokenization; this is the INFERENCE side — the
    * per-word segmentation and piece count that corpus token budgets
    * are actually paid in.
    *
    * Scale shape: one scan partial-aggregates to the distinct-word
    * frequency table (persisted — read by the substring pass, the
    * segmentation walk, and the output); candidate pieces
    * partial-aggregate on the piece; the vocabulary is 64 rows
    * (broadcast as a 1-row map) and the bounded greedy walk is a pure
    * per-row projection over distinct WORDS (not tokens) — the corpus
    * is never rescanned and nothing all-pairs.
    *
    * Determinism: there are NO floats anywhere — frequencies, cursor
    * arithmetic, and string matching only — so both engines produce
    * byte-identical segmentations by construction. The only subtlety is
    * guarded: a length-l lookup requires l chars remaining, or a short
    * tail substring would false-match a shorter vocab piece. */
  val tokWordpiece: Q = {
    // The Spark walk is a per-word aggregate() fold over sequence(1, len)
    // — exactly len steps, so it can never truncate. The DuckDB twin
    // unrolls a fixed chain instead (joins are its natural idiom):
    // `walkSteps` must cover the longest word in the corpus (8 chars in
    // the generated documents; sized with headroom), and BOTH engines
    // fail loud (error()/assert_true) on any row whose cursor has not
    // cleared its word after the final step — a longer-worded corpus
    // aborts instead of silently truncating.
    val walkSteps = 12
    def duckStep(k: Int): String =
      s"""s$k AS (SELECT s.word, s.freq, s.len,
         |  CASE WHEN s.pos > s.len THEN s.pos
         |       WHEN v4.piece IS NOT NULL THEN s.pos + 4
         |       WHEN v3.piece IS NOT NULL THEN s.pos + 3
         |       WHEN v2.piece IS NOT NULL THEN s.pos + 2
         |       ELSE s.pos + 1 END AS pos,
         |  CASE WHEN s.pos > s.len THEN s.n ELSE s.n + 1 END AS n,
         |  CASE WHEN s.pos > s.len THEN s.seg
         |       WHEN v4.piece IS NOT NULL THEN s.seg || '|' || v4.piece
         |       WHEN v3.piece IS NOT NULL THEN s.seg || '|' || v3.piece
         |       WHEN v2.piece IS NOT NULL THEN s.seg || '|' || v2.piece
         |       ELSE s.seg || '|' || substr(s.word, s.pos, 1) END AS seg
         |FROM s${k - 1} s
         |LEFT JOIN voc v4 ON v4.plen = 4 AND s.pos + 3 <= s.len
         |  AND v4.piece = substr(s.word, s.pos, 4)
         |LEFT JOIN voc v3 ON v3.plen = 3 AND s.pos + 2 <= s.len
         |  AND v3.piece = substr(s.word, s.pos, 3)
         |LEFT JOIN voc v2 ON v2.plen = 2 AND s.pos + 1 <= s.len
         |  AND v2.piece = substr(s.word, s.pos, 2))""".stripMargin
    val sparkStep =
      """CASE WHEN st.pos > len THEN st
        |     WHEN st.pos + 3 <= len
        |          AND element_at(vmap, substring(word, st.pos, 4)) IS NOT NULL
        |       THEN named_struct('pos', st.pos + 4, 'n', st.n + 1,
        |              'seg', concat(st.seg, '|', substring(word, st.pos, 4)))
        |     WHEN st.pos + 2 <= len
        |          AND element_at(vmap, substring(word, st.pos, 3)) IS NOT NULL
        |       THEN named_struct('pos', st.pos + 3, 'n', st.n + 1,
        |              'seg', concat(st.seg, '|', substring(word, st.pos, 3)))
        |     WHEN st.pos + 1 <= len
        |          AND element_at(vmap, substring(word, st.pos, 2)) IS NOT NULL
        |       THEN named_struct('pos', st.pos + 2, 'n', st.n + 1,
        |              'seg', concat(st.seg, '|', substring(word, st.pos, 2)))
        |     ELSE named_struct('pos', st.pos + 1, 'n', st.n + 1,
        |            'seg', concat(st.seg, '|', substring(word, st.pos, 1)))
        |END""".stripMargin
    Q.sql(
      "tok_wordpiece",
      s"""WITH t AS (SELECT unnest(${duckWordList()}) AS word FROM documents),
        |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    length(word) AS len
        |  FROM t WHERE length(word) > 0 GROUP BY 1),
        |sub AS (SELECT unnest(flatten(list_transform([2, 3, 4],
        |    l -> list_transform(range(1, len - l + 2),
        |      i -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece,
        |    freq
        |  FROM wf),
        |cnts AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        |         FROM sub GROUP BY 1),
        |voc AS MATERIALIZED (SELECT piece, length(piece) AS plen
        |  FROM cnts ORDER BY cnt DESC, piece LIMIT 64),
        |s0 AS (SELECT word, freq, len, 1 AS pos, 0 AS n, '' AS seg FROM wf),
        |${(1 to walkSteps).map(duckStep).mkString(",\n")}
        |SELECT word, freq, CAST(len AS BIGINT) AS n_chars,
        |  CAST(n AS BIGINT) AS n_pieces, substr(seg, 2) AS pieces
        |FROM s$walkSteps
        |WHERE CASE WHEN pos <= len THEN error('wordpiece walk truncated')
        |           ELSE TRUE END
        |ORDER BY word""".stripMargin) { (s, d) =>
      val wf = docs(s, d)
        .select(explode(words).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("len", length(col("word")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cnts = wf
        .select(col("freq"), explode(expr(
          subPiecesSql)).as("piece"))
        .groupBy("piece").agg(sum("freq").cast("long").as("cnt"))
      val voc = cnts.orderBy(col("cnt").desc, col("piece")).limit(64)
      val vmap = voc.agg(
        map_from_entries(collect_list(struct(col("piece"), length(col("piece")))))
          .as("vmap"))
      // ONE higher-order fold, not an unrolled withColumn chain: the
      // lambda accumulator evaluates iteratively at runtime, so the
      // expression tree stays linear (project-collapse inlines an
      // unrolled chain's `st` ~4x per step — exponential plan size),
      // and sequence(1, len) sizes the walk to each word exactly — a
      // step consumes >= 1 char, so len steps always suffice and
      // truncation is structurally impossible.
      val s8 = wf.crossJoin(broadcast(vmap))
        .withColumn("st", expr(
          s"""aggregate(sequence(1, len),
             |  named_struct('pos', 1, 'n', 0, 'seg', ''),
             |  (st, _i) -> $sparkStep)""".stripMargin))
      s8.filter(expr(
          "assert_true(st.pos > len, 'wordpiece walk truncated') IS NULL"))
        .select(col("word"), col("freq"), col("len").cast("long").as("n_chars"),
          expr("st.n").cast("long").as("n_pieces"),
          expr("substring(st.seg, 2)").as("pieces"))
        .orderBy("word")
    }
  }

  /** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
    * SentencePiece default), one full EM round over the corpus: seed a
    * piece vocabulary (every character + the top-64 substrings of length
    * 2–4 by occurrence-weighted frequency, the [[tokWordpiece]] seed
    * recipe) with unigram costs −log2(cnt/total); E-step: exact Viterbi
    * segmentation of every distinct word under those costs; M-step:
    * re-estimate piece probabilities from the Viterbi piece counts.
    * Report: the top-32 pieces by re-estimated count with seed/EM counts
    * and costs, plus the corpus loss (total bits) before and after the
    * update — EM guarantees loss_after ≤ loss_before on the same
    * segmentation, which the spec asserts. [[bpeMergeIterate]] is
    * greedy-merge training, [[tokWordpiece]] longest-match inference;
    * this completes the third production tokenizer family.
    *
    * Scale shape: ONE corpus pass partial-aggregates to the distinct-word
    * table (|vocab|-bounded, persisted — read by the seed counts, the
    * Viterbi pass and the loss sum); the piece vocabulary is ≤ |chars|+64
    * rows riding a 1-row broadcast map; the E-step is a pure per-row
    * dynamic-programming fold over distinct WORDS (never documents, never
    * tokens — the corpus is not rescanned); the M-step partial-aggregates
    * on the piece, bounded by the vocabulary. Nothing all-pairs, no
    * corpus-sized shuffle — the same shape at sf0.001 and 100 TB.
    *
    * Determinism: the ONLY float op is the cost formula
    * round(-log2((1.0·cnt)/total), 6), rounded once to scale 6 (the
    * [[graft.text.CorpusOps]] surprisal discipline); Viterbi path costs
    * are exact DECIMAL(18,6) sums, compared with the total order
    * (cost, n_pieces, segmentation-string) — struct comparison is
    * field-lexicographic in BOTH engines, and the segmentation string
    * makes ties impossible (it encodes the path). Losses are published
    * as exact integer micro-bits. The oracle unrolls the DP to
    * [[duckViterbiSteps]] positions and both engines fail LOUDLY
    * (error()/assert_true) on words longer than the unroll instead of
    * silently truncating — the wordpiece walk guard. */
  /** Unrolled-DP depth shared by the unigram ops: the longest generated
    * word is 8 chars; both engines loud-fail beyond the unroll. */
  private val UnigramSteps = 12

  /** One unrolled Viterbi DP step in DuckDB against piece table
    * `$voc(piece, plen, cost)` — CTEs named `$p0..$p$j`. Shared by
    * tok_unigram (seed vocab) and tok_unigram_prune (pruned vocab). */
  private def duckViterbiStep(j: Int, p: String, voc: String): String = {
    val cands = (1 to 4).filter(_ <= j).map { l =>
      s"""SELECT d.word, d.wcount, d.len,
         |  struct_pack(
         |    cost := CAST(struct_extract(d.st, 'cost') + v.cost AS DECIMAL(18,6)),
         |    n := struct_extract(d.st, 'n') + 1,
         |    seg := struct_extract(d.st, 'seg') || ' ' || v.piece) AS st
         |FROM $p${j - l} d JOIN $voc v
         |  ON v.plen = $l AND v.piece = substr(d.word, ${j - l + 1}, $l)
         |WHERE d.len >= $j""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$p$j AS MATERIALIZED (
       |  SELECT word, wcount, len, min(st) AS st FROM (
       |$cands
       |  ) GROUP BY 1, 2, 3)""".stripMargin
  }

  /** The full unrolled chain `$p0 … $p$UnigramSteps` + terminal
    * `${p}vit` CTE (best segmentation per word) against `$voc`. */
  private def duckViterbiChain(p: String, voc: String): String =
    s"""${p}0 AS (SELECT word, wcount, len,
       |    struct_pack(cost := CAST(0 AS DECIMAL(18,6)), n := 0, seg := '') AS st
       |  FROM wf
       |  WHERE CASE WHEN len > $UnigramSteps
       |             THEN error('tok_unigram: word exceeds unrolled DP')
       |             ELSE TRUE END),
       |${(1 to UnigramSteps).map(duckViterbiStep(_, p, voc)).mkString(",\n")},
       |${p}vit AS MATERIALIZED (
       |${(1 to UnigramSteps).map(j =>
         s"  SELECT word, wcount, len, st FROM $p$j WHERE len = $j")
         .mkString("\n  UNION ALL\n")})""".stripMargin

  /** Every 2-4 character substring of `word` (length `len`): the Spark
    * twin of the seed CTEs' `sub` pieces. */
  private val subPiecesSql: String =
    """flatten(transform(sequence(2, 4),
      |  l -> IF(len >= l,
      |         transform(sequence(1, len - l + 1),
      |           i -> substring(word, i, l)),
      |         array())))""".stripMargin

  /** Seed-vocabulary CTE block (w0 → wf → voc): distinct words with
    * occurrence counts, and the char + top-64-substring piece table with
    * unigram costs. Shared head of both unigram oracles. */
  private val duckSeedCtes: String =
    s"""w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wcount
       |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |        FROM documents)
       |  WHERE length(word) >= 1 GROUP BY 1),
       |wf AS MATERIALIZED (SELECT word, wcount, length(word) AS len FROM w0),
       |chars AS (SELECT piece, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
       |    SELECT substr(word, CAST(i AS INT), 1) AS piece, wcount
       |    FROM (SELECT word, wcount, unnest(range(1, len + 1)) AS i FROM wf))
       |  GROUP BY 1),
       |sub AS (SELECT unnest(flatten(list_transform([2, 3, 4],
       |    l -> list_transform(range(1, len - l + 2),
       |      i -> substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece,
       |    wcount
       |  FROM wf),
       |cnts AS (SELECT piece, CAST(sum(wcount) AS BIGINT) AS cnt
       |         FROM sub GROUP BY 1),
       |top64 AS (SELECT piece, cnt FROM cnts ORDER BY cnt DESC, piece LIMIT 64),
       |voc0 AS (SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM top64),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM voc0),
       |voc AS MATERIALIZED (SELECT piece, length(piece) AS plen, cnt,
       |    CAST(round(-log2((1.0 * cnt) / tot.nt), 6) AS DECIMAL(18,6)) AS cost
       |  FROM voc0 CROSS JOIN tot)""".stripMargin

  /** Test seam: the seed vocab pair for an arbitrary sf dir (the
    * NativeExprSpec graft_viterbi pin re-segments the real corpus). */
  private[graft] def seedVocabFor(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = seedVocab(s, d)

  /** Spark twin of [[duckSeedCtes]]: (wf persisted, voc persisted). */
  private def seedVocab(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val wf = docs(s, d)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).cast("long").as("wcount"))
      .withColumn("len", length(col("word")))
      .persist(disk)
    val chars = wf
      .select(col("wcount"), explode(expr(
        "transform(sequence(1, len), i -> substring(word, i, 1))")).as("piece"))
      .groupBy("piece").agg(sum("wcount").cast("long").as("cnt"))
    val subs = wf
      .select(col("wcount"), explode(expr(
        subPiecesSql)).as("piece"))
      .groupBy("piece").agg(sum("wcount").cast("long").as("cnt"))
    val top64 = subs.orderBy(col("cnt").desc, col("piece")).limit(64)
    val voc0 = chars.unionByName(top64)
    // total via an unpartitioned window over the ≤|chars|+64-row AGGREGATE
    // (the audit_change_reasons discipline) — a separate totals agg +
    // broadcast join would add a sequential job to an already deep chain
    val totW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val voc = voc0
      .withColumn("nt", sum("cnt").over(totW).cast("long"))
      .select(col("piece"), length(col("piece")).as("plen"), col("cnt"),
        expr("cast(round(-log2((1.0 * cnt) / nt), 6) as decimal(18,6))")
          .as("cost"))
      .persist(disk) // ≤ |chars| + 64 rows; read by the map and the output
    (wf, voc)
  }

  /** The exact-Viterbi fold expression (one higher-order fold per
    * distinct word; expects `word`, `len`, and the broadcast `vmap`
    * piece→cost map in scope). Shared by both unigram ops. */
  private[graft] val sparkViterbiSt: String =
    s"""element_at(aggregate(sequence(1, len),
       |  array(named_struct('cost', cast(0 as decimal(18,6)), 'n', 0, 'seg', '')),
       |  (acc, j) -> array_append(acc, array_min(filter(
       |    transform(sequence(1, 4), l ->
       |      IF(l <= j AND element_at(vmap, substring(word, j - l + 1, l)) IS NOT NULL,
       |         named_struct(
       |           'cost', cast(element_at(acc, j - l + 1).cost
       |                        + element_at(vmap, substring(word, j - l + 1, l))
       |                        as decimal(18,6)),
       |           'n', element_at(acc, j - l + 1).n + 1,
       |           'seg', concat(element_at(acc, j - l + 1).seg, ' ',
       |                         substring(word, j - l + 1, l))),
       |         NULL)),
       |    x -> x IS NOT NULL)))), len + 1)""".stripMargin

  /** Viterbi-segment `wf` under piece table `voc(piece, cost)`:
    * (word, wcount, len, cost, n_pieces, seg), persisted. */
  private def viterbiUnder(s: SparkSession, wf: DataFrame, voc: DataFrame)
      : DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // sorted (piece, cost) entries for the native kernel's binary search
    // — ViterbiSegment is NativeExprSpec-pinned st-identical to the
    // sparkViterbiSt HOF fold this op previously ran (and to the
    // oracle's unrolled-CTE DP)
    val varr = voc.agg(
      array_sort(collect_list(struct(col("piece"), col("cost"))))
        .as("ventries"))
    wf.crossJoin(broadcast(varr))
      .filter(expr(
        s"assert_true(len <= $UnigramSteps, 'tok_unigram: word exceeds unrolled DP') IS NULL"))
      .withColumn("st", call_function("graft_viterbi", col("word"), col("ventries")))
      .select(col("word"), col("wcount"), col("len"),
        expr("st.cost").as("cost"), expr("st.n").as("n_pieces"),
        expr("substring(st.seg, 2)").as("seg"))
      .persist(disk)
  }

  /** Piece occurrences of the segmentation `vit` (word, wcount, seg),
    * weighted by word count: (piece, `out`). */
  private def pieceCounts(vit: DataFrame, out: String): DataFrame =
    vit.select(col("wcount"), explode(split(col("seg"), " ")).as("piece"))
      .filter(col("piece") =!= "")
      .groupBy("piece").agg(sum("wcount").cast("long").as(out))

  /** The EM re-estimate of `vit`: each piece's count `em_cnt` and cost
    * `em_cost` = round(−log2(p), 6) bits. The total rides an unpartitioned
    * window over the piece-bounded aggregate. */
  private def emCosts(vit: DataFrame): DataFrame =
    pieceCounts(vit, "em_cnt")
      .withColumn("nt", sum("em_cnt").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("long"))
      .select(col("piece"), col("em_cnt"),
        expr("cast(round(-log2((1.0 * em_cnt) / nt), 6) as decimal(18,6))")
          .as("em_cost"))

  /** The corpus loss of the segmentation `vit` in exact integer micro-bits,
    * one row: `out`. */
  private def pathLoss(vit: DataFrame, out: String): DataFrame =
    vit.agg(sum(col("wcount") * (col("cost") * lit(1000000)).cast("long"))
      .cast("long").as(out))

  /** DuckDB twin of [[pieceCounts]] over the Viterbi CTE `vit`: `name`. */
  private def duckPieceCounts(name: String, out: String, vit: String): String =
    s"""$name AS (SELECT piece, CAST(sum(wcount) AS BIGINT) AS $out FROM (
       |    SELECT unnest(list_filter(str_split(struct_extract(st, 'seg'), ' '),
       |        x -> x <> '')) AS piece, wcount
       |    FROM $vit) GROUP BY 1)""".stripMargin

  /** DuckDB twin of [[emCosts]] over `vit`: `name` (with `<name>c` and
    * `<name>t` before it). */
  private def duckEmCosts(name: String, vit: String): String =
    s"""${duckPieceCounts(s"${name}c", "em_cnt", vit)},
       |${name}t AS (SELECT CAST(sum(em_cnt) AS BIGINT) AS nt FROM ${name}c),
       |$name AS MATERIALIZED (SELECT piece, em_cnt,
       |    CAST(round(-log2((1.0 * em_cnt) / ${name}t.nt), 6) AS DECIMAL(18,6)) AS em_cost
       |  FROM ${name}c CROSS JOIN ${name}t)""".stripMargin

  /** DuckDB twin of [[pathLoss]] over `vit`: `name`. */
  private def duckPathLoss(name: String, out: String, vit: String): String =
    s"""$name AS (SELECT CAST(sum(wcount *
       |    CAST(struct_extract(st, 'cost') * 1000000 AS BIGINT)) AS BIGINT)
       |    AS $out FROM $vit)""".stripMargin

  val tokUnigram: Q = Q.sql(
    "tok_unigram",
    s"""WITH $duckSeedCtes,
       |${duckViterbiChain("d", "voc")},
       |${duckEmCosts("em", "dvit")},
       |${duckPathLoss("lb", "loss_before_micro", "dvit")},
       |la AS (SELECT CAST(sum(em_cnt *
       |    CAST(em_cost * 1000000 AS BIGINT)) AS BIGINT)
       |    AS loss_after_micro FROM em),
       |outp AS (SELECT em.piece, CAST(v.plen AS BIGINT) AS plen,
       |    v.cnt AS seed_cnt, em.em_cnt,
       |    CAST(CAST(v.cost * 1000000 AS BIGINT) AS DOUBLE) / 1000000
       |      AS seed_cost_bits,
       |    CAST(CAST(em.em_cost * 1000000 AS BIGINT) AS DOUBLE) / 1000000
       |      AS em_cost_bits
       |  FROM em JOIN voc v ON v.piece = em.piece
       |  ORDER BY em.em_cnt DESC, em.piece LIMIT 32)
       |SELECT outp.*, lb.loss_before_micro, la.loss_after_micro
       |FROM outp CROSS JOIN lb CROSS JOIN la
       |ORDER BY em_cnt DESC, piece""".stripMargin) { (s, d) =>
    // ONE corpus pass → occurrence-weighted distinct-word table, then
    // the E-step: exact Viterbi per distinct word via the native
    // graft_viterbi kernel (ViterbiSegment — NativeExprSpec-pinned
    // st-identical to the interpreted HOF fold it replaced). dp[j] =
    // min over piece lengths 1–4 of dp[j-l] + cost(word[j-l+1 .. j]),
    // minimized over (cost, n, seg) structs — field-lexicographic, seg
    // encodes the path so the order is total. Single-char pieces come
    // from the corpus itself, so every position is reachable.
    val (wf, voc) = seedVocab(s, d)
    val vit = viterbiUnder(s, wf, voc)
    // M-step: piece counts under the Viterbi segmentation
    val em = emCosts(vit)
    // corpus loss in exact integer micro-bits: before = Viterbi path
    // costs under seed probs; after = the SAME segmentation re-scored
    // under the re-estimated probs (the EM Q-function, ≥ guaranteed)
    val lb = pathLoss(vit, "loss_before_micro")
    val la = em.agg(
      sum(col("em_cnt") * (col("em_cost") * lit(1000000)).cast("long"))
        .cast("long").as("loss_after_micro"))
    em.join(broadcast(voc.select(col("piece"), col("plen"),
        col("cnt").as("seed_cnt"), col("cost").as("seed_cost"))), Seq("piece"))
      .orderBy(col("em_cnt").desc, col("piece")).limit(32)
      .crossJoin(broadcast(lb)).crossJoin(broadcast(la))
      .select(col("piece"), col("plen").cast("long").as("plen"),
        col("seed_cnt"), col("em_cnt"),
        ((col("seed_cost") * 1000000).cast("long").cast("double") / 1000000)
          .as("seed_cost_bits"),
        ((col("em_cost") * 1000000).cast("long").cast("double") / 1000000)
          .as("em_cost_bits"),
        col("loss_before_micro"), col("loss_after_micro"))
      .orderBy(col("em_cnt").desc, col("piece"))
  }

  /** Unigram-LM vocabulary pruning — the second half of Kudo's
    * SentencePiece training loop ([[tokUnigram]] is the EM half): rank
    * every multi-character piece by its corpus-loss contribution under
    * the EM-estimated model (em_cnt · em_cost micro-bits — exactly the
    * mass the piece absorbs in the Viterbi segmentation; pieces the
    * E-step never used contribute 0 and prune first), drop the bottom
    * half (single characters are never pruned — they guarantee every
    * word stays segmentable), renormalize piece probabilities over the
    * survivors, and re-segment the corpus under the pruned vocabulary.
    * Report: the top-32 kept pieces with seed / EM / post-prune counts
    * and both cost columns, plus vocab-size accounting and the corpus
    * loss before/after the prune in exact integer micro-bits — the
    * size-vs-loss trade a tokenizer release decides on.
    *
    * Scale shape: identical to tok_unigram — the corpus is touched once
    * (the shared persisted distinct-word table feeds both Viterbi
    * passes), the piece tables are ≤ |chars|+64 rows riding 1-row
    * broadcast maps, both E-steps are per-row DP folds over distinct
    * WORDS, and every aggregate is piece- or word-bounded. Nothing
    * all-pairs, no corpus-sized shuffle.
    *
    * Determinism: contribution is an exact integer (count × micro-bit
    * cost), ranked with piece-string tie-breaks; both loss totals are
    * integer micro-bit sums; the only float ops are the two
    * round(−log2(p), 6) cost formulas, each rounded once. */
  val tokUnigramPrune: Q = Q.sql(
    "tok_unigram_prune",
    s"""WITH $duckSeedCtes,
       |${duckViterbiChain("d", "voc")},
       |${duckEmCosts("e1", "dvit")},
       |contrib AS MATERIALIZED (SELECT v.piece, v.plen, v.cnt,
       |    coalesce(e.em_cnt, 0) AS em_cnt,
       |    coalesce(e.em_cnt, 0)
       |      * coalesce(CAST(e.em_cost * 1000000 AS BIGINT), 0) AS contrib_micro
       |  FROM voc v LEFT JOIN e1 e ON e.piece = v.piece),
       |multi AS (SELECT *, row_number()
       |    OVER (ORDER BY contrib_micro, piece) AS rk
       |  FROM contrib WHERE plen >= 2),
       |nmult AS (SELECT count(*) AS nm FROM multi),
       |kept0 AS (SELECT piece, plen, cnt, em_cnt FROM contrib WHERE plen = 1
       |  UNION ALL
       |  SELECT piece, plen, cnt, em_cnt FROM multi, nmult WHERE rk > nm // 2),
       |tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM kept0),
       |kvoc AS MATERIALIZED (SELECT piece, plen, cnt, em_cnt,
       |    CAST(round(-log2((1.0 * cnt) / tot2.nt), 6) AS DECIMAL(18,6)) AS cost
       |  FROM kept0 CROSS JOIN tot2),
       |${duckViterbiChain("p", "kvoc")},
       |${duckPieceCounts("c2", "pruned_cnt", "pvit")},
       |${duckPathLoss("ls", "loss_seed_micro", "dvit")},
       |${duckPathLoss("lp", "loss_pruned_micro", "pvit")},
       |nn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM voc) AS n_seed_pieces,
       |         (SELECT CAST(count(*) AS BIGINT) FROM kvoc) AS n_kept,
       |         (SELECT CAST(count(*) AS BIGINT) FROM voc)
       |           - (SELECT CAST(count(*) AS BIGINT) FROM kvoc) AS n_pruned),
       |outp AS (SELECT k.piece, CAST(k.plen AS BIGINT) AS plen,
       |    k.cnt AS seed_cnt, k.em_cnt,
       |    coalesce(c2.pruned_cnt, 0) AS pruned_cnt,
       |    CAST(CAST(k.cost * 1000000 AS BIGINT) AS DOUBLE) / 1000000
       |      AS pruned_cost_bits
       |  FROM kvoc k LEFT JOIN c2 ON c2.piece = k.piece
       |  ORDER BY coalesce(c2.pruned_cnt, 0) DESC, k.piece LIMIT 32)
       |SELECT outp.*, nn.n_seed_pieces, nn.n_kept, nn.n_pruned,
       |  ls.loss_seed_micro, lp.loss_pruned_micro
       |FROM outp CROSS JOIN nn CROSS JOIN ls CROSS JOIN lp
       |ORDER BY pruned_cnt DESC, piece""".stripMargin) { (s, d) =>
    val (wf, voc) = seedVocab(s, d)
    val vit1 = viterbiUnder(s, wf, voc)
    // piece-bounded totals ride unpartitioned windows over the
    // aggregates (≤|chars|+64 rows) instead of separate agg + broadcast
    // hops — the op's cost at small SF is its sequential job chain
    val totW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val e1 = emCosts(vit1)
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val contrib = voc
      .join(e1, Seq("piece"), "left")
      .select(col("piece"), col("plen"), col("cnt"),
        coalesce(col("em_cnt"), lit(0L)).cast("long").as("em_cnt"),
        (coalesce(col("em_cnt"), lit(0L))
          * coalesce((col("em_cost") * 1000000).cast("long"), lit(0L)))
          .cast("long").as("contrib_micro"))
      .persist(disk) // piece-bounded; read by the rank and the union
    val rkW = Window.orderBy(col("contrib_micro"), col("piece"))
    val multi = contrib.filter(col("plen") >= 2)
      .withColumn("rk", row_number().over(rkW)) // piece-bounded window
      .withColumn("nm", count(lit(1)).over(totW))
    val kept0 = contrib.filter(col("plen") === 1)
      .select("piece", "plen", "cnt", "em_cnt")
      .unionByName(multi
        .filter(col("rk") > col("nm") / 2)
        .select("piece", "plen", "cnt", "em_cnt"))
    val kvoc = kept0
      .withColumn("nt", sum("cnt").over(totW).cast("long"))
      .select(col("piece"), col("plen"), col("cnt"), col("em_cnt"),
        expr("cast(round(-log2((1.0 * cnt) / nt), 6) as decimal(18,6))")
          .as("cost"))
      .persist(disk)
    val vit2 = viterbiUnder(s, wf, kvoc)
    val c2 = pieceCounts(vit2, "pruned_cnt")
    val ls = pathLoss(vit1, "loss_seed_micro")
    val lp = pathLoss(vit2, "loss_pruned_micro")
    val nSeed = voc.agg(count(lit(1)).cast("long").as("n_seed_pieces"))
    val nKept = kvoc.agg(count(lit(1)).cast("long").as("n_kept"))
    kvoc.join(c2, Seq("piece"), "left")
      .select(col("piece"), col("plen").cast("long").as("plen"),
        col("cnt").as("seed_cnt"), col("em_cnt"),
        coalesce(col("pruned_cnt"), lit(0L)).cast("long").as("pruned_cnt"),
        ((col("cost") * 1000000).cast("long").cast("double") / 1000000)
          .as("pruned_cost_bits"))
      .orderBy(col("pruned_cnt").desc, col("piece")).limit(32)
      .crossJoin(broadcast(nSeed)).crossJoin(broadcast(nKept))
      .crossJoin(broadcast(ls)).crossJoin(broadcast(lp))
      .select(col("piece"), col("plen"), col("seed_cnt"), col("em_cnt"),
        col("pruned_cnt"), col("pruned_cost_bits"),
        col("n_seed_pieces"), col("n_kept"),
        (col("n_seed_pieces") - col("n_kept")).as("n_pruned"),
        col("loss_seed_micro"), col("loss_pruned_micro"))
      .orderBy(col("pruned_cnt").desc, col("piece"))
  }

  val all: Seq[Q] = Seq(bpePairStats, tokFertility, bpeMergeIterate,
    tokWordpiece, tokUnigram, tokUnigramPrune)
}
