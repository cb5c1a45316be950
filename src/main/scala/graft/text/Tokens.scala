package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus token core: the three steps every corpus op starts with —
  * fold the corpus to distinct texts, split a text into words, explode a
  * word array into n-grams — each defined once, with its DuckDB oracle
  * twin next to it (SURVEY §4). */
private[graft] object Tokens {

  // ------------------------------------------------------- collapse --

  /** Exact-duplicate collapse: `df` folded to one row per distinct text
    * (keyed by a 128-bit [[graft.Hash128]] fold) with its multiplicity
    * `m`, plus the (`carry`…, tkey) map for the final expansion join.
    * Model counts weighted by `m` equal the doc-level counts exactly, and
    * twin docs score identically, so collapsed compute + linear
    * join-back reproduces the naive per-doc output bit-for-bit — the
    * duplicate-collapse discipline (SURVEY §4). On a replicated crawl
    * every downstream stage (token explode, tf partial-agg, model joins)
    * shrinks by the duplication factor, for the price of the one
    * text-key shuffle dedup_exact already pays (partial-agg: each map
    * partition ships at most one copy of each distinct text). Key
    * injectivity is pinned by CorpusOpsSpec's guard, by the cross-engine
    * hash gate at every tested SF (the DuckDB twins stay doc-level), and
    * structurally by the 128-bit width (~2^-128 per pair — holds past
    * 1e9 distinct texts, where a 64-bit fold's birthday bound reached
    * ~3%).
    *
    * `aggs` adds per-text aggregates to the distinct side: text-pure
    * columns such as `min(n_chars)`, or a first-occurrence doc id. An
    * unused `m` or `text` is pruned by the optimizer. */
  def distinctTexts(df: DataFrame, carry: Seq[String] = Seq("doc_id"),
      aggs: Seq[Column] = Nil): (DataFrame, DataFrame) = {
    val tkey = graft.Hash128.key128(col("text")).as("tkey")
    val keyed = df.select(carry.map(col) :+ tkey: _*)
    val dist = df.select(tkey +: df.columns.toSeq.map(col): _*).groupBy("tkey")
      .agg(min("text").as("text"), count(lit(1)).cast("long").as("m") +: aggs: _*)
    (keyed, dist)
  }

  /** DuckDB twin of [[distinctTexts]]: the CTE `name`, one row per
    * distinct `documents` text keyed by `tk` (its md5), plus `aggs`. With
    * `keys` (columns of `documents`), one row per distinct (text, keys…). */
  def duckDistinctTexts(aggs: Seq[String] = Nil, name: String = "grp",
      keys: Seq[String] = Nil): String =
    s"""$name AS MATERIALIZED (
       |  SELECT md5(text) AS tk, ${keys.map(k => s"$k, ").mkString}min(text) AS text${aggs.map(a => s",\n    $a").mkString}
       |  FROM documents GROUP BY ${(1 to keys.size + 1).mkString(", ")})""".stripMargin

  /** DuckDB twin of [[distinctTexts]] with its expansion map: `grp`, one
    * row per distinct `documents` text keyed by its first doc id `gid`,
    * with multiplicity `m`, and `gmr`, the (doc_id, gid) map. */
  val duckDocGroups: String =
    """grp AS MATERIALIZED (SELECT min(doc_id) AS gid, CAST(count(*) AS BIGINT) AS m,
      |       text FROM documents GROUP BY text),
      |gmr AS MATERIALIZED (SELECT d.doc_id, g.gid
      |       FROM documents d JOIN grp g USING (text))""".stripMargin

  // ---------------------------------------------------------- words --

  /** The word stream of `text`: split on single spaces, so empty words
    * survive between double spaces and an empty text is one empty word. */
  val words: Column = split(col("text"), " ")

  /** DuckDB twin of [[words]]: the word list of the text expression `text`. */
  def duckWordList(text: String = "text"): String = s"str_split($text, ' ')"

  /** The CTE `name` over `from` with the `keep` select items and the word
    * list `ws` ([[duckWordList]]). */
  def duckWords(keep: String = "doc_id", from: String = "documents",
      name: String = "w"): String =
    s"$name AS (SELECT ${if (keep.isEmpty) "" else s"$keep, "}${duckWordList()} AS ws FROM $from)"

  // -------------------------------------------------------- n-grams --

  /** Word n-grams of the word array `ws`, in order — the native
    * [[WordShingles]] codegen expression (empty below n words).
    *
    * History of this call site, because the formulation decided two
    * rounds of bench: `transform(sequence(...), i -> element_at(ws, i)
    * ...)` was O(words²) per evaluation (the optimizer's
    * InferFiltersFromGenerate clones the expression into scan filters
    * with `ws` inlined back to `split(text)`, and higher-order functions
    * run interpreted — no codegen, no subexpression elimination), fixed in
    * round 2 by a sliced `zip_with` ([[TextOps.shingleHofExpr]]). Round 3
    * moved the primitive into a Catalyst Expression with `doGenCode`: one
    * generated loop, no intermediate slice arrays, and the enclosing
    * Project stays inside whole-stage codegen. */
  def shingles(n: Int, ws: Column = col("ws")): Column =
    call_function("graft_shingles", ws, lit(n))

  /** One row per n-gram of `ws` (per distinct n-gram when `distinct`). */
  def grams(n: Int, distinct: Boolean = false): Column =
    explode(if (distinct) array_distinct(shingles(n)) else shingles(n))

  /** DuckDB twin of [[shingles]]: the n-gram list of the word list `ws`. */
  def duckGrams(n: Int): String = {
    val parts = (0 until n).map(k => if (k == 0) "ws[i]" else s"ws[i+$k]")
      .mkString(" || ' ' || ")
    val hi = if (n == 2) "len(ws)" else s"len(ws) - ${n - 2}"
    s"list_transform(range(1, $hi), i -> $parts)"
  }

  /** DuckDB twin of `grams(3, distinct = true)` per document: `w`, `sh`
    * (the `keep` columns + distinct shingle list `s3`) and `ex`, one row
    * per (`keep`…, shingle). */
  def duckShingleRows(keep: String): String =
    s"""${duckWords(keep)},
       |sh AS (SELECT $keep,
       |         list_distinct(${duckGrams(3)}) AS s3
       |       FROM w),
       |ex AS (SELECT $keep, unnest(s3) AS shingle FROM sh)""".stripMargin

  /** DuckDB twin of the words → 3-gram shingle step over `from`: `w`
    * (the `keep` columns + word list `ws`) and `docs` (+ shingle list
    * `s3`), ready for the MinHash signature CTE. */
  def duckShingleCtes(keep: String = "doc_id", from: String = "documents"): String =
    s"""${duckWords(keep, from)},
       |docs AS (SELECT $keep, ${duckGrams(3)} AS s3 FROM w)""".stripMargin
}
