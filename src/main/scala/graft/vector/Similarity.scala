package graft.vector

import graft.{Det, Q, Tables}
import graft.Tables.{embeddings => emb}
import graft.text.TextOps.{bandPairs, duckBandPairs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embedding column.
  *
  * Scale design: the brute-force scorer is only ever applied with a small,
  * broadcastable query side (top-k for a bounded query set); the scale path
  * is cell-blocked (IVF-style coarse quantization) so candidate generation
  * is an equi-join on cell id — shuffle-partitionable, never an O(n²)
  * cross product. Scoring runs through the codegen'd native
  * [[CosineSimilarity]] expression.
  *
  * Determinism discipline: similarities are rounded to 4 decimals *before*
  * ranking/thresholding on both the Spark and oracle side, so tie-breaking
  * (by neighbor id) sees identical values in both engines.
  */
object Similarity {

  private def cosR(a: Column, b: Column): Column =
    round(call_function("graft_cosine", a, b), 4)

  /** The serve query set: vectors with id < 10 are the queries of every
    * ANN op. */
  private val isQuery: Column = col("vec_id") < 10

  // ---- DuckDB oracle twins: only oracle strings read these ----

  /** Twin of [[Tables.embeddings]]: the CTE `name` with the `keep` columns and the
    * embedding as a DOUBLE list `emb`. */
  private[graft] def duckEmb(keep: String = "vec_id", name: String = "e"): String =
    s"$name AS (SELECT $keep, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"

  /** Twin of [[isQuery]] over the id column `id`. */
  private def duckIsQuery(id: String = "vec_id"): String = s"$id < 10"

  // ---- shared quantizer-training blocks (trained IVF + PQ, both engines) --

  /** Decimal-exact per-label centroid CTEs (e, u, cd, cent) — the single
    * oracle-side definition of quantizer training. */
  private val centCtesSql: String =
    s"""${duckEmb("vec_id, label")},
      |u AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim FROM e),
      |cd AS (SELECT label, dim,
      |         CAST(sum(CAST(v AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS c
      |       FROM u GROUP BY label, dim),
      |cent AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cd GROUP BY label)""".stripMargin

  /** PQ subspace argmin CTEs (sub, ad, amin) on top of [[centCtesSql]]. */
  private val pqAminCtesSql: String =
    """sub AS (SELECT unnest([1, 2, 3, 4]) AS m),
      |ad AS (SELECT vec_id, m, clabel,
      |         list_sum(list_transform(range((m-1)*16 + 1, m*16 + 1),
      |           i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
      |       FROM e, cent, sub),
      |amin AS (SELECT vec_id, m, clabel AS code, dist FROM (
      |           SELECT *, row_number() OVER (
      |             PARTITION BY vec_id, m ORDER BY dist, clabel) AS rn FROM ad)
      |         WHERE rn = 1)""".stripMargin

  /** The exact per-dim sum of the `embedding`s of a group: DECIMAL(28,9)
    * lanes of the mergeable `graft_vec_sum` aggregate. */
  private val decimalVecSum: Column =
    expr("graft_vec_sum(transform(embedding, x -> cast(cast(x as double) as decimal(28,9))))")

  /** One row per coordinate of each embedding of `df`: (dim, v), `v` the
    * coordinate rounded to 6, then the `keep` columns. */
  private def coordRows(df: DataFrame, keep: String*): DataFrame =
    df.select(keep.map(col) :+
        posexplode(expr("transform(embedding, x -> cast(x as double))")).as(Seq("pos", "x")): _*)
      .select(Seq((col("pos") + 1).cast("long").as("dim"), round(col("x"), 6).as("v")) ++
        keep.map(col): _*)

  /** DuckDB twin of [[coordRows]] (`r`) and its per-dim moments `a` (dim,
    * n_vecs, mean, ex2 = mean of v², vmin, vmax) over `e`. */
  private val duckDimMoments: String =
    s"""${duckEmb()},
       |u AS (SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS dim FROM e),
       |r AS (SELECT CAST(dim AS BIGINT) AS dim, round(x, 6) AS v FROM u),
       |a AS (SELECT dim, count(*) AS n_vecs,
       |        CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
       |        CAST(sum(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS ex2,
       |        min(v) AS vmin, max(v) AS vmax
       |      FROM r GROUP BY dim)""".stripMargin

  /** Spark twin of `cent`: decimal-exact per-label centroids. One
    * vector-level partial aggregate (graft_vec_sum) — no per-dim row is
    * ever exploded or shuffled; per-dim values are bit-identical to the
    * former posexplode + groupBy(label, dim) shape (exact decimal sums,
    * same double division). */
  private def labelCentroids(e: DataFrame): DataFrame = e
    .groupBy(col("label").as("clabel"))
    .agg(decimalVecSum.as("sv"), count(lit(1)).as("n"))
    .select(col("clabel"), expr("transform(sv, x -> cast(x as double) / n)").as("cv"))

  /** Full-vector centroid-distance ranks CTEs (ad, ar — named with
    * prefix `p`) on top of [[centCtesSql]] — rn = 1 is the IVF cell
    * assignment; rn ≤ p is the multi-probe list. */
  private def centRanksCtes(p: String = ""): String =
    s"""${p}ad AS (SELECT vec_id, clabel,
      |         list_sum(list_transform(range(1, len(emb) + 1),
      |           i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
      |       FROM e, cent),
      |${p}ar AS (SELECT vec_id, clabel, row_number() OVER (
      |         PARTITION BY vec_id ORDER BY dist, clabel) AS rn FROM ${p}ad)""".stripMargin

  /** Spark twin of `ar`: every (vector, label centroid) pair ranked by
    * L2², ties by label — the [[cellRanks]] fold over the label codebook;
    * `cid` is the label. */
  private def centroidRanks(e: DataFrame): DataFrame =
    cellRanks(toEmbD(e), labelCents(e))

  /** Spark twin of `amin`: per-(vector, subspace) nearest sub-codeword —
    * (vec_id, m, code, dist); the codebook rides a broadcast. The argmin
    * is a per-row fold over the codebook array with the same
    * (dist, clabel) tie rule as the former per-(vector, m) window — no
    * |vectors|×4×|codebook| shuffle. */
  private def pqAmin(e: DataFrame): DataFrame = {
    val sub = "slice(emb_d, (m-1)*16 + 1, 16)"
    e.withColumn("emb_d", expr("transform(embedding, x -> cast(x as double))"))
      .crossJoin(broadcast(labelCents(e)))
      .withColumn("m", explode(array((1 to 4).map(lit): _*)))
      .select(col("vec_id"), col("m"),
        expr(
          s"""aggregate(cents,
             |  named_struct('d', cast('Infinity' as double), 'c', -1),
             |  (acc, x) -> IF(graft_l2sq($sub, slice(x.cv, (m-1)*16 + 1, 16)) < acc.d,
             |    named_struct('d', graft_l2sq($sub, slice(x.cv, (m-1)*16 + 1, 16)),
             |                 'c', x.cid),
             |    acc))""".stripMargin).as("mc"))
      .select(col("vec_id"), col("m"), col("mc.c").as("code"),
        col("mc.d").as("dist"))
  }

  // ---- serve core: cell ranks, probe list, query broadcast, top-k ----

  private def toEmbD(e: DataFrame): DataFrame = e.select(col("vec_id"),
    expr("transform(embedding, x -> cast(x as double))").as("emb_d"))

  /** Centroid set folded to ONE broadcast row — array of (cid, cv) sorted
    * by cid. All per-vector centroid math (argmin assignment, min dist,
    * full rank order) then runs as a per-row fold/sort over this bounded
    * array: ZERO corpus-wide shuffle, where the join + groupBy(vec_id) /
    * per-vector window alternatives re-exchange the whole corpus on every
    * use — at 100 TB the difference between one map pass and a corpus
    * shuffle per Lloyd round. */
  private def centsArr(cent: DataFrame): DataFrame =
    cent.agg(expr("array_sort(collect_list(struct(cid, cv)))").as("cents"))

  /** The label codebook as a [[centsArr]] row (cid = label). */
  private def labelCents(e: DataFrame): DataFrame =
    centsArr(labelCentroids(e).withColumnRenamed("clabel", "cid"))

  /** Nearest centroid over the cents array as a (d, cid) struct: strict
    * `<` on a cid-ascending fold keeps the lower cid on distance ties —
    * exactly `min(struct(dist, cid))`, the old shuffle-side tie rule. */
  private val argmin =
    """aggregate(cents,
      |  named_struct('d', cast('Infinity' as double), 'cid', -1),
      |  (acc, x) -> IF(graft_l2sq(emb_d, x.cv) < acc.d,
      |    named_struct('d', graft_l2sq(emb_d, x.cv), 'cid', x.cid),
      |    acc))""".stripMargin

  /** The cell rank order: every (vector, centroid) pair ranked by
    * (L2², cid) — (vec_id, cid, dist, rn), rn = 1 is the cell assignment,
    * rn ≤ p the probe list. Distance runs through the native graft_l2sq
    * loop (bit-identical to the oracle's list_sum fold). Rank = position in
    * the per-row (dist, cid)-sorted centroid array — the same total order
    * a per-vector row_number window produces, without shuffling
    * |vectors|×|cells| rows to sort them. */
  private def cellRanks(embD: DataFrame, cents: DataFrame): DataFrame =
    embD.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        posexplode(expr(
          """array_sort(transform(cents,
            |  x -> named_struct('dist', graft_l2sq(emb_d, x.cv),
            |                    'cid', x.cid)))""".stripMargin))
          .as(Seq("pos", "dc")))
      .select(col("vec_id"), col("dc.cid").as("cid"),
        col("dc.dist").as("dist"), (col("pos") + 1).cast("int").as("rn"))

  /** The probe list over one rank table: database vectors keep their
    * rn = 1 cell (`assign`: vec_id, cell); the queries (vec_id < 10) probe
    * their `nprobe` nearest cells (query_id, qe, qcell, probe). Every
    * candidate lives in exactly one cell, so no pair is scored twice.
    * Persisted: both frames branch off the rank subtree, and without it
    * each re-runs centroid training + the |vectors|×|cells| scoring (≤
    * nprobe tiny rows per vector; session-scoped, Verify clearCache). */
  private def probeList(e: DataFrame, ranks: DataFrame,
      nprobe: Int): (DataFrame, DataFrame) = {
    val r = ranks.filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("cid"), col("rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val assign = r.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val qprobe = r.filter(isQuery)
      .select(col("vec_id"), col("cid").as("qcell"), col("rn").cast("int").as("probe"))
    val q = e.join(qprobe, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("qcell"), col("probe"))
    (assign, q)
  }

  /** Vectors per IVF cell of the rank frame `ranks`: (cell, n_vecs) over
    * each vector's rn = 1 cell. */
  private def cellSizes(ranks: DataFrame): DataFrame =
    ranks.filter(col("rn") === 1)
      .groupBy(col("cid").as("cell"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))

  /** DuckDB twin of [[cellSizes]] over the label-codebook ranks `ar`: `a`. */
  private val duckCellSizes: String =
    """a AS (SELECT clabel AS cell, CAST(count(*) AS BIGINT) AS n_vecs
      |      FROM ar WHERE rn = 1 GROUP BY 1)""".stripMargin

  /** Oracle twin of [[probeList]]'s `assign`: each vector's rn = 1 cell
    * off the rank CTE `ar`, whose centroid id column is `cid`. */
  private def duckAssignSql(cid: String, materialized: Boolean = false): String =
    s"assign AS${if (materialized) " MATERIALIZED" else ""} " +
      s"(SELECT vec_id, $cid AS cell FROM ar WHERE rn = 1)"

  /** Oracle twin of [[ivfSearch]]: with `e`, the rank CTE `ar` (centroid
    * id column `cid`) and `assign` in scope, each query probes its
    * `nprobe` nearest cells; ends with `r`, the ranked per-query
    * candidates (query_id, neighbor_id, cell, probe, cos_sim, rank). */
  private def duckProbeSql(cid: String, nprobe: Int): String =
    s"""qprobe AS (SELECT vec_id, $cid AS cell, CAST(rn AS INT) AS probe
       |           FROM ar WHERE rn <= $nprobe AND ${duckIsQuery()}),
       |q AS (SELECT e.vec_id AS query_id, e.emb AS qe, p.cell, p.probe
       |      FROM e JOIN qprobe p ON e.vec_id = p.vec_id),
       |cands AS (SELECT e.vec_id AS neighbor_id, e.emb AS ce, a.cell
       |          FROM e JOIN assign a ON e.vec_id = a.vec_id),
       |s AS (SELECT query_id, neighbor_id, q.cell, q.probe,
       |        round(list_cosine_similarity(qe, ce), 4) AS cos_sim
       |      FROM q JOIN cands ON q.cell = cands.cell
       |        AND cands.neighbor_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |      FROM s)""".stripMargin

  /** The IVF search over the cell ranks `ranks` of `e`: database vectors
    * keep their rn = 1 cell; queries probe their `nprobe` nearest cells
    * (fan-out only on the bounded broadcast query side; every candidate
    * lives in exactly one cell, so nothing scores twice). Each query's
    * top-3 by cosine: query_id, neighbor_id, the `carry` columns of the
    * probe (`cell`, `probe`), cos_sim, rank. */
  private def ivfSearch(e: DataFrame, ranks: DataFrame, nprobe: Int,
      carry: Seq[String]): DataFrame = {
    val (assign, q) = probeList(e, ranks, nprobe)
    topk(probe(cellCands(e, assign), q, byCell = true)
      .select(Seq(col("query_id"), col("neighbor_id")) ++ carry.map(col) :+
        cosR(col("qe"), col("ce")).as("cos_sim"): _*),
      col("cos_sim").desc, 3)
      .orderBy("query_id", "rank")
  }

  /** The IVF candidate side: every vector with its assigned cell. */
  private def cellCands(e: DataFrame, assign: DataFrame): DataFrame =
    e.join(assign, Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"), col("cell"))

  /** The query-side broadcast: the bounded query frame (query_id, …)
    * meets every candidate (neighbor_id, …) — in the query's probed cell
    * (`qcell` = `cell`) when `byCell` — and never the query itself. The
    * corpus side streams once and never shuffles for the join. */
  private def probe(cands: DataFrame, q: DataFrame, byCell: Boolean): DataFrame = {
    val notSelf = col("neighbor_id") =!= col("query_id")
    cands.join(broadcast(q),
      if (byCell) col("qcell") === col("cell") && notSelf else notSelf)
  }

  /** The top-k tie rule: per query, the `k` best by `score` (a sort
    * order — `desc` for similarities), ties by neighbor_id — the
    * row_number every oracle's `r` CTE computes. */
  private def topk(scored: DataFrame, score: Column, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(score, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /** The 4-dim sign-bit coarse cell (1 of 16) of the raw embedding. */
  private val signCell: Column =
    (when(element_at(col("embedding"), 1) > 0f, 8).otherwise(0)
      + when(element_at(col("embedding"), 2) > 0f, 4).otherwise(0)
      + when(element_at(col("embedding"), 3) > 0f, 2).otherwise(0)
      + when(element_at(col("embedding"), 4) > 0f, 1).otherwise(0)).cast("int")

  /** Oracle twin of [[signCell]]. */
  private val duckSignCell: String =
    """CAST(embedding[1] > 0 AS INT) * 8 + CAST(embedding[2] > 0 AS INT) * 4
      |      + CAST(embedding[3] > 0 AS INT) * 2 + CAST(embedding[4] > 0 AS INT)""".stripMargin

  /** Brute-force cosine top-k per query vector (query side broadcast). */
  val annTopk: Q = Q.sql(
    "ann_topk",
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE ${duckIsQuery()}),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |s AS (SELECT query_id, vec_id AS neighbor_id,
      |        round(list_cosine_similarity(qe, ce), 4) AS cos_sim
      |      FROM q, c WHERE vec_id <> query_id),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, cos_sim, rank
      |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    topk(probe(c, q, byCell = false)
      .select(col("query_id"), col("neighbor_id"), cosR(col("qe"), col("ce")).as("cos_sim")),
      col("cos_sim").desc, 5)
      .orderBy("query_id", "rank")
  }

  /** Binary-quantized serve path: 1-bit-per-dimension sign signatures
    * (Charikar STOC'02 hyperplane hashing degenerated to the coordinate
    * planes) ranked by Hamming distance — the cheapest ANN tier of all:
    * 64 dims collapse to 8 BYTES, distance is two XOR+popcounts, and a
    * 100 TB embedding store's signature table fits where the float
    * vectors never will. The exact-cosine leg rides along as the recall
    * audit (the ann_recall convention): each served neighbor carries its
    * true cosine and whether it sits in the exact top-5, so the
    * 1-bit tier's quality is a published column, not a hope.
    *
    * Determinism: the signature is an integer fold over float sign bits
    * (identical parquet floats ⇒ identical bits in both engines), split
    * into two 32-bit halves so no 2^63 term can overflow DuckDB's
    * checked BIGINT sum; Hamming ties rank by neighbor_id.
    *
    * Scale: signatures are one per-row fold (no shuffle); the query side
    * is bounded (10 rows) and BROADCAST against one signature scan; the
    * audit leg joins the ≤ |q|·5 served set as a broadcast against the
    * exact-rank pass. Corpus-side data never shuffles. */
  val annHamming: Q = {
    def duckSig(lo: Int, hi: Int, shift: Int) =
      s"CAST(list_sum(list_transform(range($lo, $hi), i -> CASE WHEN emb[i+1] > 0 THEN (1::BIGINT << (i - $shift)) ELSE 0::BIGINT END)) AS BIGINT)"
    def sparkSig(lo: Int, hi: Int, shift: Int) =
      s"aggregate(sequence($lo, ${hi - 1}), CAST(0 AS BIGINT), (acc, i) -> acc + IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i - $shift), CAST(0 AS BIGINT)))"
    Q.sql(
      "ann_hamming",
      s"""WITH e AS (SELECT vec_id, embedding AS emb FROM embeddings),
        |sig AS (SELECT vec_id,
        |    ${duckSig(0, 32, 0)} AS lo,
        |    ${duckSig(32, 64, 32)} AS hi
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
        |      FROM sig WHERE ${duckIsQuery()}),
        |h AS (SELECT query_id, s.vec_id AS neighbor_id,
        |        CAST(bit_count(xor(s.lo, qlo)) + bit_count(xor(s.hi, qhi)) AS INT)
        |          AS hamming
        |      FROM sig s, q WHERE s.vec_id <> query_id),
        |hr AS (SELECT *, row_number() OVER (
        |         PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
        |       FROM h),
        |served AS (SELECT * FROM hr WHERE rank <= 5),
        |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |       FROM embeddings WHERE ${duckIsQuery()}),
        |cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
        |cs AS (SELECT query_id, vec_id AS neighbor_id,
        |         round(list_cosine_similarity(qe, ce), 4) AS cos_sim
        |       FROM qv, cv WHERE vec_id <> query_id),
        |ex AS (SELECT *, row_number() OVER (
        |         PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS xrank
        |       FROM cs)
        |SELECT s.query_id, s.neighbor_id, s.hamming, s.rank, ex.cos_sim,
        |  CASE WHEN ex.xrank <= 5 THEN 1 ELSE 0 END AS in_exact_top5
        |FROM served s JOIN ex
        |  ON s.query_id = ex.query_id AND s.neighbor_id = ex.neighbor_id
        |ORDER BY s.query_id, s.rank""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val sig = e.select(col("vec_id"),
        expr(sparkSig(0, 32, 0)).as("lo"),
        expr(sparkSig(32, 64, 32)).as("hi"))
      val q = sig.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
      val served = topk(
        probe(sig.select(col("vec_id").as("neighbor_id"), col("lo"), col("hi")), q,
          byCell = false)
          .select(col("query_id"), col("neighbor_id"),
            expr("bit_count(lo ^ qlo) + bit_count(hi ^ qhi)").cast("int").as("hamming")),
        col("hamming"), 5)
      val qv = e.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val wX = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
      val ex = probe(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce")),
          qv, byCell = false)
        .select(col("query_id"), col("neighbor_id"), cosR(col("qe"), col("ce")).as("cos_sim"))
        .withColumn("xrank", row_number().over(wX))
      ex.join(broadcast(served), Seq("query_id", "neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("hamming"), col("rank"),
          col("cos_sim"),
          when(col("xrank") <= 5, 1).otherwise(0).as("in_exact_top5"))
        .orderBy("query_id", "rank")
    }
  }

  /** IVF-style ANN: sign-bit coarse quantizer over the first 4 dimensions
    * assigns each vector to 1 of 16 cells; search touches only the query's
    * cell. At scale, cells are the shuffle/partition key. */
  val annIvf: Q = Q.sql(
    "ann_ivf",
    s"""WITH ${duckEmb(s"vec_id, $duckSignCell AS cell")},
      |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM e WHERE ${duckIsQuery()}),
      |s AS (SELECT query_id, e.vec_id AS neighbor_id, e.cell,
      |        round(list_cosine_similarity(qe, emb), 4) AS cos_sim
      |      FROM q JOIN e ON q.cell = e.cell AND e.vec_id <> q.query_id),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, cell, cos_sim, rank
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d).select(col("vec_id"), col("embedding"), signCell.as("cell"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cell").as("qcell"))
    topk(probe(e.withColumnRenamed("vec_id", "neighbor_id"), q, byCell = true)
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        cosR(col("qe"), col("embedding")).as("cos_sim")),
      col("cos_sim").desc, 3)
      .orderBy("query_id", "rank")
  }

  /** Embedding near-duplicate pairs via random-hyperplane LSH: 2 bands of
    * sign bits (axis-aligned hyperplanes, so both engines derive identical
    * bits); candidates are pairs sharing EITHER band's bucket (the classic
    * multi-table OR for recall), residual check = exact cosine ≥ 0.35.
    *
    * Scale shape — ADAPTIVE bits-per-band (round 4): a fixed bit count
    * means bucket size ∝ corpus and the candidate join quietly goes
    * quadratic (measured 1.0 s → 26.8 s at sf0.1 → sf1 with 4 fixed
    * bits). Bits now grow with the corpus: the smallest b ∈ [4, 16] with
    * 32·2^b ≥ n (integer comparisons only — a float log₂ would be
    * libm-dependent and could split the engines at a boundary), so the
    * expected bucket stays ≈ 32 vectors and per-bucket pair work is
    * bounded as the corpus grows. Band k reads dims (k-1)·b+1 … k·b;
    * b ≤ 16 keeps both bands inside the 64-dim vector with room for more
    * bands. At sf0.01 (n=500 ⇒ b=4) this reproduces the previous
    * semantics bit-for-bit. */
  /** Adaptive sign-LSH band width: bits grow with corpus size so the
    * EXPECTED bucket size stays constant — the blocking discipline that
    * keeps candidate pairs O(n·const) at any scale (fixed-cell blocking
    * is O(n²/cells) the moment cells stop growing with the data). CASE
    * chain valid in BOTH dialects; 32·2^16 = 2M vectors headroom. Shared
    * by dedup_embedding and ann_knn_graph. */
  private val adaptiveBitsSql: String =
    (4 to 15).map(b => s"WHEN n <= ${32L * (1L << b)} THEN $b")
      .mkString("CASE ", " ", " ELSE 16 END")

  /** (vec_id, band, bucket) sign-bit LSH banding of the corpus — the
    * Spark twin of the `eb`/`bands` oracle CTEs, 2 bands of b adaptive
    * bits each. */
  private[graft] def signBands(e: DataFrame,
      countFrom: Option[DataFrame] = None): DataFrame = {
    // the adaptive bit width must follow the FULL corpus count even when
    // banding only group representatives (ann_knn_graph's duplicate
    // collapse) — the oracle always derives b from count(*) over e
    val n1 = countFrom.getOrElse(e).agg(count(lit(1)).as("n"))
    e.crossJoin(broadcast(n1))
      .withColumn("b", expr(adaptiveBitsSql))
      .select(col("vec_id"), col("b"), col("embedding"),
        explode(expr("array(1, 2)")).as("band"))
      .withColumn("bucket", expr(
        """aggregate(transform(sequence(1, b),
          |    i -> IF(element_at(embedding, CAST((band - 1) * b + i AS INT)) > CAST(0 AS DOUBLE),
          |            shiftleft(CAST(1 AS BIGINT), CAST(b - i AS INT)),
          |            CAST(0 AS BIGINT))),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .select("vec_id", "band", "bucket")
  }

  /** (a, b, cos_sim) of each band-candidate pair of `pairs` (columns a,
    * b), both ids looked up as `id` in `vecs` — the scoring step after
    * every sign-LSH band join. */
  private def pairCosines(pairs: DataFrame, vecs: DataFrame, id: String): DataFrame = {
    val Array(a, b) = pairs.columns
    pairs
      .join(vecs.select(col(id).as(a), col("embedding").as("ea")), Seq(a))
      .join(vecs.select(col(id).as(b), col("embedding").as("eb")), Seq(b))
      .select(col(a), col(b), cosR(col("ea"), col("eb")).as("cos_sim"))
  }

  /** DuckDB twin of [[pairCosines]]: the CTE `name` of the rows of
    * `pairs` (the (a, b) pair and any other columns it carries) with their
    * rounded cosine `cos_sim`, both ids looked up in `vecs` (vec_id, emb). */
  private[graft] def duckPairCosines(name: String, pairs: String, a: String, b: String,
      vecs: String = "e"): String =
    s"""$name AS (SELECT $pairs.*,
       |    round(list_cosine_similarity(ea.emb, eb2.emb), 4) AS cos_sim
       |  FROM $pairs JOIN $vecs ea ON ea.vec_id = $pairs.$a
       |    JOIN $vecs eb2 ON eb2.vec_id = $pairs.$b)""".stripMargin

  /** Oracle CTE chain (n1, eb, bands) shared by the sign-LSH consumers.
    * `countExpr` overrides where the adaptive bit width's n comes from —
    * the SQL twin of [[signBands]]'s countFrom (a collapsed twin banding
    * only group representatives must keep the full-corpus geometry). */
  private[graft] def signBandsSql(src: String = "e",
      n1Cte: String = ""): String = {
    val n1 = if (n1Cte.isEmpty) s"n1 AS (SELECT count(*) AS n FROM $src)"
             else n1Cte
    s"""$n1,
       |eb AS (SELECT vec_id, emb, ($adaptiveBitsSql) AS b FROM $src, n1),
       |bands AS (SELECT vec_id, band,
       |            list_sum(list_transform(range(1, b + 1),
       |              i -> CASE WHEN emb[(band - 1) * b + i] > 0
       |                   THEN (CAST(1 AS BIGINT) << CAST(b - i AS INT))
       |                   ELSE CAST(0 AS BIGINT) END)) AS bucket
       |          FROM eb, (SELECT unnest([1, 2]) AS band) bb)""".stripMargin
  }

  val dedupEmbedding: Q =
    Q.sql(
      "dedup_embedding",
      s"""WITH ${duckEmb()},
        |${signBandsSql()},
        |${duckBandPairs("cand(id_a, id_b)", "bands", "vec_id", "<")},
        |${duckPairCosines("sc", "cand", "id_a", "id_b")}
        |SELECT id_a, id_b, cos_sim FROM sc WHERE cos_sim >= 0.35
        |ORDER BY cos_sim DESC, id_a, id_b""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      pairCosines(bandPairs(signBands(e), "vec_id", _ < _, "id_a", "id_b"), e, "vec_id")
        .filter(col("cos_sim") >= 0.35)
        .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
    }

  /** Per-label centroids — the k-means / IVF-training building block: one
    * partial-aggregating shuffle on (label, dim); at scale this is how IVF
    * cells get trained (assign → recompute centroid → repeat). */
  val embCentroids: Q = Q.sql(
    "emb_centroids",
    s"""SELECT label, dim, round(${Det.dsum9Sql("v")} / count(*), 6) AS c, count(*) AS n
      |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
      |        generate_subscripts(embedding, 1) AS dim
      |      FROM embeddings)
      |GROUP BY label, dim ORDER BY label, dim""".stripMargin) { (s, d) =>
    // vector-level mergeable sum, exploded to (label, dim) rows only AFTER
    // the aggregate — the exchange carries |labels| buffers, not
    // |labels|×|dims| rows; values bit-identical to the per-dim shape
    Tables.embeddings(s, d)
      .groupBy("label")
      .agg(decimalVecSum.as("sv"), count(lit(1)).as("n"))
      .select(col("label"), posexplode(col("sv")).as(Seq("pos", "sd")), col("n"))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        round(col("sd").cast("double") / col("n"), 6).as("c"), col("n"))
      .orderBy("label", "dim")
  }

  /** Trained IVF ANN — the real two-stage shape: (1) train a coarse
    * quantizer (per-label centroids, decimal-exact per-dim means so both
    * engines derive bit-identical centroids), (2) assign every vector to
    * its nearest centroid (broadcast the tiny centroid table, argmin by
    * (L2², label)), (3) search only the query's cell (equi-join on cell =
    * the shuffle key at scale). Distances fold per-element in array order
    * on both engines; assignment ties break by label. nprobe=1 here; the
    * multi-probe extension is the same plan with an exploded top-p
    * centroid list. */
  val annIvfTrained: Q = Q.sql(
    "ann_ivf_trained",
    s"""WITH $centCtesSql,
      |${centRanksCtes()},
      |${duckAssignSql("clabel")},
      |${duckProbeSql("clabel", 1)}
      |SELECT query_id, neighbor_id, cell, cos_sim, rank
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    ivfSearch(e, centroidRanks(e), nprobe = 1, Seq("cell"))
  }

  /** Int8 scalar quantization per vector — the ANN memory-compression
    * step (a 4× shrink vs float32 changes what fits in executor memory at
    * 100 TB): symmetric max-abs scaling, code = round_half_up(x·127/mx),
    * plus the max reconstruction error as the quality readout. All
    * arithmetic is per-element IEEE double with `floor(y + 0.5)` rounding
    * (deterministic and identical across engines — no rint ties) and the
    * error reduce is a max, not a sum, so no ordering concerns. */
  val embQuantize: Q = Q.sql(
    "emb_quantize",
    s"""WITH ${duckEmb()},
      |m AS (SELECT vec_id, emb,
      |        list_max(list_transform(emb, x -> abs(x))) AS mx FROM e),
      |c AS (SELECT vec_id, mx,
      |        list_transform(emb, x -> CASE WHEN mx = 0 THEN 0
      |          ELSE CAST(floor(x * 127.0 / mx + 0.5) AS INT) END) AS codes,
      |        CASE WHEN mx = 0 THEN 0.0 ELSE list_max(
      |          list_transform(range(1, len(emb) + 1),
      |            i -> abs(emb[i] - CAST(floor(emb[i] * 127.0 / mx + 0.5) AS INT)
      |                 * mx / 127.0))) END AS err
      |      FROM m)
      |SELECT vec_id, len(codes) AS n_dims, round(mx / 127.0, 6) AS scale,
      |  array_to_string(codes, ',') AS codes, round(err, 6) AS max_err
      |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .withColumn("mx", expr("array_max(transform(emb, x -> abs(x)))"))
      .withColumn("codes", expr(
        "transform(emb, x -> IF(mx = 0D, 0, CAST(floor(x * 127.0 / mx + 0.5) AS INT)))"))
      .withColumn("err", expr(
        """IF(mx = 0D, 0D, array_max(zip_with(emb, codes,
          |  (x, c) -> abs(x - c * mx / 127.0))))""".stripMargin))
      // `codes` goes out as a delimited string, not ARRAY<INT>: array-typed
      // output columns are unhashable downstream (pandas-side compare).
      .select(col("vec_id"), size(col("codes")).cast("long").as("n_dims"),
        round(col("mx") / 127.0, 6).as("scale"),
        expr("array_join(transform(codes, c -> cast(c AS STRING)), ',')").as("codes"),
        round(col("err"), 6).as("max_err"))
      .orderBy("vec_id")
  }

  /** L2 normalization — the prerequisite for treating dot product as
    * cosine (what every ANN index assumes): per-vector norm, the unit
    * vector's first component as a spot value, and a post-normalization
    * norm check rounded to 6 decimals (≡ 1 for non-degenerate vectors).
    * The norm fold runs per-element in array order on both engines. */
  val embNormalize: Q = Q.sql(
    "emb_normalize",
    s"""WITH ${duckEmb()},
      |n AS (SELECT vec_id, emb,
      |        sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e)
      |SELECT vec_id, round(nrm, 6) AS norm,
      |  round(emb[1] / nrm, 6) AS u1,
      |  round(sqrt(list_sum(list_transform(emb, x -> (x / nrm) * (x / nrm)))), 6)
      |    AS unit_norm
      |FROM n ORDER BY vec_id""".stripMargin) { (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(transform(emb, x -> x * x), 0D, (a, b) -> a + b))"))
      .select(col("vec_id"), round(col("nrm"), 6).as("norm"),
        round(expr("emb[0]") / col("nrm"), 6).as("u1"),
        round(expr(
          "sqrt(aggregate(transform(emb, x -> (x / nrm) * (x / nrm)), 0D, (a, b) -> a + b))"),
          6).as("unit_norm"))
      .orderBy("vec_id")
  }

  /** Product quantization — the compression step past scalar int8
    * (emb_quantize): the 64-dim vector splits into 4 subspaces of 16 dims,
    * each encoded as the id of its nearest sub-codeword, so a vector
    * stores in 4 codes instead of 64 floats (the asymmetric-distance
    * search layout that makes billion-vector ANN fit executor memory).
    *
    * Codebooks are trained exactly like ann_ivf_trained's coarse
    * quantizer — decimal-exact per-label centroids (the label plays the
    * k-means seed) — restricted to each subspace's dims. Reconstruction
    * error falls out for free: the codeword for subspace m is the argmin
    * centroid over those dims, so recon L2² = Σ_m min-dist, summed in
    * fixed pivot order (d1+d2+d3+d4) on both engines.
    *
    * Scale shape: the codebook is tiny (labels × 64 doubles) and
    * BROADCAST; assignment is a per-row argmin over the broadcast — one
    * corpus scan, no shuffle until the contractual output sort. */
  val annPq: Q = Q.sql(
    "ann_pq",
    s"""WITH $centCtesSql,
      |$pqAminCtesSql,
      |p AS (SELECT vec_id,
      |        max(CASE WHEN m = 1 THEN code END) AS c1,
      |        max(CASE WHEN m = 2 THEN code END) AS c2,
      |        max(CASE WHEN m = 3 THEN code END) AS c3,
      |        max(CASE WHEN m = 4 THEN code END) AS c4,
      |        max(CASE WHEN m = 1 THEN dist END) AS d1,
      |        max(CASE WHEN m = 2 THEN dist END) AS d2,
      |        max(CASE WHEN m = 3 THEN dist END) AS d3,
      |        max(CASE WHEN m = 4 THEN dist END) AS d4
      |      FROM amin GROUP BY vec_id)
      |SELECT vec_id, c1 || ',' || c2 || ',' || c3 || ',' || c4 AS codes,
      |  round(d1 + d2 + d3 + d4, 6) AS recon_err
      |FROM p ORDER BY vec_id""".stripMargin) { (s, d) =>
    def pick(i: Int, c: String) = max(when(col("m") === i, col(c))).as(s"${c(0)}$i"
      ) // c1..c4 / d1..d4
    pqAmin(emb(s, d)).groupBy("vec_id")
      .agg(pick(1, "code"), pick(2, "code"), pick(3, "code"), pick(4, "code"),
        pick(1, "dist"), pick(2, "dist"), pick(3, "dist"), pick(4, "dist"))
      .select(col("vec_id"),
        concat_ws(",", col("c1"), col("c2"), col("c3"), col("c4")).as("codes"),
        round(col("d1") + col("d2") + col("d3") + col("d4"), 6).as("recon_err"))
      .orderBy("vec_id")
  }

  /** The PQ search path: asymmetric-distance (ADC) top-k. Queries keep
    * their raw vectors; database vectors exist ONLY as their 4 PQ codes —
    * distance is to the reconstruction (concatenated sub-codewords), which
    * is exactly what a PQ index computes via lookup tables at serve time.
    *
    * Scale shape: reconstruction is a per-row join against the broadcast
    * codebook (no shuffle), and the query side is broadcast as in
    * ann_topk — the corpus streams once; ADC distances are rounded before
    * ranking so tie-breaks see identical values in both engines. */
  /** Oracle CTEs (cw, recon) reconstructing every database vector from its
    * PQ codes — shared by the ADC serve path and its composites. */
  private val pqReconCtesSql: String =
    """cw AS (SELECT a.vec_id, a.m, cent.cv[(a.m-1)*16 + 1 : a.m*16] AS sub_cw
      |       FROM amin a JOIN cent ON cent.clabel = a.code),
      |recon AS (SELECT vec_id, flatten(list(sub_cw ORDER BY m)) AS rv
      |          FROM cw GROUP BY vec_id)""".stripMargin

  /** Spark twin of `recon`: (vec_id, rv) with rv = the concatenation of
    * the vector's four nearest sub-codewords (broadcast codebook join —
    * no shuffle; exactly what a PQ index stores, expanded). */
  private def pqRecon(e: DataFrame): DataFrame =
    pqAmin(e)
      .join(broadcast(labelCentroids(e)), col("code") === col("clabel"))
      .withColumn("sub_cw", expr("slice(cv, (m-1)*16 + 1, 16)"))
      .groupBy("vec_id")
      .agg(expr("flatten(transform(array_sort(collect_list(struct(m, sub_cw))), x -> x.sub_cw))")
        .as("rv"))

  val annPqSearch: Q = Q.sql(
    "ann_pq_search",
    s"""WITH $centCtesSql,
      |$pqAminCtesSql,
      |$pqReconCtesSql,
      |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE ${duckIsQuery()}),
      |s AS (SELECT query_id, r.vec_id AS neighbor_id,
      |        round(list_sum(list_transform(range(1, 65),
      |          i -> (qe[i] - rv[i]) * (qe[i] - rv[i]))), 6) AS adc_dist
      |      FROM q, recon r WHERE r.vec_id <> query_id),
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
      |       FROM s)
      |SELECT query_id, neighbor_id, adc_dist, rank
      |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val recon = pqRecon(e)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> cast(x as double))").as("qe"))
    topk(probe(recon.withColumnRenamed("vec_id", "neighbor_id"), q, byCell = false)
      .select(col("query_id"), col("neighbor_id"),
        round(expr("graft_l2sq(qe, rv)"), 6).as("adc_dist")),
      col("adc_dist"), 3)
      .orderBy("query_id", "rank")
  }

  /** Oracle twin of the ground truth [[recallAt3]] reads: `bf` scores
    * every query of `e` against every other vector, `bf3` keeps each
    * query's top 3 (rank `rk`, ties by neighbor id) — [[annTopk]]'s
    * ranking cut at 3. */
  private val duckTruth3Sql: String =
    s"""bf AS (SELECT bq.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(bq.emb, e.emb), 4) AS cs
       |       FROM e bq JOIN e ON e.vec_id <> bq.vec_id WHERE ${duckIsQuery("bq.vec_id")}),
       |bf3 AS (SELECT query_id, neighbor_id, rk FROM (
       |          SELECT *, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
       |          FROM bf) WHERE rk <= 3)""".stripMargin

  /** The oracle head of the sign-cell index audits: `e` with its sign
    * cell, the queries `q`, the brute-force top-3 `bf3`
    * ([[duckTruth3Sql]]) and the index's top-3 `iv3` (query_id,
    * neighbor_id, rk) — the twin of [[annIvf]] ranked against [[annTopk]]. */
  private lazy val duckSignRecallHead: String =
    s"""${duckEmb(s"vec_id, $duckSignCell AS cell")},
      |q AS (SELECT vec_id AS query_id, emb AS qe, cell AS qcell
      |      FROM e WHERE ${duckIsQuery()}),
      |$duckTruth3Sql,
      |iv AS (SELECT query_id, e.vec_id AS neighbor_id,
      |         round(list_cosine_similarity(qe, emb), 4) AS cs
      |       FROM q JOIN e ON q.qcell = e.cell AND e.vec_id <> q.query_id),
      |iv3 AS (SELECT query_id, neighbor_id, rk FROM (
      |          SELECT *, row_number() OVER (
      |            PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rk
      |          FROM iv) WHERE rk <= 3)""".stripMargin

  /** recall@3 of an index's top-3 against the brute-force top-3
    * ([[annTopk]]), per query: the body of every recall audit. */
  private def recallAt3(index: Q)(s: SparkSession, d: String): DataFrame = {
    val bf3 = annTopk.fn(s, d).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val iv3 = index.fn(s, d).filter(col("rank") <= 3)
      .select(col("query_id").as("iv_query"), col("neighbor_id").as("iv_neighbor"))
    bf3.join(iv3,
        col("query_id") === col("iv_query") && col("neighbor_id") === col("iv_neighbor"),
        "left")
      .groupBy("query_id")
      .agg(count(col("iv_neighbor")).as("n_hits"), count(lit(1)).as("n_exact"),
        round(count(col("iv_neighbor")) / 3.0, 4).as("recall_at_3"))
      .orderBy("query_id")
  }

  /** DuckDB twin of [[recallAt3]]: per query, the hits of the index
    * top-3 `iv3` in the brute-force top-3 `bf3`. */
  private val duckRecallAt3: String =
    """SELECT b.query_id, count(i.neighbor_id) AS n_hits, count(*) AS n_exact,
      |  round(count(i.neighbor_id) / 3.0, 4) AS recall_at_3
      |FROM bf3 b LEFT JOIN iv3 i
      |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** ANN quality audit: recall@3 of the IVF index against the brute-force
    * ground truth, per query — the readout that justifies serving from
    * cells instead of scanning the corpus (the same estimate-globally /
    * audit-locally shape as dedup_minhash_est). Composes the two existing
    * operators, so the audit can never drift from what the index actually
    * returns; the ground-truth side stays affordable because the query set
    * is the bounded broadcast side. */
  val annRecall: Q = Q.sql(
    "ann_recall",
    s"""WITH $duckSignRecallHead
      |$duckRecallAt3""".stripMargin)(recallAt3(annIvf))

  /** Position-aware twin of ann_recall: nDCG@3 of the IVF list against
    * the brute-force ranking. Recall counts WHICH true neighbors the
    * index returned; nDCG scores WHERE it put them — an index that
    * returns all three but inverts their order serves a worse first
    * result, and recall can't see that. Graded relevance = 4 − true rank
    * (3/2/1, 0 for non-neighbors); the log2 position discounts are
    * quantized to 3 decimals (1.000 / 0.631 / 0.500) so both engines fold
    * exact decimals instead of racing libm log2 ulps, and the DCG rides
    * the Det fixed-point sum. IDCG for the 3/2/1 ideal = 4.762.
    *
    * Scale: composes the two existing rank tables (query side broadcast,
    * corpus never re-shuffled); the join and fold run on ≤ |queries|×3
    * rows. */
  val annNdcg: Q = Q.sql(
    "ann_ndcg",
    s"""WITH $duckSignRecallHead,
      |g AS (SELECT i.query_id,
      |        coalesce(4 - b.rk, 0)
      |          * (CASE i.rk WHEN 1 THEN 1.000 WHEN 2 THEN 0.631
      |             ELSE 0.500 END) AS gain
      |      FROM iv3 i LEFT JOIN bf3 b
      |        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
      |SELECT query_id, ${Det.dsumRoundSql("gain", 4)} AS dcg,
      |  round(${Det.dsumRoundSql("gain", 4)} / 4.762, 4) AS ndcg_at_3
      |FROM g GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
    val bf3 = annTopk.fn(s, d).filter(col("rank") <= 3)
      .select(col("query_id").as("bf_query"), col("neighbor_id").as("bf_neighbor"),
        col("rank").as("bf_rank"))
    val iv3 = annIvf.fn(s, d).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val g = iv3.join(bf3,
        col("query_id") === col("bf_query") && col("neighbor_id") === col("bf_neighbor"),
        "left")
      .select(col("query_id"),
        (coalesce(lit(4) - col("bf_rank"), lit(0))
          * when(col("rank") === 1, lit(1.000))
            .when(col("rank") === 2, lit(0.631)).otherwise(lit(0.500))).as("gain"))
    g.groupBy("query_id")
      .agg(Det.dsumRound(col("gain"), 4).as("dcg"),
        round(Det.dsumRound(col("gain"), 4) / 4.762, 4).as("ndcg_at_3"))
      .orderBy("query_id")
  }

  /** Multi-probe trained IVF (nprobe = 2): each query searches its TWO
    * nearest cells — the standard recall knob when the true neighbor sits
    * across a cell boundary. Database vectors keep their rn = 1
    * assignment, so the probe fan-out multiplies only the bounded query
    * side (still broadcast); each candidate lives in exactly one cell, so
    * no pair is scored twice. `probe` records which probe found the
    * neighbor — probe-2 rows in the output are exactly the recall that
    * nprobe = 1 (ann_ivf_trained) forfeits. */
  val annIvfMultiprobe: Q = Q.sql(
    "ann_ivf_multiprobe",
    s"""WITH $centCtesSql,
      |${centRanksCtes()},
      |${duckAssignSql("clabel")},
      |${duckProbeSql("clabel", 2)}
      |SELECT query_id, neighbor_id, cell, probe, cos_sim, rank
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    ivfSearch(e, centroidRanks(e), nprobe = 2, Seq("cell", "probe"))
  }

  /** The IVF tuning curve: recall@3 and scanned-candidate share for
    * nprobe ∈ {1, 2, 4} in ONE report — the measurement that prices the
    * knob before a cluster run commits to it (recall rises with nprobe,
    * so does the scan bill; the elbow is a data property, not a
    * default). Composed from the LIVE index machinery (centroid ranks =
    * the multiprobe list, ground truth = the brute-force serve path) so
    * the curve cannot drift from what the index actually returns — the
    * ann_recall discipline, parameterized.
    *
    * Scale: the (vector, centroid) rank table is computed once (per-row
    * fold over the broadcast centroid array — no corpus exchange) and
    * persisted MEMORY_AND_DISK (assignment + probe lists both read it);
    * each (query, candidate) pair is scored ONCE — a neighbor's single
    * assigned cell meets at most one of the query's probe cells, so the
    * nprobe fan-out (×3) multiplies only bounded probe-hit pairs, never
    * corpus rows; ground truth is the ≤ |q|·3 brute-force set broadcast
    * against the probe hits; output is 3 rows. */
  val annNprobeCurve: Q = Q.sql(
    "ann_nprobe_curve",
    s"""WITH $centCtesSql,
      |${centRanksCtes()},
      |${duckAssignSql("clabel")},
      |qprobe AS (SELECT vec_id, clabel AS cell, CAST(rn AS INT) AS probe_rank
      |           FROM ar WHERE rn <= 4 AND ${duckIsQuery()}),
      |q AS (SELECT e.vec_id AS query_id, e.emb AS qe, p.cell, p.probe_rank
      |      FROM e JOIN qprobe p ON e.vec_id = p.vec_id),
      |cands AS (SELECT e.vec_id AS neighbor_id, e.emb AS ce, a.cell
      |          FROM e JOIN assign a ON e.vec_id = a.vec_id),
      |pairs AS (SELECT query_id, neighbor_id, probe_rank,
      |            round(list_cosine_similarity(qe, ce), 4) AS cs
      |          FROM q JOIN cands ON q.cell = cands.cell
      |            AND cands.neighbor_id <> q.query_id),
      |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
      |px AS (SELECT nprobe, query_id, neighbor_id, cs
      |       FROM pairs CROSS JOIN np WHERE probe_rank <= nprobe),
      |shares AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS sum_cand
      |           FROM px GROUP BY 1),
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY nprobe, query_id ORDER BY cs DESC, neighbor_id) AS rk
      |       FROM px),
      |iv3 AS (SELECT nprobe, query_id, neighbor_id FROM rk WHERE rk <= 3),
      |$duckTruth3Sql,
      |hits AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
      |         FROM iv3 JOIN bf3 ON iv3.query_id = bf3.query_id
      |           AND iv3.neighbor_id = bf3.neighbor_id
      |         GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nqq FROM bf3)
      |SELECT shares.nprobe, nqq AS n_queries, coalesce(n_hits, 0) AS n_hits,
      |  round(coalesce(n_hits, 0) / (3.0 * nqq), 4) AS mean_recall_at_3,
      |  round(sum_cand / (1.0 * nqq * (n - 1)), 4) AS mean_cand_share
      |FROM shares LEFT JOIN hits ON shares.nprobe = hits.nprobe
      |  CROSS JOIN tot CROSS JOIN nq
      |ORDER BY shares.nprobe""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val (assign, q) = probeList(e, centroidRanks(e), nprobe = 4)
    val px = probe(cellCands(e, assign), q, byCell = true)
      .select(col("query_id"), col("neighbor_id"), col("probe"),
        cosR(col("qe"), col("ce")).as("cs"))
      .withColumn("nprobe", explode(array(lit(1), lit(2), lit(4))))
      .filter(col("probe") <= col("nprobe"))
    val shares = px.groupBy("nprobe").agg(count(lit(1)).cast("long").as("sum_cand"))
    val wr = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cs").desc, col("neighbor_id"))
    val iv3 = px.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 3).select("nprobe", "query_id", "neighbor_id")
    val bf3 = annTopk.fn(s, d).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val hits = iv3.join(broadcast(bf3), Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).cast("long").as("n_hits"))
    val tot = e.agg(count(lit(1)).cast("long").as("n"))
    val nq = bf3.agg(countDistinct("query_id").cast("long").as("nqq"))
    shares.join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(nq))
      .select(col("nprobe"), col("nqq").as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / (lit(3.0) * col("nqq")), 4)
          .as("mean_recall_at_3"),
        round(col("sum_cand") / (lit(1.0) * col("nqq") * (col("n") - 1)), 4)
          .as("mean_cand_share"))
      .orderBy("nprobe")
  }

  /** PQ budget audit: per-subspace quantization distortion against the
    * subspace's own variance — the "is 1 byte per 16 dims enough"
    * sizing question, answered before a 100 TB code table is built.
    * `distortion_share` = quantization SSE over centered SSE: near 0
    * means the codebook explains the subspace, near 1 means the codes
    * are noise and serve ranking (ann_pq_search) degrades to chance. A
    * skewed per-subspace profile argues for per-subspace codebook sizes
    * (OPQ-style rebalancing). Composes the LIVE pqAmin assignment, so
    * the audit prices exactly the codes ann_pq ships.
    *
    * Determinism: per-vector distances rounded once to 6 and summed as
    * DECIMAL (order-free); subspace SSE from decimal-exact Σv/Σv²
    * moments via one shared double formula. Scale: the argmin is the
    * per-row codebook fold (no corpus exchange); both aggregates are
    * mergeable partial-agg groupBys bounded at 4/|dims| rows. */
  val annPqDistortion: Q = {
    val meanF = "round(sum_dist / n, 6)"
    val sseF = "round(sv2 - sv * sv / cnt, 2)"
    val shareF = "round(sum_dist / (sv2 - sv * sv / cnt), 4)"
    Q.sql(
      "ann_pq_distortion",
      s"""WITH $centCtesSql,
        |$pqAminCtesSql,
        |qd AS (SELECT m, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(dist, 6) AS DECIMAL(28, 6))) AS DOUBLE)
        |           AS sum_dist
        |       FROM amin GROUP BY 1),
        |u2 AS (SELECT CAST((dim - 1) // 16 + 1 AS INT) AS m,
        |         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(28, 9))) AS DOUBLE) AS sv2,
        |         CAST(sum(CAST(v AS DECIMAL(28, 9))) AS DOUBLE) AS sv,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM (SELECT unnest(emb) AS v, generate_subscripts(emb, 1) AS dim
        |             FROM e)
        |       GROUP BY 1)
        |SELECT qd.m, n AS n_vecs,
        |  $meanF AS mean_err,
        |  $sseF AS subspace_sse,
        |  $shareF AS distortion_share
        |FROM qd JOIN u2 ON qd.m = u2.m ORDER BY qd.m""".stripMargin) { (s, d) =>
      val e = emb(s, d)
      val qd = pqAmin(e).groupBy("m")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(round(col("dist"), 6).cast("decimal(28,6)")).cast("double")
            .as("sum_dist"))
      val u2 = e
        .select(posexplode(col("embedding")).as(Seq("pos", "vf")))
        .select((expr("pos div 16") + 1).cast("int").as("m"),
          col("vf").cast("double").as("v"))
        .groupBy("m")
        .agg(sum(expr("CAST(round(v * v, 9) AS DECIMAL(28, 9))")).cast("double")
            .as("sv2"),
          Det.dsum9(col("v")).as("sv"),
          count(lit(1)).cast("long").as("cnt"))
      qd.join(broadcast(u2), Seq("m"))
        .selectExpr("m", "n AS n_vecs",
          s"$meanF AS mean_err",
          s"$sseF AS subspace_sse",
          s"$shareF AS distortion_share")
        .orderBy("m")
    }
  }

  /** IVF+PQ — the production ANN composition (coarse quantizer to prune
    * the corpus, product quantizer to compress what remains): the query
    * probes its 2 nearest cells (ann_ivf_multiprobe's restriction) and
    * scores ONLY those candidates by asymmetric distance to their PQ
    * reconstruction (ann_pq_search's serve math). At 100 TB this is the
    * index a serving tier actually holds — cells bound the scan,
    * 4-byte-code vectors bound the memory; the raw corpus is never
    * touched at query time.
    *
    * Scale shape: cell assignment and probe list share one persisted
    * centroid-rank subtree (the multiprobe discipline); the
    * reconstruction side is a broadcast-codebook join (no shuffle); the
    * corpus-scale recon⨝assign equi-join on vec_id is un-hinted (both
    * sides ∝ corpus — AQE owns the strategy); only the ≤ 2·|queries|-row
    * probe side broadcasts. Each database vector lives in exactly one
    * cell, so no candidate is scored twice. */
  val annIvfPq: Q = Q.sql(
    "ann_ivf_pq",
    s"""WITH $centCtesSql,
      |$pqAminCtesSql,
      |$pqReconCtesSql,
      |${centRanksCtes("f")},
      |asg AS (SELECT vec_id, clabel AS cell FROM far WHERE rn = 1),
      |qp AS (SELECT f.vec_id AS query_id, e.emb AS qe, f.clabel AS cell,
      |         CAST(f.rn AS INT) AS probe
      |       FROM far f JOIN e ON e.vec_id = f.vec_id
      |       WHERE ${duckIsQuery("f.vec_id")} AND f.rn <= 2),
      |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id, qp.probe,
      |           round(list_sum(list_transform(range(1, 65),
      |             i -> (qe[i] - rv[i]) * (qe[i] - rv[i]))), 6) AS adc_dist
      |         FROM qp JOIN asg a ON a.cell = qp.cell
      |              JOIN recon r ON r.vec_id = a.vec_id
      |         WHERE a.vec_id <> qp.query_id),
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rank
      |       FROM cand)
      |SELECT query_id, rank, neighbor_id, adc_dist, probe
      |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val (assign, q) = probeList(e, centroidRanks(e), nprobe = 2)
    val cands = pqRecon(e).join(assign, Seq("vec_id"))
      .withColumnRenamed("vec_id", "neighbor_id")
    // ADC scores the raw query against the reconstruction, as doubles
    val qd = q.withColumn("qe", expr("transform(qe, x -> cast(x as double))"))
    topk(probe(cands, qd, byCell = true)
      .select(col("query_id"), col("neighbor_id"), col("probe"),
        round(expr("graft_l2sq(qe, rv)"), 6).as("adc_dist")),
      col("adc_dist"), 3)
      .select("query_id", "rank", "neighbor_id", "adc_dist", "probe")
      .orderBy("query_id", "rank")
  }

  // ------------------------- parameterized k-means IVF (k cells, Lloyd) --

  /** Vectors added per maximin seeding round, in both engines. */
  private final val seedBatch = 8

  /** Seeding knob. `"id"` — the embeddings of the k smallest vec_ids
    * (cid = rank): one limit, zero extra passes. `"maximin"` — the
    * deterministic batch farthest-point schedule: start from the
    * smallest-id vector, then each round add the [[seedBatch]] vectors
    * with the LARGEST min-L2² to the chosen set (ties by vec_id). This is
    * the k-means‖ oversampling idea (Bahmani et al., VLDB 2012 — also what
    * Spark MLlib initializes with) with the probability-proportional
    * sample replaced by a deterministic top-m, so the DuckDB oracle
    * replays training bit-for-bit: ⌈(k-1)/seedBatch⌉ corpus passes
    * instead of sequential kmeans++'s k, and each chosen set is a tiny
    * (≤k row) eagerly-materialized frame so the loop's lineage stays
    * bounded. */
  private def seedCentroids(embD: DataFrame, k: Int, seeding: String): DataFrame = {
    val seedW = Window.orderBy("vec_id") // ≤k rows post-limit: single tiny partition
    val chosen = seeding match {
      case "id" => embD.orderBy("vec_id").limit(k)
      case "maximin" =>
        var picked = embD.orderBy("vec_id").limit(1).localCheckpoint()
        var n = 1
        while (n < k) {
          val m = math.min(seedBatch, k - n)
          // min-L2² to the chosen set as a per-row fold over the ≤k-row
          // broadcast array — min is order-free, so this is value-identical
          // to the former join + groupBy(vec_id) while shuffling NOTHING
          // (the old shape re-exchanged the whole corpus per seed round)
          val pickedArr = picked.agg(collect_list(col("emb_d")).as("pvs"))
          val next = embD.crossJoin(broadcast(pickedArr))
            .select(col("vec_id"), col("emb_d"),
              expr("""aggregate(pvs, cast('Infinity' as double),
                       (acc, pv) -> least(acc, graft_l2sq(emb_d, pv)))""")
                .as("md"))
            .orderBy(col("md").desc, col("vec_id")).limit(m)
            .select("vec_id", "emb_d")
          picked = picked.unionByName(next).localCheckpoint()
          n += m
        }
        picked
      case other => throw new IllegalArgumentException(s"unknown seeding: $other")
    }
    chosen.select(row_number().over(seedW).as("cid"), col("emb_d").as("cv"))
  }

  /** Centroid sets per Lloyd round: element 0 = the seeds, element r = the
    * decimal-exact means after round r — exposed so the convergence audit
    * can difference consecutive rounds. */
  private def kmeansRounds(embD: DataFrame, k: Int, rounds: Int,
      seeding: String): Seq[DataFrame] = {
    var cent = seedCentroids(embD, k, seeding)
    val out = scala.collection.mutable.Buffer(cent)
    for (_ <- 1 to rounds) {
      // per-row argmin fold over the broadcast centroid array, emb_d
      // carried through — the round's ONLY exchange is the (cid, pos)
      // partial aggregate (≤ k×|dims| rows per partition map-side); the
      // former join + groupBy(vec_id) + join-back shuffled the corpus
      // twice per round for the same values
      val assign = embD.crossJoin(broadcast(centsArr(cent)))
        .select(col("vec_id"), col("emb_d"), expr(s"$argmin.cid").as("cid"))
      // vector-level mergeable sum: ONE exchange of k buffers per round
      // (vs posexplode's k×|dims| rows through two exchanges), per-dim
      // values bit-identical (exact decimal sums, same double division)
      cent = assign
        .groupBy("cid")
        .agg(
          expr("graft_vec_sum(transform(emb_d, x -> cast(x as decimal(28,9))))").as("sv"),
          count(lit(1)).as("n"))
        .select(col("cid"), expr("transform(sv, x -> cast(x as double) / n)").as("cv"))
      out += cent
    }
    out.toSeq
  }

  /** K-means-trained centroid ranks with cell count and Lloyd rounds as
    * REAL knobs — the 100 TB shape the fixed label quantizer only sketched
    * (cells in the hundreds-to-thousands, trained, nprobe a parameter).
    *
    * Deterministic everywhere so the DuckDB oracle reproduces training
    * bit-for-bit: seeds are the embeddings of the k smallest vec_ids
    * (cid = rank); each Lloyd round assigns every vector to its nearest
    * centroid (L2² folded in array order, ties by cid — argmin as an
    * order-independent `min(struct(dist, cid))`, partial-aggregating
    * map-side) and recomputes centroids as decimal-exact per-dim means.
    * A cluster that loses all members simply drops out, identically in
    * both engines.
    *
    * Scale shape per round: centroids are a broadcast (k × dims doubles);
    * assignment is one corpus scan + a groupBy(vec) partial agg; centroid
    * recompute is one partial-aggregating shuffle on (cid, dim). Rounds
    * are O(log-ish) few and each is linear — the standard distributed
    * Lloyd schedule. */
  private def kmeansRanks(e: DataFrame, k: Int, rounds: Int,
      seeding: String = "id"): DataFrame = {
    val embD = toEmbD(e)
    cellRanks(embD, centsArr(kmeansRounds(embD, k, rounds, seeding).last))
  }

  private def kmeansDistSql(e: String, c: String) =
    s"list_sum(list_transform(range(1, 65), i -> ($e[i] - $c[i]) * ($e[i] - $c[i])))"

  /** Oracle twin of [[seedCentroids]]. `"id"` is one LIMIT; `"maximin"`
    * unrolls the batch farthest-point rounds as CTE hops (p0 → pN), each
    * adding the [[seedBatch]] vectors with the largest min-L2² to the chosen
    * set, ties by vec_id — the same deterministic schedule the Spark loop
    * runs. Emits a CTE named `seeds$sfx`. */
  private def kmeansSeedsSql(k: Int, seeding: String,
      sfx: String): String = seeding match {
    case "id" =>
      s"""seeds$sfx AS MATERIALIZED (
         |          SELECT row_number() OVER (ORDER BY vec_id) AS cid, emb AS cv
         |          FROM e ORDER BY vec_id LIMIT $k)""".stripMargin
    case "maximin" =>
      // every hop is MATERIALIZED: DuckDB inlines plain CTEs, and a chain
      // where p_i references p_{i-1} twice (carry-forward + argmax input)
      // would otherwise re-expand 2^rounds times
      val sb = new StringBuilder(
        s"p${sfx}0 AS MATERIALIZED (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 1)")
      var n = 1
      var i = 0
      while (n < k) {
        val m = math.min(seedBatch, k - n)
        i += 1
        sb ++= s""",
          |m$sfx$i AS MATERIALIZED (
          |        SELECT e2.vec_id, min(${kmeansDistSql("e2.emb", "s.emb")}) AS md
          |        FROM e e2, p$sfx${i - 1} s GROUP BY e2.vec_id),
          |p$sfx$i AS MATERIALIZED (SELECT vec_id, emb FROM p$sfx${i - 1} UNION ALL
          |        (SELECT e3.vec_id, e3.emb FROM e e3 JOIN m$sfx$i USING (vec_id)
          |         ORDER BY m$sfx$i.md DESC, e3.vec_id LIMIT $m))""".stripMargin
        n += m
      }
      sb ++= s""",
        |seeds$sfx AS MATERIALIZED (
        |          SELECT row_number() OVER (ORDER BY vec_id) AS cid, emb AS cv
        |          FROM p$sfx$i)""".stripMargin
      sb.toString
    case other => throw new IllegalArgumentException(s"unknown seeding: $other")
  }

  /** Oracle twin of [[kmeansRounds]] at rounds = 2, unrolled as CTE hops
    * (seeds → a1 → c1 → a2 → c2), every name suffixed so two seeding
    * variants can train in one query. Requires the `e` CTE in scope. */
  private def kmeansTrainSql(k: Int, seeding: String, sfx: String = ""): String = {
    def assignCte(src: String) =
      s"""(SELECT vec_id, cid FROM (
         |   SELECT e.vec_id, s.cid, row_number() OVER (
         |     PARTITION BY e.vec_id ORDER BY ${kmeansDistSql("e.emb", "s.cv")}, s.cid) AS rn
         |   FROM e, $src s) WHERE rn = 1)""".stripMargin
    def centCte(asg: String) =
      s"""(SELECT cid, list(c ORDER BY dim) AS cv FROM (
         |   SELECT $asg.cid, u.dim,
         |     CAST(sum(CAST(u.v AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS c
         |   FROM $asg JOIN e USING (vec_id),
         |     LATERAL (SELECT unnest(e.emb) AS v, generate_subscripts(e.emb, 1) AS dim) u
         |   GROUP BY $asg.cid, u.dim) GROUP BY cid)""".stripMargin
    // MATERIALIZED throughout: downstream (search CTEs, convergence shift
    // arms) reference each training stage more than once, and DuckDB's
    // default CTE inlining would re-run training per reference
    s"""${kmeansSeedsSql(k, seeding, sfx)},
       |a1$sfx AS MATERIALIZED ${assignCte(s"seeds$sfx")},
       |c1$sfx AS MATERIALIZED ${centCte(s"a1$sfx")},
       |a2$sfx AS MATERIALIZED ${assignCte(s"c1$sfx")},
       |c2$sfx AS MATERIALIZED ${centCte(s"a2$sfx")}""".stripMargin
  }

  /** Oracle twin of [[kmeansRanks]] and [[probeList]]'s `assign`: `e`,
    * the trained centroids `c2`, every (vector, centroid) pair ranked
    * (`ar`) and each vector's cell (`assign`). */
  private def kmeansCellsSql(k: Int, seeding: String = "id",
      materialized: Boolean = false): String =
    s"""${duckEmb()},
       |${kmeansTrainSql(k, seeding)},
       |ar AS (SELECT e.vec_id, s.cid, row_number() OVER (
       |         PARTITION BY e.vec_id ORDER BY ${kmeansDistSql("e.emb", "s.cv")}, s.cid) AS rn
       |       FROM e, c2 s),
       |${duckAssignSql("cid", materialized)}""".stripMargin

  /** Oracle twin of the full kmeans search (training + probe/search CTEs);
    * ends with `r` = ranked per-query candidates. */
  private def kmeansSearchSql(k: Int, nprobe: Int,
      seeding: String = "id"): String = {
    s"""${kmeansCellsSql(k, seeding)},
       |${duckProbeSql("cid", nprobe)}""".stripMargin
  }

  /** Spark search path over [[kmeansRanks]] ([[ivfSearch]]). */
  private def kmeansSearch(s: SparkSession, d: String,
      k: Int, rounds: Int, nprobe: Int, seeding: String = "id"): DataFrame = {
    val e = emb(s, d)
    ivfSearch(e, kmeansRanks(e, k, rounds, seeding), nprobe, Seq("cell", "probe"))
  }

  /** Parameterized trained IVF at k = 64 cells, 2 Lloyd rounds,
    * nprobe = 2 — the knobs the fixed 20-cell label quantizer lacked. */
  val annIvfKmeans: Q = Q.sql(
    "ann_ivf_kmeans",
    s"""WITH ${kmeansSearchSql(k = 64, nprobe = 2)}
       |SELECT query_id, neighbor_id, cell, probe, cos_sim, rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    kmeansSearch(s, d, k = 64, rounds = 2, nprobe = 2)
  }

  /** Recall@3 audit of the k-means index vs brute-force ground truth —
    * same estimate-globally/verify-locally shape as ann_recall; VectorSpec
    * asserts it dominates the sign-bit index per query. */
  val annRecallKmeans: Q = Q.sql(
    "ann_recall_kmeans",
    s"""WITH ${kmeansSearchSql(k = 64, nprobe = 2)},
       |iv3 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
       |$duckTruth3Sql
       |$duckRecallAt3""".stripMargin)(recallAt3(annIvfKmeans))

  /** The k-means index with the `maximin` seeding knob engaged — seeds are
    * spread by deterministic batch farthest-point (k-means‖-style, see
    * [[seedCentroids]]) instead of taken from the id order, then the same
    * two Lloyd rounds. Same oracle machinery, bit-for-bit. */
  val annIvfKmeanspp: Q = Q.sql(
    "ann_ivf_kmeanspp",
    s"""WITH ${kmeansSearchSql(k = 64, nprobe = 2, seeding = "maximin")}
       |SELECT query_id, neighbor_id, cell, probe, cos_sim, rank
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    kmeansSearch(s, d, k = 64, rounds = 2, nprobe = 2, seeding = "maximin")
  }

  /** Recall@3 audit of the maximin-seeded index vs brute-force ground
    * truth. Measured at sf0.01 this is LOWER than the id-seeded index
    * (0.43 vs 0.73) even though maximin reaches better quantization error
    * (ann_kmeans_convergence) — the expected behavior on unclustered
    * data, where spread seeds buy nothing and the L2-cell vs
    * cosine-neighbor mismatch costs recall. The knob therefore defaults
    * to "id"; this audit is what tells a user which seeding fits THEIR
    * corpus. */
  val annRecallKmeanspp: Q = Q.sql(
    "ann_recall_kmeanspp",
    s"""WITH ${kmeansSearchSql(k = 64, nprobe = 2, seeding = "maximin")},
       |iv3 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
       |$duckTruth3Sql
       |$duckRecallAt3""".stripMargin)(recallAt3(annIvfKmeanspp))

  /** Per-round convergence audit of the k-means trainer, both seedings
    * side by side: after each Lloyd round, how many cells survive, how far
    * the surviving centroids moved, and the quantization error the round
    * reached (total_sse = Σ per-vector min-L2² — the actual k-means
    * objective). Every aggregate is a decimal-exact sum, so both engines
    * agree bit-for-bit.
    *
    * This op is what makes the seeding knob a measurement instead of a
    * vibe. Measured at sf0.01: maximin seeding reaches LOWER sse than
    * id-order (373.4 vs 375.2 — it does its k-means++ job), while
    * cosine recall@3 on the 10-query audit set is lower (0.43 vs 0.73,
    * see ann_recall_kmeanspp) — on these unclustered synthetic
    * embeddings, first-k ids behave as a uniform sample, which is the
    * optimal seeding when there is no cluster structure to spread
    * toward, and the L2-cell/cosine-neighbor mismatch dominates the
    * tiny query sample. Both published behaviors, both now visible from
    * the engine's own audit ops. */
  /** Label purity of the trained k-means cells (k = 64, 2 Lloyd rounds,
    * id seeding — the ann_ivf_kmeans configuration): per cell, the
    * majority label's share of members. The external-validation readout
    * for an UNSUPERVISED index against labels it never saw — high purity
    * means cluster-then-label curation (label one exemplar per cell,
    * propagate) is cheap; purity at the label-prior level means the
    * embedding space doesn't separate the classes and ann_filtered-style
    * label pre-filters will do all the work. Complements
    * ann_kmeans_convergence: that op says the trainer CONVERGED, this op
    * says the result MEANS something.
    *
    * Scale: assignment is the kmeansRanks per-row fold (no corpus
    * exchange); the (cell, label) matrix is one partial-agg groupBy
    * bounded at k×|labels|; majority pick and shares are a window + agg
    * on that bounded frame; output ≤ k rows. */
  val embClusterPurity: Q = Q.sql(
    "emb_cluster_purity",
    s"""WITH ${kmeansCellsSql(64)},
      |m AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS c
      |      FROM assign JOIN embeddings USING (vec_id) GROUP BY 1, 2),
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY cell ORDER BY c DESC, label) AS lrk,
      |         CAST(sum(c) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs
      |       FROM m)
      |SELECT CAST(cell AS BIGINT) AS cell, n_vecs, label AS top_label,
      |  c AS top_n, round(1.0 * c / n_vecs, 4) AS purity
      |FROM rk WHERE lrk = 1 ORDER BY cell""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val assign = kmeansRanks(e, 64, 2).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val m = assign.join(e.select("vec_id", "label"), Seq("vec_id"))
      .groupBy("cell", "label").agg(count(lit(1)).cast("long").as("c"))
    val byCell = Window.partitionBy("cell")
    m.withColumn("lrk", row_number().over(byCell.orderBy(col("c").desc, col("label"))))
      .withColumn("n_vecs", sum("c").over(byCell).cast("long"))
      .filter(col("lrk") === 1)
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("label").as("top_label"), col("c").as("top_n"),
        round(lit(1.0) * col("c") / col("n_vecs"), 4).as("purity"))
      .orderBy("cell")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means cell — cluster the embedding space (the
    * trained ann_ivf_kmeans configuration: k=64, 2 Lloyd rounds, id
    * seeding), then within each cell prune every vector that has a
    * cell-mate with cosine ≥ 0.35 closer to the centroid (ties by id) —
    * keeping the most-outlier exemplar of each semantic clique, the
    * paper's keep rule. Complements dedup_embedding: that op finds
    * near-identical PAIRS via sign-LSH; this op removes semantic
    * redundancy cluster-wide and reports the per-cell prune pressure a
    * curation run would apply.
    *
    * Scale: training + assignment reuse the live broadcast-centroid
    * argmin fold (zero corpus exchange); the pair stage is
    * duplicate-collapsed (the ann_knn_graph discipline) — identical
    * embeddings share cell, centroid-cosine, and every pairwise cosine,
    * so the within-cell join runs over one representative per distinct
    * vector and a replicated crawl's M-twin clique costs 1 row, with the
    * group verdict expanded by multiplicity: a twin is always beaten by
    * its own representative (cos 1, equal ccos, smaller id), so
    * pruned(group) = beaten ? mult : mult − 1. Residual within-cell
    * distinct×distinct cost is the published SemDeDup price, bounded by
    * distinct content per cell (k scales with corpus at deploy). The
    * oracle keeps the naive per-vector formulation — two independent
    * shapes must hash-agree. Output ≤ k rows. */
  /** Collapsed scale twin for dedup_semantic: the naive oracle's
    * within-cell pruning join is replication-quadratic (a 1000-twin
    * group contributes 10⁶ pair rows per cell), and its three full
    * assignment passes each window 64·n rows. The twin mirrors the
    * Spark body: k-means training runs on one representative per
    * distinct embedding with multiplicity-WEIGHTED centroid updates —
    * exact, because the naive update sums DECIMAL(28,9) lanes, and
    * m·v summed once equals v summed m times in decimal arithmetic —
    * seeds still come off the raw table (the 64 smallest vec_ids need
    * not be group minima), and the pruning verdict collapses to
    * beaten-reps × multiplicity exactly like the Spark side. */
  private lazy val dedupSemanticScaleSql: String = {
    def gAssign(name: String, cents: String) =
      s"""$name AS MATERIALIZED (SELECT gid, cid FROM (
         |   SELECT g.gid, s.cid, row_number() OVER (
         |     PARTITION BY g.gid ORDER BY ${kmeansDistSql("g.emb", "s.cv")}, s.cid) AS rn
         |   FROM grp g, $cents s) WHERE rn = 1)""".stripMargin
    def gCent(name: String, asg: String) =
      s"""$name AS MATERIALIZED (SELECT cid, list(c ORDER BY dim) AS cv FROM (
         |   SELECT $asg.cid, u.dim,
         |     CAST(sum(g.m * CAST(u.v AS DECIMAL(28,9))) AS DOUBLE)
         |       / CAST(sum(g.m) AS DOUBLE) AS c
         |   FROM $asg JOIN grp g USING (gid),
         |     LATERAL (SELECT unnest(g.emb) AS v, generate_subscripts(g.emb, 1) AS dim) u
         |   GROUP BY $asg.cid, u.dim) GROUP BY cid)""".stripMargin
    s"""WITH ${duckEmb()},
       |grp AS MATERIALIZED (SELECT min(vec_id) AS gid,
       |       CAST(count(*) AS BIGINT) AS m, emb FROM e GROUP BY emb),
       |seeds AS MATERIALIZED (
       |          SELECT row_number() OVER (ORDER BY vec_id) AS cid, emb AS cv
       |          FROM e ORDER BY vec_id LIMIT 64),
       |${gAssign("ga1", "seeds")},
       |${gCent("c1", "ga1")},
       |${gAssign("ga2", "c1")},
       |${gCent("c2", "ga2")},
       |${gAssign("ga3", "c2")},
       |gcc AS MATERIALIZED (SELECT a.gid, a.cid AS cell, g.m, g.emb,
       |        round(list_cosine_similarity(g.emb, c2.cv), 4) AS ccos
       |      FROM ga3 a JOIN grp g ON g.gid = a.gid JOIN c2 ON c2.cid = a.cid),
       |beaten AS (SELECT DISTINCT u.gid
       |           FROM gcc u JOIN gcc v ON u.cell = v.cell AND u.gid <> v.gid
       |           WHERE round(list_cosine_similarity(u.emb, v.emb), 4) >= 0.35
       |             AND (v.ccos < u.ccos
       |                  OR (v.ccos = u.ccos AND v.gid < u.gid))),
       |out1 AS (SELECT u.cell,
       |        CAST(sum(u.m) AS BIGINT) AS n_vecs,
       |        CAST(count(*) AS BIGINT) AS n_groups,
       |        CAST(sum(CASE WHEN b.gid IS NOT NULL THEN u.m
       |                 WHEN round(list_cosine_similarity(u.emb, u.emb), 4) >= 0.35
       |                 THEN u.m - 1 ELSE 0 END)
       |          AS BIGINT) AS n_pruned
       |      FROM gcc u LEFT JOIN beaten b ON b.gid = u.gid
       |      GROUP BY u.cell)
       |SELECT CAST(cell AS BIGINT) AS cell, n_vecs, n_groups, n_pruned,
       |  CAST(n_vecs - n_pruned AS BIGINT) AS n_kept,
       |  round(1.0 * n_pruned / n_vecs, 4) AS prune_rate
       |FROM out1 ORDER BY cell""".stripMargin
  }

  /** The SemDeDup frames both semantic-dedup ops share: each distinct
    * embedding's representative (gid, cell, ccos, emb_d, mult) — its
    * k-means cell at k = 64 off the broadcast argmin fold (the corpus is
    * never exchanged for assignment), its centroid cosine and its group
    * multiplicity — persisted, and the within-cell representative pairs
    * (gid_u, ccos_u, eu, gid_v, ccos_v, ev). Identical embeddings
    * collapse to one representative, so the candidate join runs over
    * groups, never over twin pairs. */
  private def semanticCells(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val embD = toEmbD(emb(s, d))
    val cent = kmeansRounds(embD, 64, 2, "id").last
    val cc = embD.crossJoin(broadcast(centsArr(cent)))
      .select(col("vec_id"), col("emb_d"), expr(s"$argmin.cid").as("cell"))
      .join(broadcast(cent.select(col("cid").as("cell"), col("cv"))), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("emb_d"),
        cosR(col("emb_d"), col("cv")).as("ccos"))
    val byVec = Window.partitionBy("emb_d")
    val reps = cc
      .withColumn("gid", min("vec_id").over(byVec))
      .withColumn("mult", count(lit(1)).over(byVec))
      .withColumn("rk", row_number().over(byVec.orderBy("vec_id")))
      .filter(col("rk") === 1)
      .select(col("gid"), col("cell"), col("ccos"), col("emb_d"), col("mult"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r1 = reps.select(col("gid").as("gid_u"), col("cell"),
      col("ccos").as("ccos_u"), col("emb_d").as("eu"))
    val r2 = reps.select(col("gid").as("gid_v"), col("cell"),
      col("ccos").as("ccos_v"), col("emb_d").as("ev"))
    (reps, r1.join(r2, Seq("cell")))
  }

  /** A pair of [[semanticCells]] where v ranks ahead of u: nearer its
    * centroid, ties to the smaller id. */
  private val aheadOf: Column = col("ccos_v") < col("ccos_u") ||
    (col("ccos_v") === col("ccos_u") && col("gid_v") < col("gid_u"))

  /** DuckDB twin of [[semanticCells]] at the vector level: the k-means
    * cells, and `cc` (vec_id, cell, ccos). */
  private lazy val duckSemanticCells: String =
    s"""${kmeansCellsSql(64, materialized = true)},
       |cc AS MATERIALIZED (SELECT a.vec_id, a.cell,
       |        round(list_cosine_similarity(e.emb, c2.cv), 4) AS ccos
       |      FROM assign a JOIN e ON e.vec_id = a.vec_id JOIN c2 ON c2.cid = a.cell)""".stripMargin

  /** DuckDB twin of [[aheadOf]] over `cc` rows `u` and `v`. */
  private val duckAheadOf: String =
    "(v.ccos < u.ccos OR (v.ccos = u.ccos AND v.vec_id < u.vec_id))"

  val dedupSemantic: Q = Q.sqlDual(
    "dedup_semantic",
    s"""WITH $duckSemanticCells,
      |pr AS (SELECT u.vec_id, u.cell,
      |         max(CASE WHEN round(list_cosine_similarity(eu.emb, ev.emb), 4) >= 0.35
      |              AND $duckAheadOf
      |             THEN 1 ELSE 0 END) AS pruned
      |       FROM cc u JOIN e eu ON eu.vec_id = u.vec_id
      |         LEFT JOIN cc v ON u.cell = v.cell AND u.vec_id <> v.vec_id
      |         LEFT JOIN e ev ON ev.vec_id = v.vec_id
      |       GROUP BY 1, 2),
      |ng AS (SELECT cc.cell, CAST(count(DISTINCT e.emb) AS BIGINT) AS n_groups
      |       FROM cc JOIN e ON e.vec_id = cc.vec_id GROUP BY 1)
      |SELECT CAST(pr.cell AS BIGINT) AS cell,
      |  CAST(count(*) AS BIGINT) AS n_vecs, ng.n_groups,
      |  CAST(sum(pr.pruned) AS BIGINT) AS n_pruned,
      |  CAST(count(*) - sum(pr.pruned) AS BIGINT) AS n_kept,
      |  round(1.0 * sum(pr.pruned) / count(*), 4) AS prune_rate
      |FROM pr JOIN ng ON ng.cell = pr.cell
      |GROUP BY pr.cell, ng.n_groups ORDER BY cell""".stripMargin,
    dedupSemanticScaleSql) { (s, d) =>
    val (reps, pairs) = semanticCells(s, d)
    val beaten = pairs
      .filter(col("gid_u") =!= col("gid_v") &&
        cosR(col("eu"), col("ev")) >= 0.35 && aheadOf)
      .select(col("gid_u").as("gid")).distinct()
      .withColumn("beaten", lit(1))
    // twins prune each other only when their mutual cosine clears the
    // threshold — cos(v,v) is NaN for a degenerate (zero) vector, and the
    // naive per-doc formulation keeps such twins (NaN >= t is false)
    reps.join(beaten, Seq("gid"), "left")
      .withColumn("pruned",
        when(col("beaten").isNotNull, col("mult"))
          .when(cosR(col("emb_d"), col("emb_d")) >= 0.35, col("mult") - 1)
          .otherwise(lit(0L)))
      .groupBy("cell")
      .agg(sum("mult").cast("long").as("n_vecs"),
        count(lit(1)).cast("long").as("n_groups"),
        sum("pruned").cast("long").as("n_pruned"))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"), col("n_groups"),
        col("n_pruned"), (col("n_vecs") - col("n_pruned")).as("n_kept"),
        round(lit(1.0) * col("n_pruned") / col("n_vecs"), 4).as("prune_rate"))
      .orderBy("cell")
  }

  /** Semantic-dedup threshold curve — the release knob dedup_semantic
    * fixes at 0.35, SWEPT (0.35 / 0.55 / 0.75): per candidate cosine
    * threshold, how many vectors the SemDeDup-style greedy prune
    * (drop a representative iff a better-centroid-ranked cellmate sits
    * within the threshold; duplicates within an identical-embedding
    * group always collapse to their representative) would keep — the
    * retention-vs-aggressiveness curve a curation run reads before
    * committing a threshold to 100 TB.
    *
    * Cost shape: the candidate pair join runs ONCE (same collapsed
    * group-representative join as dedup_semantic, cells from the same
    * k-means quantizer), reduced to ONE row per group (the best
    * better-ranked cosine); the 3-threshold fan-out explodes on that
    * bounded per-group frame, never on pairs. Thresholds compare
    * round-4 cosines to shared literals — identical classification in
    * both engines. */
  val dedupSemanticCurve: Q = Q.sql(
    "dedup_semantic_curve",
    s"""WITH $duckSemanticCells,
      |mx AS (SELECT u.vec_id,
      |         max(CASE WHEN v.vec_id IS NOT NULL AND $duckAheadOf
      |              THEN round(list_cosine_similarity(eu.emb, ev.emb), 4) END)
      |           AS best
      |       FROM cc u JOIN e eu ON eu.vec_id = u.vec_id
      |         LEFT JOIN cc v ON u.cell = v.cell AND u.vec_id <> v.vec_id
      |         LEFT JOIN e ev ON ev.vec_id = v.vec_id
      |       GROUP BY 1),
      |g AS (SELECT min(e.vec_id) AS gid, count(*) AS mult FROM e GROUP BY e.emb),
      |gm AS (SELECT g.gid, g.mult, mx.best FROM g JOIN mx ON mx.vec_id = g.gid),
      |t AS (SELECT CAST(unnest([0.35, 0.55, 0.75]) AS DOUBLE) AS threshold),
      |s AS (SELECT t.threshold, gm.mult,
      |        CASE WHEN gm.best IS NOT NULL AND gm.best >= t.threshold
      |             THEN 1 ELSE 0 END AS beaten
      |      FROM gm CROSS JOIN t)
      |SELECT threshold, CAST(sum(mult) AS BIGINT) AS n_vecs,
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(count(*) FILTER (WHERE beaten = 0) AS BIGINT) AS n_kept,
      |  CAST(sum(mult) - count(*) FILTER (WHERE beaten = 0) AS BIGINT)
      |    AS n_pruned,
      |  round(1.0 * (sum(mult) - count(*) FILTER (WHERE beaten = 0))
      |    / sum(mult), 4) AS prune_rate
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val (reps, pairs) = semanticCells(s, d)
    val best = pairs
      .filter(col("gid_u") =!= col("gid_v") && aheadOf)
      .groupBy(col("gid_u").as("gid"))
      .agg(max(cosR(col("eu"), col("ev"))).as("best"))
    reps.join(best, Seq("gid"), "left")
      .withColumn("threshold", explode(array(lit(0.35), lit(0.55), lit(0.75))))
      .withColumn("beaten",
        when(col("best").isNotNull && col("best") >= col("threshold"), 1)
          .otherwise(0))
      .groupBy("threshold")
      .agg(sum("mult").cast("long").as("n_vecs"),
        count(lit(1)).cast("long").as("n_groups"),
        count(when(col("beaten") === 0, 1)).cast("long").as("n_kept"),
        (sum("mult") - count(when(col("beaten") === 0, 1))).cast("long")
          .as("n_pruned"),
        round((sum("mult") - count(when(col("beaten") === 0, 1))) * lit(1.0)
          / sum("mult"), 4).as("prune_rate"))
      .orderBy("threshold")
  }

  /** Metric-learning triplet audit: per label, how often an anchor's
    * nearest SAME-label vector sits farther than its nearest impostor
    * (d(a,pos) > d(a,neg) — the ordering a triplet/contrastive loss
    * trains for), plus the mean signed margin. The local-geometry
    * verdict emb_cluster_purity's global centroids can't give: on this
    * corpus the centroids separate labels 3× over chance while the
    * violation rate stays HIGH — with 10 labels, 90% of candidates are
    * impostors and the min over 9× more draws wins, so local kNN labels
    * are unreliable even though the space has class structure
    * (spec-pinned; exactly why emb_label_vote reports chance accuracy).
    * Anchors are the 30 smallest vec_ids (the ann_topk query
    * convention).
    *
    * Determinism: distances rounded once to 6; both argmins are
    * min(struct(dist, vid)) folds with the (dist, id) tie rule; the gap
    * subtracts two already-rounded doubles.
    *
    * Scale: ONE corpus scan against the broadcast 30-row anchor set;
    * the per-anchor two-leg argmin is a mergeable conditional-min
    * aggregate (no window over pair rows); rollup ≤ |labels| rows. */
  val embTripletAudit: Q = Q.sql(
    "emb_triplet_audit",
    s"""WITH ${duckEmb("vec_id, label")},
      |a AS (SELECT vec_id AS aid, label AS alabel, emb AS ae
      |      FROM e WHERE vec_id < 30),
      |p AS (SELECT aid, alabel, e.vec_id AS vid, e.label = alabel AS same,
      |        round(list_sum(list_transform(range(1, 65),
      |          i -> (ae[i] - emb[i]) * (ae[i] - emb[i]))), 6) AS d
      |      FROM a JOIN e ON e.vec_id <> aid),
      |legs AS (
      |  SELECT aid, alabel,
      |    min(CASE WHEN same THEN d END) AS d_pos,
      |    min(CASE WHEN NOT same THEN d END) AS d_neg
      |  FROM p GROUP BY 1, 2)
      |SELECT alabel AS label, CAST(count(*) AS BIGINT) AS n_anchors,
      |  CAST(sum(CASE WHEN d_pos > d_neg THEN 1 ELSE 0 END) AS BIGINT)
      |    AS violations,
      |  round(1.0 * sum(CASE WHEN d_pos > d_neg THEN 1 ELSE 0 END) / count(*), 4)
      |    AS violation_rate,
      |  round(CAST(sum(CAST(round(d_neg - d_pos, 6) AS DECIMAL(18, 6)))
      |    AS DOUBLE) / count(*), 6) AS mean_margin
      |FROM legs GROUP BY 1 ORDER BY label""".stripMargin) { (s, d) =>
    val e = emb(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val a = e.filter(col("vec_id") < 30)
      .select(col("vec_id").as("aid"), col("label").as("alabel"), col("emb").as("ae"))
    val legs = e.join(broadcast(a), col("vec_id") =!= col("aid"))
      .select(col("aid"), col("alabel"),
        (col("label") === col("alabel")).as("same"),
        round(expr("graft_l2sq(ae, emb)"), 6).as("d"))
      .groupBy("aid", "alabel")
      .agg(min(when(col("same"), col("d"))).as("d_pos"),
        min(when(!col("same"), col("d"))).as("d_neg"))
    legs.groupBy(col("alabel").as("label"))
      .agg(count(lit(1)).cast("long").as("n_anchors"),
        sum(when(col("d_pos") > col("d_neg"), 1).otherwise(0)).cast("long")
          .as("violations"),
        round(lit(1.0) * sum(when(col("d_pos") > col("d_neg"), 1).otherwise(0))
          / count(lit(1)), 4).as("violation_rate"),
        round(sum(round(col("d_neg") - col("d_pos"), 6).cast("decimal(18,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_margin"))
      .orderBy("label")
  }

  val annKmeansConvergence: Q = {
    def armSql(sfx: String, name: String, round: Int): String = {
      val (prev, cur) =
        if (round == 1) (s"seeds$sfx", s"c1$sfx") else (s"c1$sfx", s"c2$sfx")
      s"""SELECT '$name' AS seeding, $round AS round,
         |  (SELECT count(*) FROM $cur) AS n_cells,
         |  (SELECT CAST(round(sum(CAST(${kmeansDistSql("a.cv", "b.cv")}
         |     AS DECIMAL(28,9))), 6) AS DOUBLE)
         |   FROM $prev a JOIN $cur b USING (cid)) AS total_shift,
         |  (SELECT CAST(round(sum(CAST(d AS DECIMAL(28,9))), 6) AS DOUBLE) FROM
         |     (SELECT min(${kmeansDistSql("e.emb", "s.cv")}) AS d
         |      FROM e, $cur s GROUP BY e.vec_id)) AS total_sse""".stripMargin
    }
    Q.sql(
      "ann_kmeans_convergence",
      s"""WITH ${duckEmb()},
         |${kmeansTrainSql(64, "id", "_i")},
         |${kmeansTrainSql(64, "maximin", "_m")}
         |${Seq(armSql("_i", "id", 1), armSql("_i", "id", 2),
                armSql("_m", "maximin", 1), armSql("_m", "maximin", 2))
            .mkString("", "\nUNION ALL\n", "")}
         |ORDER BY seeding, round""".stripMargin) { (s, d) =>
      val embD = toEmbD(emb(s, d))
      def dsumR6(c: Column): Column =
        round(sum(c.cast("decimal(28,9)")), 6).cast("double")
      def rounds(seeding: String): DataFrame = {
        val cs = kmeansRounds(embD, 64, 2, seeding)
        (1 to 2).map { r =>
          val prev = cs(r - 1).select(col("cid"), col("cv").as("pv"))
          val shift = cs(r).join(prev, Seq("cid"))
            .agg(count(lit(1)).as("n_cells"),
              dsumR6(expr("graft_l2sq(cv, pv)")).as("total_shift"))
          // per-vector min dist as a fold over the broadcast centroid
          // array (min is order-free — value-identical to the former
          // groupBy(vec_id) min without the corpus shuffle)
          val sse = embD.crossJoin(broadcast(centsArr(cs(r))))
            .select(expr(
              """aggregate(cents, cast('Infinity' as double),
                |  (acc, x) -> least(acc, graft_l2sq(emb_d, x.cv)))""".stripMargin)
              .as("d"))
            .agg(dsumR6(col("d")).as("total_sse"))
          shift.crossJoin(sse) // two 1-row aggregates
            .select(lit(seeding).as("seeding"), lit(r).as("round"),
              col("n_cells"), col("total_shift"), col("total_sse"))
        }.reduce(_ unionByName _)
      }
      rounds("id").unionByName(rounds("maximin")).orderBy("seeding", "round")
    }
  }

  /** Embedding-space data-quality audit: vectors whose L2² distance to
    * their OWN label centroid is a z ≥ 2 outlier within the label — the
    * mislabeled/corrupted-embedding sweep a pipeline runs before letting a
    * batch into training (a vector far from its class center is either a
    * labeling error or a degenerate embedding).
    *
    * Scale shape: the centroid table (|labels| rows) broadcasts; distance
    * is one codegen [[L2Squared]] pass over the corpus; per-label moments
    * are ONE partial-aggregating groupBy (n, Σd, Σd² — mergeable, so the
    * same op incrementalizes over batches); the tiny stats table
    * broadcasts back for the z test. No window, nothing all-pairs.
    *
    * Determinism: dist is rounded once to 6 decimals, then BOTH moments
    * are summed as DECIMAL (exact, order-independent; d² of a 6-decimal
    * value ≤ 8 is exactly representable in a double, so the cast loses
    * nothing); mean/E[x²] divide the exact sums as doubles, z is rounded
    * to 4 before the ≥ 2 threshold — both engines threshold the identical
    * value. */
  val embOutliers: Q = Q.sql(
    "emb_outliers",
    s"""WITH $centCtesSql,
      |dv AS (SELECT e.vec_id, e.label,
      |         round(list_sum(list_transform(range(1, len(emb) + 1),
      |           i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))), 6) AS dist
      |       FROM e JOIN cent ON e.label = cent.clabel),
      |st AS (SELECT label,
      |         CAST(sum(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
      |         CAST(sum(CAST(dist * dist AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS ex2
      |       FROM dv GROUP BY label),
      |z AS (SELECT dv.vec_id, dv.label, dv.dist,
      |        round((dv.dist - st.mean) / sqrt(st.ex2 - st.mean * st.mean), 4) AS z
      |      FROM dv JOIN st ON dv.label = st.label)
      |SELECT vec_id, label, dist, z FROM z
      |WHERE z >= 2 ORDER BY vec_id""".stripMargin) { (s, d) =>
    val e = emb(s, d)
      .withColumn("emb_d", expr("transform(embedding, x -> cast(x as double))"))
    val dv = e.join(broadcast(labelCentroids(e)), col("label") === col("clabel"))
      .select(col("vec_id"), col("label"),
        round(expr("graft_l2sq(emb_d, cv)"), 6).as("dist"))
    val st = dv.groupBy("label").agg(
      (sum(col("dist").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("mean"),
      (sum((col("dist") * col("dist")).cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("ex2"))
    dv.join(broadcast(st), Seq("label"))
      .withColumn("z", round((col("dist") - col("mean"))
        / sqrt(col("ex2") - col("mean") * col("mean")), 4))
      .filter(col("z") >= 2)
      .select(col("vec_id"), col("label"), col("dist"), col("z"))
      .orderBy("vec_id")
  }

  /** Per-dimension embedding-feature health: n, mean, std, min, max for
    * every vector dimension — the drift/dead-dimension audit run before
    * trusting an embedding column (a collapsed dim shows std ≈ 0, a
    * mis-scaled encoder shows in min/max). Shape: one posexplode into
    * (dim, value) pairs + ONE partial-aggregating groupBy bounded at
    * |dims| output rows — the moments (n, Σv, Σv²) are mergeable partials,
    * so the shuffle carries |dims| × partitions rows regardless of corpus
    * size. Determinism: values rounded once to 6, summed as DECIMAL
    * (order-independent); mean/ex2 divide the exact sums as doubles
    * ([[embOutliers]]'s discipline). */
  val embDimStats: Q = Q.sql(
    "emb_dim_stats",
    s"""WITH $duckDimMoments
      |SELECT dim, n_vecs, round(mean, 6) AS mean,
      |  round(sqrt(ex2 - mean * mean), 6) AS std, vmin, vmax
      |FROM a ORDER BY dim""".stripMargin) { (s, d) =>
    // duplicate-vector collapse (the distinct-text discipline on the
    // vector plane): identical embeddings contribute identical per-dim
    // values, so the posexplode runs once per DISTINCT embedding and
    // every moment is multiplicity-weighted — Σ(v·m) and Σ(v²·m) are
    // exact decimal-scaled integers, bit-identical to summing each twin
    // (min/max are multiplicity-blind by definition)
    val g = emb(s, d).groupBy("embedding")
      .agg(count(lit(1)).cast("long").as("m"))
    coordRows(g, "m")
      .groupBy("dim").agg(
        sum("m").as("n_vecs"),
        // explicit narrow casts keep the products inside DECIMAL(38,_)
        // so Spark cannot silently drop scale (a decimal(28,12)×bigint
        // would overflow precision and round — measured as a 1e-6 std
        // drift vs the per-twin sum). The value lane stays at the
        // pre-collapse decimal(18,6) input range: 18,6 × 12,0 = 31,6,
        // and the sum still fits decimal(38,6) — a narrower 14,6 would
        // silently null (and drop) any |v| ≥ 1e8 under non-ANSI mode.
        (sum(col("v").cast("decimal(18,6)") * col("m").cast("decimal(12,0)"))
          .cast("double") / sum("m")).as("mean"),
        (sum((col("v") * col("v")).cast("decimal(24,12)")
            * col("m").cast("decimal(12,0)"))
          .cast("double") / sum("m")).as("ex2"),
        min("v").as("vmin"), max("v").as("vmax"))
      .select(col("dim"), col("n_vecs"), round(col("mean"), 6).as("mean"),
        round(sqrt(col("ex2") - col("mean") * col("mean")), 6).as("std"),
        col("vmin"), col("vmax"))
      .orderBy("dim")
  }

  /** Spectral-health audit of the embedding space from per-dimension
    * variances (the diagonal-covariance view): effective rank as the
    * participation ratio (Σλ)²/Σλ² — ~n_dims for an isotropic space,
    * ~1 when one direction carries everything — plus the top-dimension
    * variance share and the cumulative share absorbed by the top
    * k ∈ {1,2,4,8,16,32,64} dimensions. The PQ/IVF planner reads this
    * the way ann_pq_dim_alloc reads per-dim spread: a collapsed
    * spectrum says re-whiten (emb_whiten) before indexing, and the
    * curve prices how many PCA dims retrieval could drop
    * (emb_matryoshka's question, answered from variances alone —
    * no iteration, no candidate pairs).
    *
    * Scale shape: ONE posexplode pass over DISTINCT embeddings with
    * multiplicity-weighted decimal moments (the emb_dim_stats
    * machinery), |dims|-bounded everywhere after; the ranking window
    * runs on 64 rows. Determinism: λ is rounded ONCE to picounits
    * (scale-12 integers); every sum downstream is integer/decimal
    * (order-free), and the published doubles divide exact integers. */
  val embEffectiveRank: Q = Q.sql(
    "emb_effective_rank",
    s"""WITH $duckDimMoments,
      |l AS (SELECT dim, CAST(round((ex2 - mean * mean) * 1e12, 0) AS BIGINT)
      |        AS lam_p FROM a),
      |t AS (SELECT CAST(sum(lam_p) AS BIGINT) AS s1,
      |        sum(CAST(lam_p AS DECIMAL(19,0)) * CAST(lam_p AS DECIMAL(19,0))) AS s2,
      |        CAST(max(lam_p) AS BIGINT) AS lmax,
      |        CAST(count(*) AS BIGINT) AS n_dims FROM l),
      |rk AS (SELECT dim, lam_p, row_number() OVER (ORDER BY lam_p DESC, dim) AS rnk
      |       FROM l),
      |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64]) AS BIGINT) AS k),
      |cum AS (SELECT ks.k, CAST(sum(rk.lam_p) AS BIGINT) AS sk
      |        FROM ks JOIN rk ON rk.rnk <= ks.k GROUP BY 1)
      |SELECT cum.k, round(1.0 * cum.sk / t.s1, 4) AS cum_var_share,
      |  round(CAST(t.s1 AS DOUBLE) * t.s1 / CAST(t.s2 AS DOUBLE), 4) AS eff_rank,
      |  round(1.0 * t.lmax / t.s1, 4) AS top_share, t.n_dims
      |FROM cum CROSS JOIN t ORDER BY cum.k""".stripMargin) { (s, d) =>
    // duplicate-vector collapse with multiplicity-weighted moments —
    // identical to emb_dim_stats' lanes, so λ is bit-identical to the
    // per-twin formulation; everything after is 64-row arithmetic
    val g = emb(s, d).groupBy("embedding")
      .agg(count(lit(1)).cast("long").as("m"))
    val lam = coordRows(g, "m")
      .groupBy("dim").agg(
        (sum(col("v").cast("decimal(18,6)") * col("m").cast("decimal(12,0)"))
          .cast("double") / sum("m")).as("mean"),
        (sum((col("v") * col("v")).cast("decimal(24,12)")
            * col("m").cast("decimal(12,0)"))
          .cast("double") / sum("m")).as("ex2"))
      .select(col("dim"),
        expr("CAST(round((ex2 - mean * mean) * 1e12, 0) AS BIGINT)").as("lam_p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = lam.agg(
      sum("lam_p").cast("long").as("s1"),
      sum(col("lam_p").cast("decimal(19,0)") * col("lam_p").cast("decimal(19,0)"))
        .as("s2"),
      max("lam_p").cast("long").as("lmax"),
      count(lit(1)).cast("long").as("n_dims"))
    val rk = lam.withColumn("rnk",
      row_number().over(Window.orderBy(col("lam_p").desc, col("dim"))))
    val ks = s.range(0, 7).select(
      expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").as("k"))
    val cum = broadcast(ks).join(rk, col("rnk") <= col("k"))
      .groupBy("k").agg(sum("lam_p").cast("long").as("sk"))
    cum.crossJoin(broadcast(t))
      .select(col("k"),
        round(lit(1.0) * col("sk") / col("s1"), 4).as("cum_var_share"),
        round(col("s1").cast("double") * col("s1") / col("s2").cast("double"), 4)
          .as("eff_rank"),
        round(lit(1.0) * col("lmax") / col("s1"), 4).as("top_share"),
        col("n_dims"))
      .orderBy("k")
  }

  /** Encoder-drift audit between two ingest batches — the check a
    * continuously-trained encoder needs before mixing old and new
    * embeddings in one index: per label, centroid shift (L2) and cosine
    * between the batch centroids. A re-trained encoder that moved the
    * space shows up as cos ≪ 1 long before recall degrades; emb_dim_stats
    * sees per-dim scale drift, this sees rotation. The batch split is the
    * corpus_split discipline — a pure function of md5(vec_id), stable
    * across re-shards.
    *
    * Shape: ONE posexplode pass → partial-agg groupBy bounded at
    * |labels| × 2 × |dims| (decimal-exact per-dim means, the
    * emb_centroids machinery) → per-(label, dim) old/new self-join on the
    * bounded centroid set → |labels|-row aggregate of exact scale-12
    * decimal sums; shift/cos take sqrt/divide in DOUBLE once, rounded
    * once. */
  val embDrift: Q = {
    val duckBatch =
      s"CASE WHEN ${graft.text.TextOps.duckWordHash("CAST(vec_id AS VARCHAR)")} % 2 = 0 " +
        "THEN 'old' ELSE 'new' END"
    val sparkBatch =
      s"CASE WHEN ${graft.text.TextOps.sparkWordHash("cast(vec_id as string)")} % 2 = 0 " +
        "THEN 'old' ELSE 'new' END"
    Q.sql(
      "emb_drift",
      s"""WITH u AS (SELECT label, $duckBatch AS batch,
         |    unnest(CAST(embedding AS DOUBLE[])) AS v,
         |    generate_subscripts(embedding, 1) AS dim
         |  FROM embeddings),
         |c AS (SELECT label, batch, CAST(dim AS BIGINT) AS dim,
         |        round(${Det.dsum9Sql("v")} / count(*), 6) AS c, count(*) AS n
         |      FROM u GROUP BY 1, 2, 3),
         |nb AS (SELECT label, batch, max(n) AS n FROM c GROUP BY 1, 2),
         |p AS (SELECT o.label, o.dim, o.c AS co, w.c AS cn
         |      FROM c o JOIN c w ON o.label = w.label AND o.dim = w.dim
         |      WHERE o.batch = 'old' AND w.batch = 'new'),
         |m AS (SELECT label,
         |        CAST(sum(CAST((co - cn) * (co - cn) AS DECIMAL(28,12))) AS DOUBLE) AS d2,
         |        CAST(sum(CAST(co * cn AS DECIMAL(28,12))) AS DOUBLE) AS dot,
         |        CAST(sum(CAST(co * co AS DECIMAL(28,12))) AS DOUBLE) AS no2,
         |        CAST(sum(CAST(cn * cn AS DECIMAL(28,12))) AS DOUBLE) AS nn2
         |      FROM p GROUP BY label)
         |SELECT m.label, a.n AS n_old, b.n AS n_new,
         |  round(sqrt(d2), 6) AS centroid_shift,
         |  round(dot / (sqrt(no2) * sqrt(nn2)), 6) AS centroid_cos
         |FROM m JOIN nb a ON m.label = a.label AND a.batch = 'old'
         |       JOIN nb b ON m.label = b.label AND b.batch = 'new'
         |ORDER BY m.label""".stripMargin) { (s, d) =>
      val u = emb(s, d)
        .select(col("label"), expr(sparkBatch).as("batch"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("label"), col("batch"),
          (col("pos") + 1).cast("long").as("dim"), col("v").cast("double").as("v"))
      val c = u.groupBy("label", "batch", "dim")
        .agg(round(Det.dsum9(col("v")) / count(lit(1)), 6).as("c"),
          count(lit(1)).as("n"))
      val nb = c.groupBy("label", "batch").agg(max("n").as("n"))
      val p = c.filter(col("batch") === "old")
        .select(col("label"), col("dim"), col("c").as("co"))
        .join(c.filter(col("batch") === "new")
          .select(col("label").as("l2"), col("dim").as("d2col"), col("c").as("cn")),
          col("label") === col("l2") && col("dim") === col("d2col"))
      val m = p.groupBy("label").agg(
        sum(((col("co") - col("cn")) * (col("co") - col("cn")))
          .cast("decimal(28,12)")).cast("double").as("d2"),
        sum((col("co") * col("cn")).cast("decimal(28,12)")).cast("double").as("dot"),
        sum((col("co") * col("co")).cast("decimal(28,12)")).cast("double").as("no2"),
        sum((col("cn") * col("cn")).cast("decimal(28,12)")).cast("double").as("nn2"))
      m.join(nb.filter(col("batch") === "old")
          .select(col("label").as("la"), col("n").as("n_old")),
          col("label") === col("la"))
        .join(nb.filter(col("batch") === "new")
          .select(col("label").as("lb"), col("n").as("n_new")),
          col("label") === col("lb"))
        .select(col("label"), col("n_old"), col("n_new"),
          round(sqrt(col("d2")), 6).as("centroid_shift"),
          round(col("dot") / (sqrt(col("no2")) * sqrt(col("nn2"))), 6)
            .as("centroid_cos"))
        .orderBy("label")
    }
  }

  /** Pairwise linear-kernel MMD² between the per-source embedding
    * distributions — the corpus-mix health matrix (which provenance
    * buckets are semantically interchangeable, which are genuinely
    * distinct populations). Uses the UNBIASED estimator
    * (Gretton et al., JMLR 2012, eq. 3): with S = Σx, q = Σ‖x‖², n per
    * source,   MMD²ᵤ(a,b) = (‖Sa‖²−qa)/(na(na−1)) + (‖Sb‖²−qb)/(nb(nb−1))
    * − 2⟨Sa,Sb⟩/(na·nb) — every term derives from ONE partial-aggregating
    * pass per source (vector-sum + norm-sum + count), so the corpus is
    * touched exactly once and never exchanged; the pair matrix is
    * |sources|² rows of driver-free arithmetic on the tiny aggregate.
    * centroid_cos is the companion readout (angle between source means).
    * Determinism: vector sums fold in DECIMAL(28,9) (graft_vec_sum /
    * emb_centroids discipline), cross-dim dot products accumulate in
    * DECIMAL(28,12) (the emb_drift discipline); per-row ‖x‖² folds in
    * array order, identical in both engines. */
  val embMmdSources: Q = Q.sql(
    "emb_mmd_sources",
    s"""WITH j AS (SELECT d.source, CAST(e.embedding AS DOUBLE[]) AS emb
       |           FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |u AS (SELECT source, unnest(emb) AS v,
       |        generate_subscripts(emb, 1) AS dim FROM j),
       |c AS (SELECT source, CAST(dim AS BIGINT) AS dim,
       |        ${Det.dsum9Sql("v")} AS sd
       |      FROM u GROUP BY 1, 2),
       |nq AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |        ${Det.dsum9Sql("list_sum(list_transform(emb, x -> x * x))")} AS q
       |      FROM j GROUP BY 1 HAVING count(*) >= 2),
       |s2 AS (SELECT source,
       |        CAST(sum(CAST(sd * sd AS DECIMAL(28,12))) AS DOUBLE) AS s2
       |      FROM c GROUP BY 1),
       |p AS (SELECT a.source AS src_a, b.source AS src_b,
       |        CAST(sum(CAST(a.sd * b.sd AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |      FROM c a JOIN c b ON a.dim = b.dim AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, na.n AS n_a, nb.n AS n_b,
       |  round((sa.s2 - na.q) / (na.n * (na.n - 1))
       |      + (sb.s2 - nb.q) / (nb.n * (nb.n - 1))
       |      - 2 * dot / (na.n * nb.n), 6) AS mmd2,
       |  round(dot / sqrt(sa.s2 * sb.s2), 6) AS centroid_cos
       |FROM p JOIN nq na ON p.src_a = na.source
       |       JOIN nq nb ON p.src_b = nb.source
       |       JOIN s2 sa ON p.src_a = sa.source
       |       JOIN s2 sb ON p.src_b = sb.source
       |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val j = emb(s, d)
      .join(graft.Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
    // one exchange: |sources| buffers carrying (vec-sum, norm-sum, count)
    val agg = j.groupBy("source").agg(
      decimalVecSum.as("sv"),
      Det.dsum9(expr("aggregate(transform(embedding, x -> cast(x as double)), " +
        "cast(0.0 as double), (acc, x) -> acc + x * x)")).as("q"),
      count(lit(1)).cast("long").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = agg
      .select(col("source"), posexplode(col("sv")).as(Seq("pos", "svd")))
      .select(col("source"), (col("pos") + 1).cast("long").as("dim"),
        col("svd").cast("double").as("sd"))
    val s2 = c.groupBy("source")
      .agg(sum((col("sd") * col("sd")).cast("decimal(28,12)"))
        .cast("double").as("s2"))
    val p = c.select(col("source").as("src_a"), col("dim"), col("sd").as("sda"))
      .join(c.select(col("source").as("src_b"), col("dim"), col("sd").as("sdb")),
        Seq("dim"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum((col("sda") * col("sdb")).cast("decimal(28,12)"))
        .cast("double").as("dot"))
    // singleton sources have no unbiased within-term (n(n−1) = 0) — the
    // inner joins below drop them from the pair matrix in both engines
    val nq = agg.select(col("source"), col("n"), col("q")).filter(col("n") >= 2)
    p.join(nq.select(col("source").as("src_a"), col("n").as("n_a"),
        col("q").as("qa")), Seq("src_a"))
      .join(nq.select(col("source").as("src_b"), col("n").as("n_b"),
        col("q").as("qb")), Seq("src_b"))
      .join(s2.select(col("source").as("src_a"), col("s2").as("s2a")), Seq("src_a"))
      .join(s2.select(col("source").as("src_b"), col("s2").as("s2b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        round((col("s2a") - col("qa")) / (col("n_a") * (col("n_a") - 1))
          + (col("s2b") - col("qb")) / (col("n_b") * (col("n_b") - 1))
          - lit(2) * col("dot") / (col("n_a") * col("n_b")), 6).as("mmd2"),
        round(col("dot") / sqrt(col("s2a") * col("s2b")), 6).as("centroid_cos"))
      .orderBy("src_a", "src_b")
  }

  /** LSH-blocked k-NN graph (k = 3) with a degree-profile report — the
    * construction step of graph-based curation (neighborhood-vote label
    * cleaning, graph dedup, diversity sampling all start from this
    * graph), plus the readouts that say whether it's usable: per approx
    * degree (0-3), how many vectors, their edges, the mutual-edge count
    * (low reciprocity = hub-dominated space where cosine kNN is
    * unstable) and mean edge similarity. Degree 0 = vectors alone in
    * both their buckets — the LSH recall price, PUBLISHED rather than
    * hidden.
    *
    * Scale shape: candidates come from the ADAPTIVE sign-bit LSH bands
    * (the dedup_embedding discipline — bits grow with n so expected
    * bucket size stays constant ⇒ candidate pairs O(n·const); a fixed
    * cell quantizer is O(n²/cells) the moment cells stop growing, which
    * the sf1 gate measured as a 40× blowup at 10× data before this
    * design). The per-source top-3 window runs on the bounded candidate
    * sets, the ≤3n-edge graph persists MEMORY_AND_DISK (read by the
    * reversed-edge mutuality self-join AND the rollup), the report is a
    * 4-row aggregate. */
  /** Duplicate-collapsed exact 3-NN edge list (src, dst, cos_sim) over
    * the adaptive sign-LSH candidate graph — candidate enumeration runs
    * over one representative per DISTINCT embedding (an exact-dup
    * cluster of M costs one banding row instead of M² pairs) and the
    * per-vector top-3 is rebuilt exactly from a bounded pool: within a
    * candidate group all cosines tie and break by ascending id, so only
    * a group's 3 smallest ids (4 for the own group — self is filtered)
    * can reach any top-3. The dst CHOICE is therefore id-exact, which
    * keeps every label-dependent consumer correct even when identical
    * embeddings carry different labels. Shared by ann_knn_graph and
    * emb_label_vote (same k, same tie rule).
    */
  private def knn3Collapsed(e: DataFrame): DataFrame = {
    // Duplicate-collapsed candidate generation (the dedup_minhash trick
    // on the vector plane): identical embeddings share every band bucket
    // AND every cosine, so candidate enumeration runs over one
    // representative per distinct vector — an exact-dup cluster of M
    // (the class a replicated crawl is full of) costs one banding row
    // instead of M² candidate pairs. Per-doc top-3 is then exact over a
    // BOUNDED pool: within a candidate group all cosines are equal and
    // ties break by ascending id, so only a group's 3 smallest ids (4
    // for the own group — self is filtered) can ever reach a top-3.
    // Edges stay doc-level (3n rows, linear) so mutuality and the degree
    // histogram are computed exactly as the naive oracle does.
    val byVec = Window.partitionBy("embedding")
    val rkW = Window.partitionBy("embedding").orderBy("vec_id")
    val eAll = e.select(col("vec_id"), col("embedding"))
      .withColumn("gid", min("vec_id").over(byVec))
      .withColumn("rk", row_number().over(rkW))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = eAll.filter(col("rk") === 1).select(col("gid"), col("embedding"))
    val bands = signBands(
      reps.select(col("gid").as("vec_id"), col("embedding")),
      countFrom = Some(e))
    val gcos = pairCosines(bandPairs(bands, "vec_id", _ =!= _, "gsrc", "gdst"), reps, "gid")
    // own-group pool entries carry cosR(v, v) — not a 1.0 literal — so a
    // degenerate vector (NaN cosine) ranks exactly as it does in the
    // naive per-pair formulation
    val own = eAll.filter(col("rk") <= 4)
      .select(col("gid"), col("vec_id").as("cand_id"),
        cosR(col("embedding"), col("embedding")).as("cos_sim"))
    val pool = own.unionByName(gcos
      .join(eAll.filter(col("rk") <= 3)
          .select(col("gid").as("gdst"), col("vec_id").as("cand_id")),
        Seq("gdst"))
      .select(col("gsrc").as("gid"), col("cand_id"), col("cos_sim")))
    val rankW = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("dst"))
    eAll.select(col("vec_id").as("src"), col("gid"))
      .join(pool, Seq("gid"))
      .filter(col("cand_id") =!= col("src"))
      .select(col("src"), col("cand_id").as("dst"), col("cos_sim"))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") <= 3)
      .select("src", "dst", "cos_sim")
  }

  /** DuckDB CTE chain mirroring [[knn3Collapsed]] — the shared head of
    * the ann_knn_graph / emb_hubness / emb_label_vote scale twins,
    * ending in `edges(src, dst, cos_sim)` with `e` / `n1` in scope. The
    * naive oracles' doc-level band self-join is replication-quadratic
    * (an exact-dup cluster of M shares every bucket → M² candidate
    * rows), so the 1000x gate bands one representative per distinct
    * embedding (bit width pinned to the FULL count, exactly like the
    * Spark side's countFrom), enumerates candidate pairs group-level,
    * and expands per-doc top-3 edges through the bounded pool (own
    * group's 4 smallest ids + each candidate group's 3 smallest). */
  private lazy val knn3ScaleHeadSql: String =
    s"""${duckEmb("vec_id, label")},
       |mem AS MATERIALIZED (
       |  SELECT vec_id, label, emb,
       |    min(vec_id) OVER (PARTITION BY emb) AS gid,
       |    row_number() OVER (PARTITION BY emb ORDER BY vec_id) AS rk
       |  FROM e),
       |repse AS MATERIALIZED (SELECT gid AS vec_id, emb FROM mem WHERE rk = 1),
       |${signBandsSql("repse", "n1 AS (SELECT count(*) AS n FROM e)")},
       |${duckBandPairs("gcand(gsrc, gdst)", "bands", "vec_id", "<>")},
       |${duckPairCosines("gcos", "gcand", "gsrc", "gdst", "repse")},
       |own AS (SELECT gid, vec_id AS cand_id,
       |          round(list_cosine_similarity(emb, emb), 4) AS cos_sim
       |        FROM mem WHERE rk <= 4),
       |extp AS (SELECT g.gsrc AS gid, m.vec_id AS cand_id, g.cos_sim
       |         FROM gcos g JOIN mem m ON m.gid = g.gdst AND m.rk <= 3),
       |pool AS MATERIALIZED (SELECT * FROM own UNION ALL SELECT * FROM extp),
       |sc AS (SELECT s.vec_id AS src, p.cand_id AS dst, p.cos_sim
       |       FROM mem s JOIN pool p ON p.gid = s.gid AND p.cand_id <> s.vec_id),
       |${duckNearest("edges", 3)}""".stripMargin

  /** The naive (doc-level) twin of [[knn3ScaleHeadSql]]: every vector
    * banded, band pairs scored, each vector's 3 nearest kept, ending in
    * the same `edges(src, dst, cos_sim)` with `e` / `n1` in scope. */
  private lazy val knn3HeadSql: String =
    s"""${duckEmb("vec_id, label")},
       |${signBandsSql()},
       |${duckBandPairs("cand(src, dst)", "bands", "vec_id", "<>")},
       |${duckPairCosines("sc", "cand", "src", "dst")},
       |${duckNearest("edges", 3)}""".stripMargin

  /** The CTE `name`: each `src`'s `k` nearest `dst` among the scored pairs
    * `sc` (src, dst, cos_sim), ties to the smaller id — the twin of the
    * top-k rank in [[knn3Collapsed]]. */
  private def duckNearest(name: String, k: Int): String =
    s"""$name AS MATERIALIZED (SELECT src, dst, cos_sim FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY src ORDER BY cos_sim DESC, dst) AS rn FROM sc)
       |  WHERE rn <= $k)""".stripMargin

  val annKnnGraph: Q = {
    val body =
      """m AS (SELECT k.src, k.cos_sim,
        |        CASE WHEN k2.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
        |      FROM edges k LEFT JOIN edges k2
        |        ON k2.src = k.dst AND k2.dst = k.src),
        |deg AS (SELECT src, count(*) AS degree,
        |          CAST(sum(mutual) AS BIGINT) AS n_mut,
        |          sum(CAST(cos_sim AS DECIMAL(18,4))) AS sum_cos
        |        FROM m GROUP BY 1),
        |dd AS (SELECT CAST(degree AS INT) AS degree, count(*) AS n_vectors,
        |         CAST(sum(degree) AS BIGINT) AS n_edges,
        |         CAST(sum(n_mut) AS BIGINT) AS n_mutual,
        |         round(CAST(sum(sum_cos) AS DOUBLE) / sum(degree), 4) AS avg_cos
        |       FROM deg GROUP BY 1),
        |d0 AS (SELECT CAST(0 AS INT) AS degree,
        |         n1.n - (SELECT count(*) FROM deg) AS n_vectors,
        |         CAST(0 AS BIGINT) AS n_edges, CAST(0 AS BIGINT) AS n_mutual,
        |         CAST(NULL AS DOUBLE) AS avg_cos
        |       FROM n1)
        |SELECT * FROM d0 WHERE n_vectors > 0
        |UNION ALL SELECT * FROM dd ORDER BY degree""".stripMargin
    Q.sqlDual("ann_knn_graph", s"WITH $knn3HeadSql,\n$body",
      s"WITH $knn3ScaleHeadSql,\n$body") { (s, d) =>
      val e = emb(s, d)
      val knn = knn3Collapsed(e)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mutual = knn
        .join(knn.select(col("src").as("r_src"), col("dst").as("r_dst")),
          col("r_src") === col("dst") && col("r_dst") === col("src"), "left")
        .select(col("src"), col("cos_sim"),
          when(col("r_src").isNotNull, 1).otherwise(0).as("mutual"))
      val deg = mutual.groupBy("src")
        .agg(count(lit(1)).as("degree"),
          sum("mutual").cast("long").as("n_mut"),
          sum(col("cos_sim").cast("decimal(18,4)")).as("sum_cos"))
      val dd = deg.groupBy(col("degree").cast("int").as("degree"))
        .agg(count(lit(1)).as("n_vectors"),
          sum("degree").cast("long").as("n_edges"),
          sum("n_mut").cast("long").as("n_mutual"),
          round(sum("sum_cos").cast("double") / sum("degree"), 4).as("avg_cos"))
      val nDeg = deg.agg(count(lit(1)).as("n_with_edges"))
      val d0 = e.agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(nDeg))
        .select(lit(0).cast("int").as("degree"),
          (col("n") - col("n_with_edges")).as("n_vectors"),
          lit(0L).as("n_edges"), lit(0L).as("n_mutual"),
          lit(null).cast("double").as("avg_cos"))
        .filter(col("n_vectors") > 0)
      d0.unionByName(dd).orderBy("degree")
    }
  }

  /** kNN-graph hubness audit — the IN-degree distribution of the
    * directed 3-NN graph ([[knn3Collapsed]], the builder shared with
    * ann_knn_graph / emb_label_vote): how many vectors are never anyone's
    * neighbor (indeg 0 — unreachable by graph traversal), how many sit in
    * the healthy 1–6 range, and how much edge mass concentrates on
    * 10+-degree hubs. Hub concentration is the practical
    * intrinsic-dimensionality warning for ANN serving: hubs absorb probe
    * traffic, dominate neighborhood-vote label cleaning (emb_label_vote)
    * and make beam search (ann_graph_search) revisit the same nodes —
    * skewed cum_share says "re-embed or re-weight before indexing".
    * Out-degree is ≤3 by construction, so in-degree carries ALL the
    * asymmetry; buckets clamp at 10+ keeping the report ≤12 rows at any
    * corpus size.
    *
    * Scale shape: edges come from the duplicate-collapsed 3-NN builder
    * (≤3n rows, candidate pairs O(n·const) via adaptive sign-LSH); the
    * in-degree table is ONE linear partial-agg groupBy on dst, persisted
    * across its two readers (bucket rollup + referenced count); the
    * rollup is ≤11 cells; the zero bucket is total − |referenced| from
    * two broadcast 1-row aggregates; cum_share accumulates raw integer
    * counts over the ≤12-row report (single-partition window is fine at
    * that size), rounded once per row. */
  val embHubness: Q = {
    val body =
      """ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg
        |        FROM edges GROUP BY 1),
        |b AS (SELECT CAST(least(indeg, 10) AS INT) AS indeg_bucket,
        |        CAST(count(*) AS BIGINT) AS n_vectors,
        |        CAST(sum(indeg) AS BIGINT) AS n_in_edges
        |      FROM ind GROUP BY 1),
        |z AS (SELECT CAST(0 AS INT) AS indeg_bucket,
        |        n1.n - (SELECT count(*) FROM ind) AS n_vectors,
        |        CAST(0 AS BIGINT) AS n_in_edges
        |      FROM n1),
        |u AS (SELECT * FROM z WHERE n_vectors > 0 UNION ALL SELECT * FROM b)
        |SELECT indeg_bucket, n_vectors, n_in_edges,
        |  round(1.0 * n_vectors / n1.n, 4) AS share,
        |  round(1.0 * sum(n_vectors) OVER (ORDER BY indeg_bucket) / n1.n, 4)
        |    AS cum_share
        |FROM u, n1 ORDER BY indeg_bucket""".stripMargin
    Q.sqlDual("emb_hubness", s"WITH $knn3HeadSql,\n$body",
      s"WITH $knn3ScaleHeadSql,\n$body") { (s, d) =>
      val e = emb(s, d)
      val ind = knn3Collapsed(e)
        .groupBy(col("dst"))
        .agg(count(lit(1)).cast("long").as("indeg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val b = ind
        .groupBy(least(col("indeg"), lit(10L)).cast("int").as("indeg_bucket"))
        .agg(count(lit(1)).cast("long").as("n_vectors"),
          sum("indeg").cast("long").as("n_in_edges"))
      val n1 = e.agg(count(lit(1)).as("n"))
      val nRef = ind.agg(count(lit(1)).as("n_ref"))
      val z = n1.crossJoin(broadcast(nRef))
        .select(lit(0).cast("int").as("indeg_bucket"),
          (col("n") - col("n_ref")).as("n_vectors"),
          lit(0L).as("n_in_edges"))
        .filter(col("n_vectors") > 0)
      val w = Window.orderBy("indeg_bucket")
      z.unionByName(b)
        .crossJoin(broadcast(n1))
        .withColumn("share", round(lit(1.0) * col("n_vectors") / col("n"), 4))
        .withColumn("cum_share",
          round(lit(1.0) * sum("n_vectors").over(w) / col("n"), 4))
        .select("indeg_bucket", "n_vectors", "n_in_edges", "share", "cum_share")
        .orderBy("indeg_bucket")
    }
  }

  /** Cluster-balanced subsampling — the topic-flattening curation step
    * (cap every semantic cluster at an equal quota so a crawl's dominant
    * topic cannot swamp the mix): assign each vector to its trained
    * IVF cell (the ann_ivf_trained quantizer — broadcast centroids,
    * per-row argmin fold, NO assignment exchange), set
    * quota = ⌈N/k⌉, and keep each cell's quota-prefix by ascending
    * vec_id — a deterministic, reproducible selection (re-running the
    * release yields the identical subset, which is what makes a
    * training-mix auditable). The per-cell report pins the EXACT kept
    * set, not just its size: kept_id_sum / kept_id_max are checksums of
    * the chosen ids, so an engine that kept the right COUNT but the
    * wrong rows fails the gate.
    *
    * Scale: one |labels|-buffer centroid aggregate + one cell-keyed
    * window exchange (rank within cell); totals ride a broadcast 1-row
    * frame. Output ≤ k rows. */
  val embClusterSample: Q = Q.sql(
    "emb_cluster_sample",
    s"""WITH $centCtesSql,
       |${centRanksCtes()},
       |${duckAssignSql("clabel")},
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |        CAST(count(DISTINCT cell) AS BIGINT) AS k FROM assign),
       |q AS (SELECT (n + k - 1) // k AS quota FROM t),
       |r AS (SELECT cell, vec_id, row_number() OVER (
       |        PARTITION BY cell ORDER BY vec_id) AS rn2 FROM assign)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_raw,
       |  CAST(count(*) FILTER (WHERE rn2 <= quota) AS BIGINT) AS n_kept,
       |  CAST(min(quota) AS BIGINT) AS quota,
       |  round(1.0 * count(*) FILTER (WHERE rn2 <= quota) / count(*), 4)
       |    AS retention,
       |  CAST(sum(vec_id) FILTER (WHERE rn2 <= quota) AS BIGINT) AS kept_id_sum,
       |  CAST(max(vec_id) FILTER (WHERE rn2 <= quota) AS BIGINT) AS kept_id_max
       |FROM r CROSS JOIN q GROUP BY cell ORDER BY cell""".stripMargin) { (s, d) =>
    val e = emb(s, d)
    val assign = centroidRanks(e).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val t = assign.agg(count(lit(1)).cast("long").as("n"),
      countDistinct(col("cell")).cast("long").as("k"))
      .select(expr("(n + k - 1) div k").cast("long").as("quota"))
    val w = Window.partitionBy("cell").orderBy("vec_id")
    assign
      .withColumn("rn2", row_number().over(w))
      .crossJoin(broadcast(t))
      .groupBy("cell")
      .agg(count(lit(1)).cast("long").as("n_raw"),
        count(when(col("rn2") <= col("quota"), 1)).cast("long").as("n_kept"),
        min("quota").cast("long").as("quota"),
        round(lit(1.0) * count(when(col("rn2") <= col("quota"), 1)) / count(lit(1)), 4)
          .as("retention"),
        sum(when(col("rn2") <= col("quota"), col("vec_id"))).cast("long")
          .as("kept_id_sum"),
        max(when(col("rn2") <= col("quota"), col("vec_id"))).cast("long")
          .as("kept_id_max"))
      .orderBy("cell")
  }

  /** Per-dimension whitening audit: standardize every coordinate by its
    * corpus mean/std (the feature-scaling pass run before cosine/L2
    * indexing when dimensions are mis-scaled) and report the whitened
    * extremes per dimension — a dim whose max |z| is huge carries heavy
    * outlier mass that will dominate L2 distances; n_clipped (|z| > 3) is
    * the count a clip-at-3σ normalizer would touch.
    *
    * Scale shape: the exploded (vec, dim, v) projection is built ONCE and
    * persisted MEMORY_AND_DISK across its two readers (moment pass +
    * scoring pass — the tfidf/pmi posture); dim stats come from one
    * partial-aggregating groupBy bounded at |dims|, ride back as a
    * broadcast, and the z scoring is a per-row map feeding a second
    * |dims|-bounded aggregate. Nothing shuffles at corpus size except the
    * two mergeable-moment exchanges.
    *
    * Determinism: coordinates rounded once to 6 and summed as DECIMAL
    * (exact, order-independent); mean/std divide the exact sums as
    * doubles, so z = (v − mean)/std is the same IEEE value in both
    * engines; min/max/count aggregates over identical values. */
  val embWhiten: Q = Q.sql(
    "emb_whiten",
    s"""WITH $duckDimMoments,
      |st AS (SELECT dim, n_vecs, mean, sqrt(ex2 - mean * mean) AS std FROM a),
      |z AS (SELECT r.dim,
      |        CASE WHEN st.std = 0 THEN NULL ELSE (r.v - st.mean) / st.std END AS z
      |      FROM r JOIN st ON r.dim = st.dim)
      |SELECT z.dim, st.n_vecs, round(st.mean, 6) AS mean,
      |  round(st.std, 6) AS std,
      |  round(min(z.z), 4) AS min_z, round(max(z.z), 4) AS max_z,
      |  CAST(sum(CASE WHEN abs(z.z) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM z JOIN st ON z.dim = st.dim
      |GROUP BY z.dim, st.n_vecs, st.mean, st.std
      |ORDER BY z.dim""".stripMargin) { (s, d) =>
    import org.apache.spark.storage.StorageLevel
    // ≈ 16 B/coordinate: |corpus| × |dims| × (long, double) — disk-backed
    val r = coordRows(emb(s, d)).persist(StorageLevel.MEMORY_AND_DISK)
    val st = r.groupBy("dim").agg(
      count(lit(1)).as("n_vecs"),
      (sum(col("v").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("mean"),
      (sum((col("v") * col("v")).cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("ex2"))
      .select(col("dim"), col("n_vecs"), col("mean"),
        sqrt(col("ex2") - col("mean") * col("mean")).as("std"))
    r.join(broadcast(st), Seq("dim"))
      .withColumn("z", when(col("std") === 0, lit(null))
        .otherwise((col("v") - col("mean")) / col("std")))
      .groupBy("dim", "n_vecs", "mean", "std")
      .agg(round(min("z"), 4).as("min_z"), round(max("z"), 4).as("max_z"),
        sum(when(abs(col("z")) > 3, 1).otherwise(0)).as("n_clipped"))
      .select(col("dim"), col("n_vecs"), round(col("mean"), 6).as("mean"),
        round(col("std"), 6).as("std"), col("min_z"), col("max_z"),
        col("n_clipped"))
      .orderBy("dim")
  }

  /** Index-health audit for the adaptive sign-LSH blocking layer: per
    * band, the bucket-occupancy distribution — vectors, buckets, mean/max
    * bucket size, candidate pairs Σ s·(s−1)/2, and the balance factor
    * max/mean. This measures the exact invariant the adaptive bit rule
    * exists to hold (expected bucket ≈ 32 at any corpus size); a balance
    * factor exploding at scale is the early warning that a hyperplane
    * family stopped splitting the data (e.g. all-positive dims) BEFORE a
    * dedup/knn run goes quadratic. Re-uses the production [[signBands]]
    * banding verbatim, so the report audits the live index, not a copy.
    *
    * Shape: banding pass → partial-agg groupBy (band, bucket), bounded at
    * |buckets| ≤ 2·2^16 rows → 2-row band rollup. */
  val lshBucketStats: Q = Q.sql(
    "lsh_bucket_stats",
    s"""WITH ${duckEmb()},
       |${signBandsSql("e")},
       |g AS (SELECT band, bucket, count(*) AS sz FROM bands GROUP BY 1, 2)
       |SELECT band, CAST(sum(sz) AS BIGINT) AS n_vecs,
       |  count(*) AS n_buckets,
       |  round(1.0 * sum(sz) / count(*), 4) AS mean_sz,
       |  CAST(max(sz) AS BIGINT) AS max_sz,
       |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs,
       |  round(max(sz) / (1.0 * sum(sz) / count(*)), 4) AS balance
       |FROM g GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    signBands(emb(s, d))
      .groupBy("band", "bucket").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(sum("sz").as("n_vecs"), count(lit(1)).as("n_buckets"),
        round(lit(1.0) * sum("sz") / count(lit(1)), 4).as("mean_sz"),
        max("sz").as("max_sz"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"),
        round(max("sz") / (lit(1.0) * sum("sz") / count(lit(1))), 4)
          .as("balance"))
      .orderBy("band")
  }

  /** Neighbor-vote label audit — the curation step the kNN graph exists
    * for: each vector's label is re-predicted by majority vote of its
    * LSH-kNN top-3 neighbors (ties → smallest label), and the per-label
    * report (vectors voted on, agreement count, accuracy, mislabel
    * candidates) is exactly the "which class is polluted" table a
    * labeled-embedding cleanup starts from. Low accuracy in one label =
    * mislabels or an encoder that can't separate that class; the flagged
    * rows are the human-review queue.
    *
    * Scale: candidates ride the SAME adaptive sign-bit LSH bands as
    * dedup_embedding/ann_knn_graph (expected bucket ≈ 32 at any corpus
    * size ⇒ pair work O(n·const)); the vote is a (src, neighbor-label)
    * partial agg with a struct-max argmax (one aggregation, no rank
    * join-back); the report is a ≤ |labels|-row rollup. */
  val embLabelVote: Q = {
    val body =
      """lv AS (SELECT k.src, e.label AS nlabel, count(*) AS cnt
        |       FROM edges k JOIN e ON e.vec_id = k.dst GROUP BY 1, 2),
        |vote AS (SELECT src, nlabel AS vote FROM (
        |        SELECT *, row_number() OVER (
        |          PARTITION BY src ORDER BY cnt DESC, nlabel) AS rn FROM lv)
        |      WHERE rn = 1),
        |j AS (SELECT e.label, CASE WHEN vote.src IS NULL THEN 0 ELSE 1 END AS voted,
        |        CASE WHEN vote.vote = e.label THEN 1 ELSE 0 END AS agree
        |      FROM e LEFT JOIN vote ON vote.src = e.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(voted) AS BIGINT) AS n_voted,
        |  CAST(sum(agree) AS BIGINT) AS n_agree,
        |  round(1.0 * sum(agree) / nullif(sum(voted), 0), 4) AS accuracy,
        |  CAST(sum(voted) - sum(agree) AS BIGINT) AS n_flagged
        |FROM j GROUP BY label ORDER BY label""".stripMargin
    Q.sqlDual("emb_label_vote", s"WITH $knn3HeadSql,\n$body",
      s"WITH $knn3ScaleHeadSql,\n$body") { (s, d) =>
      val e = emb(s, d)
      // round-10 quadratic fix (100x sweep: 20 s / 10.2x): the per-doc
      // band self-join paid M² candidate rows per exact-dup cluster. The
      // 3-NN edge list now comes from the shared duplicate-collapsed
      // builder ([[knn3Collapsed]] — also ann_knn_graph's); the dst picks
      // are id-exact, so the label votes are unchanged even where
      // identical embeddings carry different labels.
      val k = knn3Collapsed(e).select("src", "dst")
      // argmax by (cnt, −label) struct-max: max count, smallest label on
      // ties — one aggregation instead of a rank + join-back
      val vote = k.join(e.select(col("vec_id").as("dst"), col("label").as("nlabel")),
          Seq("dst"))
        .groupBy("src", "nlabel").agg(count(lit(1)).as("cnt"))
        .groupBy("src")
        .agg(max(struct(col("cnt"), (-col("nlabel")).as("nl"))).as("__m"))
        .select(col("src"), (-col("__m.nl")).cast("int").as("vote"))
      e.select(col("vec_id"), col("label"))
        .join(vote, col("src") === col("vec_id"), "left")
        .select(col("label"),
          when(col("src").isNull, 0).otherwise(1).as("voted"),
          when(col("vote") === col("label"), 1).otherwise(0).as("agree"))
        .groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum("voted").cast("long").as("n_voted"),
          sum("agree").cast("long").as("n_agree"),
          round(lit(1.0) * sum("agree") / nullif(sum("voted"), lit(0)), 4)
            .as("accuracy"),
          (sum("voted") - sum("agree")).cast("long").as("n_flagged"))
        .orderBy("label")
    }
  }

  /** Filtered ANN — the metadata-predicate serve path: top-3 cosine per
    * query among candidates that pass a label predicate (here: odd
    * labels), probed through the same sign-bit IVF cell as ann_ivf. The
    * filter is applied INSIDE the cell probe (pre-filter), not on the
    * result list (post-filter would return < k whenever the filter is
    * selective — the classic filtered-ANN failure). `n_candidates`
    * publishes the per-query surviving-candidate count, the selectivity
    * readout that tells a deployment when a cell probe is too thin under
    * the filter and nprobe must grow.
    *
    * Scale: the label predicate is pushed into the candidate scan
    * (parquet pushdown — at 100 TB a label-partitioned layout prunes
    * files before the probe); the bounded query side broadcasts; ranking
    * is per-query over one probed cell's survivors. */
  val annFiltered: Q = Q.sql(
    "ann_filtered",
    s"""WITH ${duckEmb(s"vec_id, label, $duckSignCell AS cell")},
      |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM e WHERE ${duckIsQuery()}),
      |s AS (SELECT query_id, e.vec_id AS neighbor_id, e.label,
      |        round(list_cosine_similarity(qe, emb), 4) AS cos_sim
      |      FROM q JOIN e ON q.cell = e.cell AND e.vec_id <> q.query_id
      |      WHERE e.label % 2 = 1),
      |r AS (SELECT *,
      |        CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_candidates,
      |        row_number() OVER (
      |          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, neighbor_id, label, n_candidates, cos_sim, rank
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val e = emb(s, d)
      .select(col("vec_id"), col("label"), col("embedding"), signCell.as("cell"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cell").as("qcell"))
    val cands = e.filter(col("label") % 2 === 1).withColumnRenamed("vec_id", "neighbor_id")
    topk(probe(cands, q, byCell = true)
      .select(col("query_id"), col("neighbor_id"), col("label"),
        cosR(col("qe"), col("embedding")).as("cos_sim"))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy("query_id")).cast("long")),
      col("cos_sim").desc, 3)
      .orderBy("query_id", "rank")
  }

  /** Matryoshka-truncation audit: how much of each vector's energy the
    * leading m coordinates carry, for m ∈ {8,16,32,64} — the
    * measurement behind serving truncated (MRL-style) embeddings: a
    * high mean share at m=16 means a 4× cheaper ANN index loses little
    * recall; a low one means truncation is not on the table for this
    * encoder. Per m: mean/min energy share and the fraction of vectors
    * ≥ 0.9 ("servable" at that truncation).
    *
    * Scale: shares are per-row decimal array folds inside the scan —
    * NO vec_id-keyed exchange anywhere (the k-means/PCA discipline);
    * the only shuffle is the 4-row (m) partial aggregate. Coordinates
    * are rounded once to 6 decimals then scaled to exact BIGINT
    * micro-units, so every square and fold is exact integer arithmetic
    * (order-independent; 64 squares stay < 2^53, exactly representable
    * as the DOUBLE the share quotient divides); per-m aggregates ride
    * exact DECIMAL sums of the already-rounded shares. */
  val embMatryoshka: Q = Q.sql(
    "emb_matryoshka",
    s"""WITH ${duckEmb()},
      |u AS (SELECT vec_id,
      |        CAST(round(round(unnest(emb), 6) * 1000000, 0) AS BIGINT) AS uv,
      |        generate_subscripts(emb, 1) AS dim FROM e),
      |s AS (SELECT vec_id,
      |    CAST(sum(uv * uv) AS DOUBLE) AS efull,
      |    CAST(sum(uv * uv) FILTER (WHERE dim <= 8) AS DOUBLE) AS e8,
      |    CAST(sum(uv * uv) FILTER (WHERE dim <= 16) AS DOUBLE) AS e16,
      |    CAST(sum(uv * uv) FILTER (WHERE dim <= 32) AS DOUBLE) AS e32
      |  FROM u GROUP BY vec_id),
      |x AS (
      |  SELECT 8 AS m, round(e8 / efull, 6) AS share FROM s
      |  UNION ALL SELECT 16, round(e16 / efull, 6) FROM s
      |  UNION ALL SELECT 32, round(e32 / efull, 6) FROM s
      |  UNION ALL SELECT 64, round(efull / efull, 6) FROM s)
      |SELECT m, count(*) AS n_vecs,
      |  round(CAST(sum(CAST(share AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
      |    AS mean_share,
      |  round(min(share), 6) AS min_share,
      |  CAST(sum(CASE WHEN share >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_servable,
      |  round(1.0 * sum(CASE WHEN share >= 0.9 THEN 1 ELSE 0 END) / count(*), 4)
      |    AS servable_frac
      |FROM x GROUP BY m ORDER BY m""".stripMargin) { (s, d) =>
    // per-row energies: decimal folds over the rounded coordinate array —
    // the corpus is never exchanged on vec_id
    def energy(m: Int): Column = expr(
      s"""cast(aggregate(slice(transform(embedding,
         |  x -> cast(round(round(cast(x as double), 6) * 1000000, 0) as bigint)), 1, $m),
         |  cast(0 as bigint),
         |  (acc, x) -> acc + x * x) as double)""".stripMargin)
    val shares = emb(s, d)
      .select(energy(8).as("e8"), energy(16).as("e16"),
        energy(32).as("e32"), energy(64).as("efull"))
      .select(explode(array(
        struct(lit(8).as("m"), round(col("e8") / col("efull"), 6).as("share")),
        struct(lit(16).as("m"), round(col("e16") / col("efull"), 6).as("share")),
        struct(lit(32).as("m"), round(col("e32") / col("efull"), 6).as("share")),
        struct(lit(64).as("m"), round(col("efull") / col("efull"), 6).as("share"))))
        .as("ms"))
      .select(col("ms.m").as("m"), col("ms.share").as("share"))
    shares.groupBy("m")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("share").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 6).as("mean_share"),
        round(min("share"), 6).as("min_share"),
        sum(when(col("share") >= 0.9, 1).otherwise(0)).cast("long")
          .as("n_servable"),
        round(lit(1.0) * sum(when(col("share") >= 0.9, 1).otherwise(0))
          / count(lit(1)), 4).as("servable_frac"))
      .orderBy("m")
  }

  /** IVF cell-balance audit — the index-health twin of lsh_bucket_stats
    * for the TRAINED coarse quantizer: per-cell population, share, and
    * scan-cost ordering, plus the imbalance factor (max cell / mean cell)
    * that IS the serve-time straggler bound — with nprobe cells scanned
    * per query, a 5× overfull cell makes the worst probe 5× the average,
    * and at cluster scale the cell is the partition. Run after training
    * (ann_ivf_trained / ann_ivf_kmeans) and before committing a cell
    * count: a skewed histogram here means re-train with more rounds or
    * finer cells, not more replicas.
    *
    * Shape: the assignment reuses the LIVE centroid-rank machinery
    * (broadcast centroid array, per-row argmin fold — zero corpus
    * shuffle); everything after is a ≤|cells| frame: one partial-agg
    * groupBy, one bounded window for the cumulative scan curve, one 1-row
    * broadcast of the totals. */
  val annIvfBalance: Q = Q.sql(
    "ann_ivf_balance",
    s"""WITH $centCtesSql,
      |${centRanksCtes()},
      |$duckCellSizes,
      |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tot,
      |        CAST(count(*) AS BIGINT) AS n_cells,
      |        CAST(max(n_vecs) AS BIGINT) AS mx
      |      FROM a)
      |SELECT a.cell, a.n_vecs,
      |  round(1.0 * a.n_vecs / t.tot, 4) AS share,
      |  CAST(row_number() OVER (ORDER BY a.n_vecs DESC, a.cell) AS BIGINT) AS scan_rank,
      |  round(1.0 * sum(a.n_vecs) OVER (ORDER BY a.n_vecs DESC, a.cell) / t.tot, 4)
      |    AS cum_share,
      |  t.n_cells, round(1.0 * t.mx * t.n_cells / t.tot, 4) AS imbalance
      |FROM a CROSS JOIN t ORDER BY a.cell""".stripMargin) { (s, d) =>
    val a = cellSizes(centroidRanks(emb(s, d)))
    val t = a.agg(sum("n_vecs").cast("long").as("tot"),
      count(lit(1)).cast("long").as("n_cells"),
      max("n_vecs").cast("long").as("mx"))
    val scanW = Window.orderBy(col("n_vecs").desc, col("cell"))
    a.crossJoin(broadcast(t))
      .select(col("cell"), col("n_vecs"),
        round(lit(1.0) * col("n_vecs") / col("tot"), 4).as("share"),
        row_number().over(scanW).cast("long").as("scan_rank"),
        round(lit(1.0) * sum("n_vecs").over(scanW) / col("tot"), 4).as("cum_share"),
        col("n_cells"),
        round(lit(1.0) * col("mx") * col("n_cells") / col("tot"), 4).as("imbalance"))
      .orderBy("cell")
  }

  /** Query-traffic skew per IVF cell — the serving companion of
    * [[annIvfBalance]]: balance audits how STORAGE distributes over
    * cells, this audits how PROBE TRAFFIC does, under a deterministic
    * query workload (every 17th vector, nprobe = 2 — each query visits
    * its two nearest cells, the ann_ivf_multiprobe serve shape). A cell
    * whose traffic share far exceeds its storage share (skew_ratio ≫ 1)
    * is the hotspot that saturates its executors long before the index
    * is "full"; the fix is cell splitting or probe-side replication,
    * and this report says where. Cells no query ever probes (skew 0)
    * are the cold tier a layout could demote.
    *
    * Scale shape: ONE ranked-assignment pass (broadcast ≤|labels|
    * centroid array, per-row argmin sort — the corpus never exchanges)
    * persisted and read twice (storage = rank-1 rows of everything,
    * traffic = rank ≤ 2 rows of the workload sample); both rollups are
    * |cells|-bounded partial aggregates; shares divide exact longs once
    * and the ratio-of-shares is computed unrounded then rounded once. */
  val annQuerySkew: Q = Q.sql(
    "ann_query_skew",
    s"""WITH $centCtesSql,
      |${centRanksCtes()},
      |$duckCellSizes,
      |qt AS (SELECT clabel AS cell, CAST(count(*) AS BIGINT) AS n_queries
      |       FROM ar WHERE rn <= 2 AND vec_id % 17 = 0 GROUP BY 1),
      |sp AS (SELECT clabel AS cell FROM cent),
      |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tot FROM a),
      |tq AS (SELECT CAST(sum(n_queries) AS BIGINT) AS totq FROM qt)
      |SELECT sp.cell, coalesce(a.n_vecs, 0) AS n_vecs,
      |  coalesce(qt.n_queries, 0) AS n_queries,
      |  round(1.0 * coalesce(a.n_vecs, 0) / t.tot, 4) AS storage_share,
      |  round(1.0 * coalesce(qt.n_queries, 0) / nullif(tq.totq, 0), 4) AS traffic_share,
      |  round((1.0 * coalesce(qt.n_queries, 0) / nullif(tq.totq, 0))
      |        / nullif(1.0 * coalesce(a.n_vecs, 0) / t.tot, 0), 4) AS skew_ratio
      |FROM sp LEFT JOIN a USING (cell) LEFT JOIN qt USING (cell)
      |CROSS JOIN t CROSS JOIN tq ORDER BY sp.cell""".stripMargin) { (s, d) =>
    val ranks = centroidRanks(emb(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = cellSizes(ranks)
    val qt = ranks.filter(col("rn") <= 2 && col("vec_id") % 17 === 0)
      .groupBy(col("cid").as("cell"))
      .agg(count(lit(1)).cast("long").as("n_queries"))
    val sp = labelCentroids(emb(s, d)).select(col("clabel").as("cell"))
    val t = a.agg(sum("n_vecs").cast("long").as("tot"))
    val tq = qt.agg(sum("n_queries").cast("long").as("totq"))
    sp.join(a, Seq("cell"), "left").join(qt, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("n_queries"), lit(0L)).as("n_queries"))
      .crossJoin(broadcast(t)).crossJoin(broadcast(tq))
      .select(col("cell"), col("n_vecs"), col("n_queries"),
        round(lit(1.0) * col("n_vecs") / col("tot"), 4).as("storage_share"),
        round(lit(1.0) * col("n_queries") / nullif(col("totq"), lit(0L)), 4)
          .as("traffic_share"),
        round((lit(1.0) * col("n_queries") / nullif(col("totq"), lit(0L)))
          / nullif(lit(1.0) * col("n_vecs") / col("tot"), lit(0.0)), 4)
          .as("skew_ratio"))
      .orderBy("cell")
  }

  /** Inter-class centroid geometry — the class-confusability matrix:
    * cosine between every ordered pair of label centroids, each class's
    * neighbors ranked. High off-diagonal cosine = the two classes share a
    * direction (a classifier or a labeled-retrieval index will confuse
    * exactly those pairs); the nearest-class column is the first thing to
    * read after emb_cluster_purity says clusters and labels disagree.
    * Complements emb_triplet_audit (local ordering violations) with the
    * global class-level picture.
    *
    * Shape: the corpus collapses to |labels| centroids in ONE vector-level
    * partial aggregate (graft_vec_sum — no per-dim rows); the pair matrix,
    * ranks and output are all ≤|labels|² rows with a broadcast self-join.
    * No per-vector work after the centroid pass at any scale. */
  val embLabelSim: Q = Q.sql(
    "emb_label_sim",
    s"""WITH $centCtesSql,
      |p AS (SELECT a.clabel AS label_a, b.clabel AS label_b,
      |        round(list_cosine_similarity(a.cv, b.cv), 4) AS cos_sim
      |      FROM cent a JOIN cent b ON a.clabel <> b.clabel),
      |r AS (SELECT label_a, label_b, cos_sim,
      |        CAST(row_number() OVER (PARTITION BY label_a
      |          ORDER BY cos_sim DESC, label_b) AS BIGINT) AS rank
      |      FROM p)
      |SELECT label_a, label_b, cos_sim, rank,
      |  CASE WHEN rank = 1 THEN 1 ELSE 0 END AS is_nearest
      |FROM r ORDER BY label_a, rank""".stripMargin) { (s, d) =>
    val cent = labelCentroids(emb(s, d))
    val a = cent.select(col("clabel").as("label_a"), col("cv").as("cva"))
    val b = cent.select(col("clabel").as("label_b"), col("cv").as("cvb"))
    val w = Window.partitionBy("label_a").orderBy(col("cos_sim").desc, col("label_b"))
    a.join(broadcast(b), col("label_a") =!= col("label_b"))
      .select(col("label_a"), col("label_b"), cosR(col("cva"), col("cvb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("is_nearest", when(col("rank") === 1, 1).otherwise(0))
      .orderBy("label_a", "rank")
  }

  /** Per-class margin audit: each vector's cosine to its OWN label
    * centroid minus its best cosine to any OTHER centroid — negative
    * margin flags mislabel candidates. The centroid table is bounded at
    * |labels| rows → broadcast; the per-vector scoring is one map-side
    * pass (conditional-max per vec_id, partial-agg), so the shuffle
    * carries |vectors| scored rows, never |vectors|×|labels|. Per-row
    * cosines are bit-identical across engines (same fold order); the
    * label-level mean goes through an exact decimal sum. */
  val embClassMargin: Q = Q.sql(
    "emb_class_margin",
    s"""WITH $centCtesSql,
      |md AS (SELECT e.vec_id, e.label,
      |         CASE WHEN c.clabel = e.label THEN 1 ELSE 0 END AS own,
      |         list_cosine_similarity(e.emb, c.cv) AS cs
      |       FROM e, cent c),
      |m AS (SELECT vec_id, label,
      |        max(CASE WHEN own = 1 THEN cs END) AS own_cos,
      |        max(CASE WHEN own = 0 THEN cs END) AS best_other
      |      FROM md GROUP BY 1, 2)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (WHERE own_cos < best_other) AS BIGINT) AS n_negative,
      |  round(CAST(sum(CAST(own_cos - best_other AS DECIMAL(28,9))) AS DOUBLE)
      |    / count(*), 4) AS mean_margin,
      |  round(min(own_cos - best_other), 4) AS min_margin
      |FROM m GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    val cent = labelCentroids(emb(s, d))
    val scored = emb(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("embd"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("label"),
        (col("clabel") === col("label")).as("own"),
        call_function("graft_cosine", col("embd"), col("cv")).as("cs"))
    val m = scored.groupBy("vec_id", "label")
      .agg(max(when(col("own"), col("cs"))).as("own_cos"),
        max(when(!col("own"), col("cs"))).as("best_other"))
      .withColumn("margin", col("own_cos") - col("best_other"))
    m.groupBy("label")
      .agg(count(lit(1)).as("n"),
        count(when(col("margin") < 0, 1)).as("n_negative"),
        round(sum(col("margin").cast("decimal(28,9)")).cast("double") / count(lit(1)), 4)
          .as("mean_margin"),
        round(min(col("margin")), 4).as("min_margin"))
      .orderBy("label")
  }

  /** Isotropy / cone-effect audit per label: how far the class sits from
    * an isotropic cloud. anisotropy = ‖mean vector‖ / mean ‖vector‖ (→ 1
    * when all vectors point one way, → 0 for a centered cloud); the mean
    * pairwise dot product comes CLOSED-FORM from (‖Σv‖² − Σ‖v‖²)/(n(n−1))
    * — one partial-agg pass over the corpus, no pair join at any scale.
    * All sums ride exact decimals (graft_vec_sum for Σv); the one sqrt /
    * divide per label happens once, in double, identically on both
    * engines. */
  val embIsotropy: Q = Q.sql(
    "emb_isotropy",
    s"""WITH ${duckEmb("vec_id, label")},
      |r AS (SELECT label, emb,
      |        list_sum(list_transform(emb, x -> x * x)) AS normsq
      |      FROM e),
      |u AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim
      |      FROM e),
      |sd AS (SELECT label, dim, CAST(sum(CAST(v AS DECIMAL(28,9))) AS DOUBLE) AS sv
      |       FROM u GROUP BY 1, 2),
      |sl AS (SELECT label, list_sum(list_transform(list(sv ORDER BY dim),
      |                x -> x * x)) AS sumsq
      |       FROM sd GROUP BY label),
      |g AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(CAST(sqrt(normsq) AS DECIMAL(28,9))) AS DOUBLE) AS sum_norm,
      |        CAST(sum(CAST(normsq AS DECIMAL(28,9))) AS DOUBLE) AS sum_normsq
      |      FROM r GROUP BY label)
      |SELECT g.label, g.n,
      |  round(g.sum_norm / g.n, 6) AS mean_norm,
      |  round(sqrt(sl.sumsq) / g.n, 6) AS norm_of_mean,
      |  round(sqrt(sl.sumsq) / g.sum_norm, 4) AS anisotropy,
      |  round((sl.sumsq - g.sum_normsq) / (g.n * (g.n - 1)), 6) AS mean_pairwise_dot
      |FROM g JOIN sl ON sl.label = g.label
      |ORDER BY g.label""".stripMargin) { (s, d) =>
    val e = emb(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("embd"))
      .withColumn("normsq",
        expr("aggregate(embd, cast(0 as double), (acc, x) -> acc + x * x)"))
    val g = e.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(sqrt(col("normsq")).cast("decimal(28,9)")).cast("double").as("sum_norm"),
        sum(col("normsq").cast("decimal(28,9)")).cast("double").as("sum_normsq"),
        expr("graft_vec_sum(transform(embd, x -> cast(x as decimal(28,9))))").as("svd"))
      .withColumn("sumsq",
        expr("aggregate(transform(svd, x -> cast(x as double)), cast(0 as double), (acc, x) -> acc + x * x)"))
    g.select(col("label"), col("n"),
      round(col("sum_norm") / col("n"), 6).as("mean_norm"),
      round(sqrt(col("sumsq")) / col("n"), 6).as("norm_of_mean"),
      round(sqrt(col("sumsq")) / col("sum_norm"), 4).as("anisotropy"),
      round((col("sumsq") - col("sum_normsq")) / (col("n") * (col("n") - lit(1))), 6)
        .as("mean_pairwise_dot"))
      .orderBy("label")
  }

  /** IVF serving-shard plan: assign index cells to 8 serving shards by
    * serpentine (boustrophedon) round-robin over the population-ranked
    * cell list — the deterministic LPT-style heuristic that keeps the
    * heaviest cells apart without any sequential bin state. Per shard:
    * cells, vectors, load share, and skew vs the perfect 1/8 — what an
    * index deployer reads before pinning cells to executors. The rank
    * window runs over ≤|cells| rows (bounded by the quantizer, not the
    * corpus). */
  val annShardPlan: Q = Q.sql(
    "ann_shard_plan",
    s"""WITH $centCtesSql,
      |${centRanksCtes()},
      |$duckCellSizes,
      |r AS (SELECT cell, n_vecs,
      |        row_number() OVER (ORDER BY n_vecs DESC, cell) - 1 AS rk
      |      FROM a),
      |sh AS (SELECT cell, n_vecs,
      |         CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
      |              ELSE 7 - rk % 8 END AS INT) AS shard
      |       FROM r),
      |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tot FROM a)
      |SELECT shard, CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(n_vecs) AS BIGINT) AS n_vecs,
      |  round(CAST(sum(n_vecs) AS DOUBLE) / t.tot, 4) AS load_share,
      |  round(CAST(sum(n_vecs) AS DOUBLE) * 8 / t.tot, 4) AS skew
      |FROM sh CROSS JOIN t GROUP BY shard, t.tot
      |ORDER BY shard""".stripMargin) { (s, d) =>
    val a = cellSizes(centroidRanks(emb(s, d)))
    val r = a.withColumn("rk",
      row_number().over(Window.orderBy(col("n_vecs").desc, col("cell"))) - 1)
    val sh = r.withColumn("shard",
      when(expr("(rk div 8) % 2") === 0, col("rk") % 8)
        .otherwise(lit(7) - col("rk") % 8).cast("int"))
    val t = a.agg(sum("n_vecs").cast("long").as("tot"))
    sh.crossJoin(broadcast(t))
      .groupBy(col("shard"), col("tot"))
      .agg(count(lit(1)).as("n_cells"), sum("n_vecs").cast("long").as("n_vecs"))
      .select(col("shard"), col("n_cells"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("tot"), 4).as("load_share"),
        round(col("n_vecs").cast("double") * 8 / col("tot"), 4).as("skew"))
      .orderBy("shard")
  }

  /** Cross-modal pairing audit — the doc⨝embedding join plane (every
    * other operator works one modality at a time): per (label, lang),
    * paired-sample counts, source diversity, mean text length and mean
    * vector norm — the first table to read when a contrastive text/embed
    * training set needs its modality balance checked. The id-equi join of
    * two SF-scaling tables shuffles on the shared key (co-partitioned at
    * scale — bucketing both tables on the id makes it exchange-free);
    * means ride exact decimals. */
  val crossmodalMix: Q = Q.sql(
    "crossmodal_mix",
    s"""WITH ${duckEmb("vec_id, label")},
      |j AS (SELECT e.label, d.lang, d.source, d.n_chars,
      |        sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
      |      FROM e JOIN documents d ON d.doc_id = e.vec_id)
      |SELECT label, lang, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  round(CAST(sum(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE) / count(*), 2)
      |    AS mean_chars,
      |  round(CAST(sum(CAST(nrm AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6)
      |    AS mean_norm
      |FROM j GROUP BY 1, 2 ORDER BY label, lang""".stripMargin) { (s, d) =>
    val e = emb(s, d).select(col("vec_id"), col("label"),
      expr("""sqrt(aggregate(transform(embedding, x -> cast(x as double)),
              cast(0 as double), (acc, x) -> acc + x * x))""").as("nrm"))
    val j = e.join(graft.Tables.documents(s, d),
      col("doc_id") === col("vec_id"))
    j.groupBy("label", "lang")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("source")).as("n_sources"),
        round(sum(col("n_chars").cast("decimal(28,0)")).cast("double")
          / count(lit(1)), 2).as("mean_chars"),
        round(sum(col("nrm").cast("decimal(28,9)")).cast("double")
          / count(lit(1)), 6).as("mean_norm"))
      .orderBy("label", "lang")
  }

  /** Beam search over the k-NN graph — the serving primitive of
    * NSW/HNSW-style indexes (Malkov & Yashunin, arXiv:1603.09320: keep
    * an ef-sized frontier of the best vectors seen, expand their
    * neighbors, re-rank, repeat). The graph is the LSH-banded top-8
    * structure over the DEDUPLICATED vector set (one node per distinct
    * embedding, min-id representative — a production index stores each
    * vector once, and the collapse is what keeps the bucket join linear
    * under replicated crawls). Entry = the 32 nodes with the smallest
    * md5 id-hash (a deterministic pseudo-random sample — the multi-entry
    * stand-in for NSW's long-range links, chosen by TakeOrdered, not an
    * order-statistics window); beam ef = 16; 6 expansion rounds. Each
    * query reports the best vector found, the brute-force top-1 ground
    * truth over the same index, the cosine REGRET between them, and a
    * converged flag — publishing graph search's real failure mode
    * (local maxima) as a measured column.
    *
    * Scale shape: queries are bounded (10 rows) and the ≤160-row
    * frontier rides BROADCAST through every round — a round is one
    * broadcast join against the ≤8m-edge table plus one against the
    * node embeddings, so search cost is |q|·ef·8 cosines per round
    * however large the corpus. Graph build is the adaptive-bit banding
    * over distinct vectors (expected candidate pairs O(m·const)); edges
    * and nodes persist across rounds. The oracle MATERIALIZEs every
    * round's frontier (plain CTEs would re-expand the whole walk
    * exponentially — the q_part_pagerank lesson).
    *
    * Determinism: cosines round to 4 before every comparison with ties
    * by ascending id; the frontier union dedups on exact (query, node,
    * cos) rows — both engines walk the identical frontier sequence. */
  val annGraphSearch: Q = {
    def hopSql(j: Int): String =
      s"""u$j AS (SELECT query_id, vec_id, cos FROM s${j - 1}
         |  UNION
         |  SELECT s.query_id, k.dst,
         |    round(list_cosine_similarity(q.qe, ne.emb), 4)
         |  FROM s${j - 1} s JOIN k ON k.src = s.vec_id
         |    JOIN e ne ON ne.vec_id = k.dst
         |    JOIN q ON q.query_id = s.query_id),
         |s$j AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id) AS rn FROM u$j) WHERE rn <= 16)""".stripMargin
    val idHash = graft.text.TextOps.duckWordHash("CAST(vec_id AS VARCHAR)")
    Q.sql(
      "ann_graph_search",
      s"""WITH ${duckEmb(name = "e0")},
        |q AS MATERIALIZED (SELECT vec_id AS query_id, emb AS qe
        |     FROM e0 WHERE ${duckIsQuery()}),
        |e AS MATERIALIZED (SELECT min(vec_id) AS vec_id, emb
        |     FROM e0 WHERE vec_id >= 10 GROUP BY emb),
        |${signBandsSql("e")},
        |${duckBandPairs("cand(src, dst)", "bands", "vec_id", "<>")},
        |${duckPairCosines("sc", "cand", "src", "dst")},
        |${duckNearest("k", 8)},
        |ent AS (SELECT vec_id, emb FROM e ORDER BY $idHash, vec_id LIMIT 32),
        |s0 AS MATERIALIZED (SELECT query_id, vec_id, cos FROM (
        |       SELECT q.query_id, ent.vec_id,
        |         round(list_cosine_similarity(q.qe, ent.emb), 4) AS cos,
        |         row_number() OVER (PARTITION BY q.query_id
        |           ORDER BY round(list_cosine_similarity(q.qe, ent.emb), 4) DESC,
        |                    ent.vec_id) AS rn
        |       FROM q CROSS JOIN ent) WHERE rn <= 16),
        |${(1 to 6).map(hopSql).mkString(",\n")},
        |found AS (SELECT query_id, vec_id AS found_id, cos AS found_cos FROM (
        |        SELECT *, row_number() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, vec_id) AS rn FROM s6) WHERE rn = 1),
        |bf AS (SELECT query_id, vec_id AS bf_id, cos_sim AS bf_cos FROM (
        |        SELECT q.query_id, e.vec_id,
        |          round(list_cosine_similarity(q.qe, e.emb), 4) AS cos_sim,
        |          row_number() OVER (PARTITION BY q.query_id
        |            ORDER BY round(list_cosine_similarity(q.qe, e.emb), 4) DESC,
        |                     e.vec_id) AS rn
        |        FROM q CROSS JOIN e) WHERE rn = 1)
        |SELECT f.query_id, f.found_id, f.found_cos, bf.bf_id, bf.bf_cos,
        |  round(bf.bf_cos - f.found_cos, 4) AS regret,
        |  CAST(CASE WHEN f.found_cos >= bf.bf_cos THEN 1 ELSE 0 END AS BIGINT)
        |    AS converged
        |FROM found f JOIN bf USING (query_id) ORDER BY query_id""".stripMargin) { (s, d) =>
      val e0 = emb(s, d)
      val q = e0.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val reps = e0.filter(col("vec_id") >= 10)
        .groupBy("embedding").agg(min("vec_id").as("vec_id"))
        .select(col("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rankW = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("dst"))
      val k = pairCosines(bandPairs(signBands(reps), "vec_id", _ =!= _, "src", "dst"),
          reps, "vec_id")
        .withColumn("rn", row_number().over(rankW))
        .filter(col("rn") <= 8)
        .select("src", "dst")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ent = reps
        .orderBy(expr(graft.text.TextOps.sparkWordHash("cast(vec_id as string)")),
          col("vec_id"))
        .limit(32)
      val beamW = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      val s0 = q.crossJoin(broadcast(ent))
        .select(col("query_id"), col("vec_id"),
          cosR(col("qe"), col("embedding")).as("cos"))
        .withColumn("rn", row_number().over(beamW))
        .filter(col("rn") <= 16)
        .select("query_id", "vec_id", "cos")
      // each round's ≤160-row frontier is localCheckpoint'ed (eager):
      // the frontier appears TWICE per round (broadcast expand + union),
      // so a persist alone leaves the LOGICAL plan tripling per round and
      // Catalyst re-analysis goes exponential across 6 rounds (measured:
      // round 6 alone 34 s). The checkpoint truncates lineage to a leaf —
      // the MLlib iterative idiom, safe here because the frame is bounded
      // by |q|·ef rows (documented SURVEY §3 iterative-pin exception;
      // rounded cosines + id ties keep the contents order-free, so the
      // pin cannot change the hash)
      val s6 = (1 to 6).foldLeft(s0.localCheckpoint(true)) { case (st, _) =>
        val expand = broadcast(st.select(col("query_id"), col("vec_id").as("src")))
          .join(k, Seq("src"))
          .join(reps.select(col("vec_id").as("dst"), col("embedding").as("ne")),
            Seq("dst"))
          .join(broadcast(q), Seq("query_id"))
          .select(col("query_id"), col("dst").as("vec_id"),
            cosR(col("qe"), col("ne")).as("cos"))
        st.unionByName(expand).distinct()
          .withColumn("rn", row_number().over(beamW))
          .filter(col("rn") <= 16)
          .select("query_id", "vec_id", "cos")
          .localCheckpoint(true)
      }
      val found = s6.withColumn("rn", row_number().over(beamW))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id").as("found_id"), col("cos").as("found_cos"))
      val bfW = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
      val bf = reps.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id"),
          cosR(col("qe"), col("embedding")).as("cos_sim"))
        .withColumn("rn", row_number().over(bfW))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id").as("bf_id"), col("cos_sim").as("bf_cos"))
      found.join(bf, Seq("query_id"))
        .select(col("query_id"), col("found_id"), col("found_cos"),
          col("bf_id"), col("bf_cos"),
          round(col("bf_cos") - col("found_cos"), 4).as("regret"),
          when(col("found_cos") >= col("bf_cos"), 1L).otherwise(0L).as("converged"))
        .orderBy("query_id")
    }
  }

  /** Variance-balanced dimension allocation for PQ subspaces — the
    * practical core of OPQ (Ge et al., CVPR 2013: rotate so each
    * subquantizer carries equal variance; the rotation-free variant
    * used in production is a dimension PERMUTATION by balanced
    * assignment). Natural contiguous 16-dim blocks inherit whatever
    * variance the encoder put there — one hot block starves the other
    * three subquantizers' codebooks. This op prices the fix BEFORE
    * retraining: per-dim variances (the [[embDimStats]] decimal
    * discipline), serpentine-LPT reallocation over the 4 subspaces (the
    * [[annShardPlan]] pattern on the variance-ranked dims), and the
    * per-subspace variance shares + max/min imbalance under BOTH
    * layouts. An imb_nat ≫ imb_bal row is the go signal for permuted
    * PQ; ≈ equal says contiguous blocks are already fine.
    *
    * Scale shape: ONE posexplode pass partial-aggregates to |dims|
    * rows; everything after (ranking, serpentine assignment, 4-row
    * rollup) is dim-bounded. Per-subspace variance sums are DECIMAL
    * over once-rounded per-dim variances — order-free in both engines;
    * the two imbalance ratios divide the 4-row extremes once. */
  val annPqDimAlloc: Q = Q.sql(
    "ann_pq_dim_alloc",
    s"""WITH $duckDimMoments,
      |vd AS (SELECT dim, CAST(round(ex2 - mean * mean, 12) AS DECIMAL(28,12)) AS var
      |       FROM a),
      |rk AS (SELECT dim, var,
      |         row_number() OVER (ORDER BY var DESC, dim) - 1 AS rk
      |       FROM vd),
      |asn AS (SELECT dim, var,
      |          CAST((dim - 1) // 16 + 1 AS BIGINT) AS m_nat,
      |          CAST(CASE WHEN (rk // 4) % 2 = 0 THEN rk % 4
      |               ELSE 3 - rk % 4 END + 1 AS BIGINT) AS m_bal
      |        FROM rk),
      |t AS (SELECT CAST(sum(var) AS DOUBLE) AS tot FROM asn),
      |gn AS (SELECT m_nat AS m, count(*) AS n_dims,
      |         CAST(sum(var) AS DOUBLE) AS var_nat
      |       FROM asn GROUP BY 1),
      |gb AS (SELECT m_bal AS m, CAST(sum(var) AS DOUBLE) AS var_bal
      |       FROM asn GROUP BY 1),
      |g AS (SELECT gn.m, gn.n_dims, gn.var_nat, gb.var_bal
      |      FROM gn JOIN gb ON gn.m = gb.m),
      |imb AS (SELECT round(max(var_nat) / min(var_nat), 4) AS imb_nat,
      |          round(max(var_bal) / min(var_bal), 4) AS imb_bal
      |        FROM g)
      |SELECT g.m, g.n_dims,
      |  round(g.var_nat, 6) AS var_nat,
      |  round(g.var_nat / t.tot, 4) AS share_nat,
      |  round(g.var_bal, 6) AS var_bal,
      |  round(g.var_bal / t.tot, 4) AS share_bal,
      |  imb.imb_nat, imb.imb_bal
      |FROM g CROSS JOIN t CROSS JOIN imb ORDER BY g.m""".stripMargin) { (s, d) =>
    val vd = coordRows(emb(s, d))
      .groupBy("dim").agg(
        count(lit(1)).as("n"),
        (sum(col("v").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("mean"),
        (sum((col("v") * col("v")).cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("ex2"))
      .select(col("dim"),
        round(col("ex2") - col("mean") * col("mean"), 12)
          .cast("decimal(28,12)").as("var"))
    val rk = vd.withColumn("rk",
      row_number().over(Window.orderBy(col("var").desc, col("dim"))) - 1)
    val asn = rk.select(col("dim"), col("var"),
      (expr("(dim - 1) div 16").cast("long") + 1).as("m_nat"),
      (when(expr("(rk div 4) % 2") === 0, col("rk") % 4)
        .otherwise(lit(3) - col("rk") % 4) + 1).cast("long").as("m_bal"))
    val t = asn.agg(sum("var").cast("double").as("tot"))
    val gn = asn.groupBy(col("m_nat").as("m"))
      .agg(count(lit(1)).as("n_dims"), sum("var").cast("double").as("var_nat"))
    val gb = asn.groupBy(col("m_bal").as("m"))
      .agg(sum("var").cast("double").as("var_bal"))
    val g = gn.join(gb, Seq("m"))
    val imb = g.agg(
      round(max("var_nat") / min("var_nat"), 4).as("imb_nat"),
      round(max("var_bal") / min("var_bal"), 4).as("imb_bal"))
    g.crossJoin(broadcast(t)).crossJoin(broadcast(imb))
      .select(col("m"), col("n_dims"),
        round(col("var_nat"), 6).as("var_nat"),
        round(col("var_nat") / col("tot"), 4).as("share_nat"),
        round(col("var_bal"), 6).as("var_bal"),
        round(col("var_bal") / col("tot"), 4).as("share_bal"),
        col("imb_nat"), col("imb_bal"))
      .orderBy("m")
  }

  /** Two-level residual vector quantization (RVQ — the additive-codebook
    * family behind Soundstream/RQ-VAE and faiss' ResidualQuantizer):
    * level 1 codes each vector against the label-centroid codebook
    * ([[annIvf]]'s quantizer), level 2 trains a FRESH deterministic
    * k-means codebook (k = 8, 2 Lloyd rounds, id seeding — the
    * [[annIvfKmeans]] machinery verbatim) ON THE RESIDUALS and codes
    * those. Published per level-1 cell: vectors, level-1 SSE, the SSE
    * left after the residual stage, and the reduction share — the
    * measurement that says whether a second additive stage is worth its
    * bytes BEFORE committing to an RVQ index layout (PQ splits
    * dimensions; RVQ stacks full-width stages; [[annPqDistortion]] and
    * this op price the two against the same corpus).
    *
    * Scale shape: both assignments are per-row folds over broadcast
    * codebook arrays (zero corpus exchange — the centsArr discipline);
    * residuals round once to 6 so the level-2 training's DECIMAL(28,9)
    * casts stay exact; Lloyd rounds exchange only k mergeable vector
    * buffers. Per-cell SSE sums are DECIMAL over once-rounded per-vector
    * distances — order-free. The oracle replays level-2 training
    * bit-for-bit through the shared kmeansTrainSql CTEs with `e` bound
    * to the residual table. */
  val embRvq: Q = Q.sql(
    "emb_rvq",
    s"""WITH ${duckEmb("vec_id, label", name = "e0")},
      |u0 AS (SELECT label, unnest(emb) AS v, generate_subscripts(emb, 1) AS dim
      |       FROM e0),
      |cd0 AS (SELECT label, dim,
      |          CAST(sum(CAST(v AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS c
      |        FROM u0 GROUP BY label, dim),
      |cent1 AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv
      |          FROM cd0 GROUP BY label),
      |a1r AS (SELECT vec_id, clabel AS code1, dist FROM (
      |          SELECT e0.vec_id, cent1.clabel,
      |            ${kmeansDistSql("e0.emb", "cent1.cv")} AS dist,
      |            row_number() OVER (PARTITION BY e0.vec_id
      |              ORDER BY ${kmeansDistSql("e0.emb", "cent1.cv")}, cent1.clabel) AS rn
      |          FROM e0, cent1) WHERE rn = 1),
      |e AS MATERIALIZED (SELECT e0.vec_id,
      |       list_transform(range(1, len(e0.emb) + 1),
      |         i -> round(e0.emb[i] - cent1.cv[i], 6)) AS emb
      |     FROM e0 JOIN a1r ON e0.vec_id = a1r.vec_id
      |       JOIN cent1 ON cent1.clabel = a1r.code1),
      |${kmeansTrainSql(8, "id")},
      |a2r AS (SELECT vec_id, dist FROM (
      |          SELECT e.vec_id, ${kmeansDistSql("e.emb", "c2.cv")} AS dist,
      |            row_number() OVER (PARTITION BY e.vec_id
      |              ORDER BY ${kmeansDistSql("e.emb", "c2.cv")}, c2.cid) AS rn
      |          FROM e, c2) WHERE rn = 1)
      |SELECT CAST(a1r.code1 AS BIGINT) AS code1, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(round(CAST(sum(CAST(round(a1r.dist, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
      |    AS DOUBLE) AS sse1,
      |  CAST(round(CAST(sum(CAST(round(a2r.dist, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
      |    AS DOUBLE) AS sse2,
      |  round(1e0 - CAST(sum(CAST(round(a2r.dist, 6) AS DECIMAL(18,6))) AS DOUBLE)
      |    / CAST(sum(CAST(round(a1r.dist, 6) AS DECIMAL(18,6))) AS DOUBLE), 4)
      |    AS reduction
      |FROM a1r JOIN a2r ON a1r.vec_id = a2r.vec_id
      |GROUP BY a1r.code1 ORDER BY a1r.code1""".stripMargin) { (s, d) =>
    val e0 = emb(s, d)
    val c1 = labelCentroids(e0)
      .select(col("clabel").cast("int").as("cid"), col("cv"))
    val a1 = toEmbD(e0).crossJoin(broadcast(centsArr(c1)))
      .withColumn("mc", expr(argmin))
      .select(col("vec_id"), col("emb_d"),
        col("mc.cid").as("code1"), col("mc.d").as("dist1"))
      .join(broadcast(c1.select(col("cid").as("code1"), col("cv"))), Seq("code1"))
      .select(col("vec_id"), col("code1"), col("dist1"),
        expr("zip_with(emb_d, cv, (a, b) -> round(a - b, 6))").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val resid = a1.select(col("vec_id"), col("r").as("emb_d"))
    val c2 = kmeansRounds(resid, 8, 2, "id").last
    val a2 = resid.crossJoin(broadcast(centsArr(c2)))
      .withColumn("mc", expr(argmin))
      .select(col("vec_id"), col("mc.d").as("dist2"))
    a1.select(col("vec_id"), col("code1"), col("dist1"))
      .join(a2, Seq("vec_id"))
      .groupBy("code1")
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(round(col("dist1"), 6).cast("decimal(18,6)")).as("s1"),
        sum(round(col("dist2"), 6).cast("decimal(18,6)")).as("s2"))
      .select(col("code1").cast("long").as("code1"), col("n_vecs"),
        round(col("s1").cast("double"), 4).as("sse1"),
        round(col("s2").cast("double"), 4).as("sse2"),
        round(lit(1e0) - col("s2").cast("double") / col("s1").cast("double"), 4)
          .as("reduction"))
      .orderBy("code1")
  }

  val all: Seq[Q] = Seq(
    annGraphSearch, annPqDimAlloc, embRvq,
    embClassMargin, embIsotropy, annShardPlan, crossmodalMix,
    annTopk, annIvf, annIvfTrained, dedupEmbedding, embCentroids,
    embNormalize, embQuantize, annPq, annPqSearch, annRecall, annNdcg,
    annIvfMultiprobe, annIvfPq, annIvfKmeans, annRecallKmeans,
    annIvfKmeanspp, annRecallKmeanspp, annKmeansConvergence, embOutliers,
    embDimStats, embEffectiveRank, embDrift, embMmdSources, annKnnGraph, embHubness,
    embClusterSample, embWhiten, lshBucketStats,
    embMatryoshka, annFiltered, embLabelVote, annHamming, annNprobeCurve,
    embClusterPurity, annPqDistortion, embTripletAudit, annIvfBalance, annQuerySkew,
    embLabelSim, dedupSemantic, dedupSemanticCurve)
}
