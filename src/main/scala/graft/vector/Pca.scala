package graft.vector

import graft.Q
import graft.Tables.{embeddings => emb}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Top-principal-component audit of the embedding cloud — the
  * cross-dimension health check [[Similarity]]'s per-dim `emb_dim_stats`
  * cannot see: a collapsed encoder (all variance on one axis) has healthy
  * per-dim stats but `explained_share` → 1, and an index built on it is
  * garbage. Run before ann_* index construction, alongside emb_outliers.
  *
  * Method: deterministic power iteration on the centered covariance,
  * seeded with the constant unit vector (1/√d per entry, exact in binary
  * for d = 64) — no RNG, so the oracle replays training bit-for-bit
  * (the ann_ivf_kmeans discipline; reference analog: the fixed-seed
  * review queries of /root/reference/audit/audit.go:127-199).
  *
  * Determinism: every embedding value is rounded ONCE at the source to
  * scale 6; every derived quantity is then exact — mean (rounded 6),
  * centered value (difference of two scale-6 values), per-row projection
  * s = Σ c·p (exact scale-12 products, summed exactly — order-independent,
  * so Spark's fold and DuckDB's unordered GROUP BY sum agree bit-for-bit),
  * matrix-vector product y = Σ s·c likewise. Spark computes these folds
  * through the native fixed-point expressions ([[Dot612]]/[[ScaleVec612]]/
  * [[Deflate6]] — long arithmetic, value-identical to the
  * DECIMAL(18,6)×DECIMAL(18,6) products the DuckDB twins run, ~13×
  * faster than the interpreted HOF decimal folds they replaced). Only
  * sqrt/divide run in DOUBLE, as single identically-shaped expressions
  * on both engines, rounded once.
  *
  * Scale (100 TB posture): NO shuffle ever carries a per-vector or
  * per-(vector,dim) row — the per-row projection is an array fold (zero
  * shuffle), and each round's y is ONE partial-aggregating groupBy
  * bounded at |dims| output rows; the iterate (a |dims|-row frame) is
  * broadcast back each round. The centered corpus (dims doubles/row, no
  * text) persists MEMORY_AND_DISK across the 3 rounds + variance pass.
  */
object Pca {

  private val Rounds = 3

  /** Per-row projection s = Σ_d c_d·p_d as a zero-shuffle native fold:
    * exact scale-12 fixed-point terms ([[Dot612]] — integer arithmetic,
    * associative ⇒ order-free), rounded once in decimal space. */
  private def withProjection(cent: DataFrame, pArr: DataFrame): DataFrame =
    cent.crossJoin(broadcast(pArr))
      .withColumn("sdec", expr("graft_dot612(c, p_arr)"))
      .withColumn("s", round(col("sdec"), 6).cast("double"))

  /** One fused power-iteration round: centered corpus × current direction
    * → normalized next direction, as ONE vector-level aggregation
    * (graft_vec_sum of the per-row c·s term vectors — exact decimal, so
    * order-free and bit-identical to the former posexplode +
    * groupBy(dim) + collect_list shape) followed by in-row array math on
    * the 1-row result: y = round(Σ, 6) per dim, q = Σy² in exact decimal,
    * p = round(y/√q, 6) in DOUBLE. One exchange per round instead of two,
    * and no per-(vector, dim) row ever exists. */
  private def nextDirection(cent: DataFrame, pArr: DataFrame): DataFrame =
    withProjection(cent, pArr)
      .agg(expr("graft_vec_sum(graft_scalevec612(c, s))").as("ys"))
      .select(expr("transform(ys, v -> cast(round(v, 6) as double))").as("y_arr"))
      // q = Σy² in a DECIMAL fold, NOT graft_dot612: y is the
      // matrix-vector product — its magnitude grows ~linearly with corpus
      // rows, and the long kernel's scale-12 accumulator overflows
      // multiplyExact once |y| > ~3.0e3. The decimal fold matches the
      // oracle's DECIMAL(18,6)² headroom (|y| < 1e12) and runs on a 1-row
      // frame of |dims| elements, so the interpreted-HOF cost is nil. The
      // long kernels stay reserved for per-row scale-6 vectors whose
      // magnitude bound the data actually guarantees (c, p, s).
      // (the merge lambda re-casts to the accumulator type because
      // Spark's decimal-add rule bumps precision and would return
      // DECIMAL(38,11); the cast is exact — |y| < 1e12 keeps every
      // partial sum far inside DECIMAL(38,12))
      .select(col("y_arr"),
        expr("""cast(aggregate(zip_with(y_arr, y_arr,
               |  (a, b) -> cast(a as decimal(18,6)) * cast(b as decimal(18,6))),
               |  cast(0 as decimal(38,12)),
               |  (acc, x) -> cast(acc + x as decimal(38,12))) as double)"""
          .stripMargin).as("q"))
      .select(expr("transform(y_arr, v -> round(v / sqrt(q), 6))").as("p_arr"))

  /** Power-iterate `rounds` times over a persisted centered corpus and
    * return the published loadings, the final direction array and the
    * Rayleigh numerator Σs² of that direction (1-row frame `l`). */
  private def topComponent(cent: DataFrame, seed: DataFrame,
      rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    var pArr = seed
    // each round's direction is a 1-row frame consumed by several later
    // stages (next round, Rayleigh pass, deflation, ortho audit, final
    // join) — persist it so each consumer reads the cached row instead of
    // re-executing the whole earlier iterate chain (measured 6.8 → ~2 s
    // on emb_pca2 at sf0.1: the chain re-execution WAS the operator cost)
    for (_ <- 1 to rounds)
      pArr = nextDirection(cent, pArr)
        .persist(StorageLevel.MEMORY_AND_DISK)
    // the published loadings ARE the final direction array — explode it
    // back to (dim, loading) rows instead of re-deriving y/√q (zero extra
    // passes; values identical by construction)
    val loadings = pArr
      .select(posexplode(col("p_arr")).as(Seq("pos", "loading")))
      .select((col("pos") + 1).cast("long").as("dim"), col("loading"))
    // the Rayleigh quotient OF THE PUBLISHED loading (one more projection
    // pass), not the previous iterate's norm — the released numbers must
    // describe the released direction
    val lam = withProjection(cent, pArr)
      .agg(sum(expr("cast(s as decimal(18,6)) * cast(s as decimal(18,6))"))
        .cast("double").as("l"))
    (loadings, pArr, lam)
  }

  /** Deflation: subtract the component's span per row — c ← c − s·p,
    * re-rounded ONCE in decimal space to scale 6 so the second component's
    * machinery sees the same exact-decimal invariant as the first. */
  private def deflated(cent: DataFrame, pArr: DataFrame): DataFrame =
    withProjection(cent, pArr)
      .select(col("vec_id"), expr("graft_deflate6(c, p_arr, s)").as("c"))

  /** Oracle twin of one round over centered-corpus CTE `$ce`: projection
    * s, matrix-vector product y, squared norm q, next direction p — CTE
    * names prefixed with `$x`. Round 1 multiplies by the constant seed;
    * later rounds join the previous direction table on dim. */
  private def roundSql(i: Int, ce: String = "ce", x: String = ""): String = {
    val (pTerm, pJoin) =
      if (i == 1) ("CAST(0.125 AS DOUBLE)", "")
      else (s"p.p", s" JOIN ${x}p${i - 1} p ON $ce.dim = p.dim")
    s"""${x}s$i AS MATERIALIZED (SELECT $ce.vec_id,
       |  CAST(round(sum(CAST($ce.c AS DECIMAL(18,6)) * CAST($pTerm AS DECIMAL(18,6))), 6) AS DOUBLE) AS s
       |  FROM $ce$pJoin GROUP BY $ce.vec_id),
       |${x}y$i AS MATERIALIZED (SELECT $ce.dim,
       |  CAST(round(sum(CAST($ce.c AS DECIMAL(18,6)) * CAST(${x}s$i.s AS DECIMAL(18,6))), 6) AS DOUBLE) AS y
       |  FROM $ce JOIN ${x}s$i ON $ce.vec_id = ${x}s$i.vec_id GROUP BY $ce.dim),
       |${x}q$i AS (SELECT CAST(sum(CAST(y AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS q FROM ${x}y$i),
       |${x}p$i AS (SELECT dim, round(y / sqrt((SELECT q FROM ${x}q$i)), 6) AS p FROM ${x}y$i)""".stripMargin
  }

  /** Oracle twin of the Rayleigh pass: final projection `${x}sf` off
    * direction `${x}p$rounds`, numerator `${x}lam`. */
  private def rayleighSql(rounds: Int, ce: String = "ce", x: String = ""): String =
    s"""${x}sf AS MATERIALIZED (SELECT $ce.vec_id,
       |  CAST(round(sum(CAST($ce.c AS DECIMAL(18,6)) * CAST(p.p AS DECIMAL(18,6))), 6) AS DOUBLE) AS s
       |  FROM $ce JOIN ${x}p$rounds p ON $ce.dim = p.dim GROUP BY $ce.vec_id),
       |${x}lam AS (SELECT CAST(sum(CAST(s AS DECIMAL(18,6)) * CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS l FROM ${x}sf)""".stripMargin

  /** Oracle CTEs shared by both PCA ops: rounded source e, count nv,
    * exploded u, per-dim mean mu, centered corpus ce, total variance tot. */
  private val preludeSql: String =
    s"""e AS MATERIALIZED (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x, 6)) AS v
       |  FROM embeddings),
       |nv AS (SELECT count(*) AS n FROM e),
       |u AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM e),
       |mu AS MATERIALIZED (SELECT CAST(dim AS BIGINT) AS dim,
       |    round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS m
       |  FROM u GROUP BY dim),
       |ce AS MATERIALIZED (SELECT u.vec_id, CAST(u.dim AS BIGINT) AS dim,
       |    u.x - mu.m AS c
       |  FROM u JOIN mu ON CAST(u.dim AS BIGINT) = mu.dim),
       |tot AS (SELECT CAST(sum(CAST(c AS DECIMAL(18,6)) * CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS t FROM ce)""".stripMargin

  /** Spark prelude: (mu frame, centered+persisted corpus, stats = 1-row
    * (n = corpus count, t = total variance Σc²), seed). */
  private def prelude(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e0 = emb(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> round(cast(x as double), 6))").as("v"))
    // per-dim means as ONE vector-level aggregate (exact decimal sums —
    // bit-identical to the former posexplode + groupBy(dim) shape); the
    // (dim, m) frame for the published output is exploded from the 1-row
    // array, not re-aggregated
    // scalevec612(v, 1.0) = exact scale-12 image of the scale-6 vector —
    // same values the former per-element decimal(18,6) cast fed the sum
    // (exactness makes the scale change invisible), minus the interpreted
    // per-element lambda
    val muArr = e0.agg(
      expr("graft_vec_sum(graft_scalevec612(v, 1.0d))").as("sv"),
      count(lit(1)).as("nv"))
      .select(expr("transform(sv, x -> round(cast(x as double) / nv, 6))")
        .as("mu_arr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mu = muArr.select(posexplode(col("mu_arr")).as(Seq("pos", "m")))
      .select((col("pos") + 1).cast("long").as("dim"), col("m"))
    // centered, text-free corpus: |dims| doubles per row, read by the
    // variance pass + every power round — spill-safe persist
    val cent = e0.crossJoin(broadcast(muArr))
      .select(col("vec_id"), expr("zip_with(v, mu_arr, (a, b) -> a - b)").as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // tot (Σc², exact decimal — per-row fold subtotals are exact, so their
    // sum equals the flat exploded sum) and nv (corpus count) ride ONE
    // aggregate over the cached corpus: one job instead of two
    val stats = cent.agg(
      count(lit(1)).as("n"),
      sum(expr("graft_dot612(c, c)")).cast("double").as("t"))
    val seed = muArr.select(
      expr("transform(mu_arr, x -> cast(0.125 as double))").as("p_arr"))
    (mu, cent, stats, seed)
  }

  val embPcaPower: Q = Q.sql(
    "emb_pca_power", {
      val rounds = (1 to Rounds).map(i => roundSql(i)).mkString(",\n")
      s"""WITH $preludeSql,
         |$rounds,
         |${rayleighSql(Rounds)}
         |SELECT mu.dim, mu.m AS mu, p$Rounds.p AS loading,
         |  round((SELECT l FROM lam) / (SELECT n FROM nv), 6) AS lambda1,
         |  round((SELECT l FROM lam) / (SELECT t FROM tot), 6) AS explained_share
         |FROM mu JOIN p$Rounds USING (dim) ORDER BY mu.dim""".stripMargin
    }) { (s, d) =>
    val (mu, cent, stats, seed) = prelude(s, d)
    val (loadings, _, lam) = topComponent(cent, seed, Rounds)
    mu.join(loadings, Seq("dim"))
      .crossJoin(broadcast(lam))
      .crossJoin(broadcast(stats))
      .select(col("dim"), col("m").as("mu"), col("loading"),
        round(col("l") / col("n"), 6).as("lambda1"),
        round(col("l") / col("t"), 6).as("explained_share"))
      .orderBy("dim")
  }

  /** Top-2 components with deflation — the encoder-collapse detector:
    * `anisotropy` = λ1/λ2 near 1 means a healthy spread-out cloud; large
    * means the embedding space is dominated by one direction (a common
    * contrastive-training pathology — cosine similarity degenerates and
    * every ANN index on top of it loses recall). Component 2 is the top
    * component of the DEFLATED corpus c − (c·v1)v1, re-rounded once in
    * decimal space so the exact-decimal invariant holds recursively.
    * `ortho_err` = Σ v1·v2 audits the deflation (≈ 0 by construction).
    * 2 rounds per component (the convergence-vs-cost knob; the
    * single-component op runs 3). Same zero-vec_id-shuffle posture — the
    * deflated corpus persists MEMORY_AND_DISK like the centered one. */
  val embPca2: Q = Q.sql(
    "emb_pca2", {
      val r = 2
      val rounds1 = (1 to r).map(i => roundSql(i)).mkString(",\n")
      val rounds2 = (1 to r).map(i => roundSql(i, "ce2", "b")).mkString(",\n")
      s"""WITH $preludeSql,
         |$rounds1,
         |${rayleighSql(r)},
         |ce2 AS MATERIALIZED (SELECT ce.vec_id, ce.dim,
         |  CAST(round(CAST(ce.c AS DECIMAL(18,6))
         |    - CAST(sf.s AS DECIMAL(18,6)) * CAST(p.p AS DECIMAL(18,6)), 6) AS DOUBLE) AS c
         |  FROM ce JOIN sf ON ce.vec_id = sf.vec_id
         |          JOIN p$r p ON ce.dim = p.dim),
         |$rounds2,
         |${rayleighSql(r, "ce2", "b")},
         |ortho AS (SELECT CAST(sum(CAST(a.p AS DECIMAL(18,6)) * CAST(b.p AS DECIMAL(18,6))) AS DOUBLE) AS o
         |          FROM p$r a JOIN bp$r b ON a.dim = b.dim)
         |SELECT a.dim, a.p AS loading1, b.p AS loading2,
         |  round((SELECT l FROM lam) / (SELECT n FROM nv), 6) AS lambda1,
         |  round((SELECT l FROM blam) / (SELECT n FROM nv), 6) AS lambda2,
         |  round((SELECT l FROM lam) / (SELECT l FROM blam), 4) AS anisotropy,
         |  round((SELECT o FROM ortho), 6) AS ortho_err
         |FROM p$r a JOIN bp$r b ON a.dim = b.dim ORDER BY a.dim""".stripMargin
    }) { (s, d) =>
    val r = 2
    val (_, cent, stats, seed) = prelude(s, d)
    val (l1, p1, lam1) = topComponent(cent, seed, r)
    val cent2 = deflated(cent, p1).persist(StorageLevel.MEMORY_AND_DISK)
    val (l2, p2, lam2) = topComponent(cent2, seed, r)
    val ortho = l1.select(col("dim"), col("loading").as("a"))
      .join(l2.select(col("dim"), col("loading").as("b")), Seq("dim"))
      .agg(sum(expr("cast(a as decimal(18,6)) * cast(b as decimal(18,6))"))
        .cast("double").as("o"))
    l1.select(col("dim"), col("loading").as("loading1"))
      .join(l2.select(col("dim"), col("loading").as("loading2")), Seq("dim"))
      .crossJoin(broadcast(lam1.select(col("l").as("l1"))))
      .crossJoin(broadcast(lam2.select(col("l").as("l2"))))
      .crossJoin(broadcast(stats.select("n")))
      .crossJoin(broadcast(ortho))
      .select(col("dim"), col("loading1"), col("loading2"),
        round(col("l1") / col("n"), 6).as("lambda1"),
        round(col("l2") / col("n"), 6).as("lambda2"),
        round(col("l1") / col("l2"), 4).as("anisotropy"),
        round(col("o"), 6).as("ortho_err"))
      .orderBy("dim")
  }

  val all: Seq[Q] = Seq(embPcaPower, embPca2)
}
