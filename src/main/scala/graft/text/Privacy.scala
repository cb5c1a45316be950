package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy gate for training-data export — the de-identification stage a
  * pipeline runs before audit/CRM-derived tables may join a training
  * corpus. The reference engine captures full before/after row images
  * (audit.go:889 — values of changed fields verbatim), so anything built
  * on its history inherits raw identifiers; these operators are the
  * outbound counterpart: pseudonymize direct identifiers, generalize
  * quasi-identifiers, and MEASURE the re-identification risk that remains
  * (k-anonymity over the released tuple) so a release gate has a number
  * to threshold on.
  *
  * Scale design: pseudonymization is a per-row codegen'd projection
  * (md5 + concat — no UDF, no shuffle); the referential-integrity proof
  * is one partial-aggregating groupBy on the fact side plus one equi-join
  * on the original key (AQE/broadcast decides the physical join); the
  * k-anonymity audit is two partial-aggregating groupBys, the second over
  * at most |distinct quasi-tuples| rows. Nothing is all-pairs, nothing
  * collects; both ops scale as a linear pass at 100 TB.
  */
object Privacy {

  /** Deterministic salted pseudonym: stable across tables (the same key
    * always maps to the same token, so post-scrub joins still work) while
    * unlinkable to the raw key without the salt. The salt is a literal
    * here because the DuckDB oracle must replay it; a deployment passes
    * its own secret. */
  private val Salt = "graft-pii-v1"
  private def pseudo(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(md5(concat(lit(Salt + "|"), key.cast("string"))), 1, 16)
  private def pseudoSql(key: String): String =
    s"substring(md5('$Salt|' || CAST($key AS VARCHAR)), 1, 16)"

  /** Account balances released only as 1000-unit bands (generalization —
    * the quasi-identifier keeps its analytic value, loses its precision). */
  private def band(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (floor(c / 1000) * 1000).cast("long")
  private def bandSql(c: String): String =
    s"CAST(floor($c / 1000) * 1000 AS BIGINT)"

  /** De-identified customer export: the direct identifier (c_name) is
    * DROPPED, the key is replaced by its salted pseudonym, the balance is
    * banded, and coarse categoricals pass through. `n_orders` is the
    * referential-integrity proof: it is computed by joining the FACT side
    * through the same pseudonym function, so the op demonstrates that
    * cross-table analysis still works on the de-identified export —
    * the property that makes pseudonymization (vs redaction) worth it. */
  val piiScrub: Q = Q.sql(
    "pii_scrub",
    s"""SELECT ${pseudoSql("c_custkey")} AS pseudo_id,
       |  CAST(c_nationkey AS INT) AS nation_id,
       |  ${bandSql("c_acctbal")} AS acctbal_band,
       |  c_mktsegment AS mktsegment,
       |  CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders
       |FROM customer c LEFT JOIN (
       |  SELECT ${pseudoSql("o_custkey")} AS o_pseudo, count(*) AS n_orders
       |  FROM orders GROUP BY 1) o ON ${pseudoSql("c_custkey")} = o.o_pseudo
       |ORDER BY pseudo_id""".stripMargin) { (s, d) =>
    // fact side is aggregated BEFORE the join (partial-agg shuffle on the
    // pseudonym), so the join's build side is one row per customer, never
    // one per order
    val perCust = Tables.orders(s, d)
      .groupBy(pseudo(col("o_custkey")).as("o_pseudo"))
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .select(pseudo(col("c_custkey")).as("pseudo_id"),
        col("c_nationkey").cast("int").as("nation_id"),
        band(col("c_acctbal")).as("acctbal_band"),
        col("c_mktsegment").as("mktsegment"))
      .join(perCust, col("pseudo_id") === col("o_pseudo"), "left")
      .select(col("pseudo_id"), col("nation_id"), col("acctbal_band"),
        col("mktsegment"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("pseudo_id")
  }

  /** k-anonymity audit of the released tuple: every customer in the
    * export shares its (nation, balance band, segment) quasi-identifier
    * with k-1 others; this histogram reports how many equivalence classes
    * exist at each k and flags the ones below the release threshold
    * (k < 5 — the classes a gate would suppress or re-generalize). The
    * export op above and this audit read the SAME generalization
    * definitions, so the measured risk is the released risk. */
  val piiKanon: Q = Q.sql(
    "pii_kanon",
    s"""WITH classes AS (
       |  SELECT c_nationkey, ${bandSql("c_acctbal")} AS acctbal_band,
       |    c_mktsegment, count(*) AS k
       |  FROM customer GROUP BY 1, 2, 3)
       |SELECT CAST(k AS BIGINT) AS k_size, count(*) AS n_classes,
       |  CAST(k * count(*) AS BIGINT) AS n_rows,
       |  (k < 5) AS below_threshold
       |FROM classes GROUP BY k ORDER BY k_size""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), band(col("c_acctbal")).as("acctbal_band"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("k").as("k_size"))
      .agg(count(lit(1)).as("n_classes"))
      .select(col("k_size"), col("n_classes"),
        (col("k_size") * col("n_classes")).as("n_rows"),
        (col("k_size") < 5).as("below_threshold"))
      .orderBy("k_size")
  }

  /** l-diversity audit — the metric k-anonymity misses (Machanavajjhala
    * et al., ICDE 2006): a class can hold k = 50 records and still leak if
    * all 50 share one sensitive value (the homogeneity attack). Quasi-
    * identifier here is the coarse (nation, segment) pair; the SENSITIVE
    * attribute is the balance band (what pii_scrub releases and an
    * attacker wants). Per class: size k, distinct sensitive values l, the
    * most common value's share (1.0 = fully homogeneous = k-anonymity
    * satisfied yet everyone's balance disclosed), and the l < 3 release
    * flag. Read next to pii_kanon: that op says classes are big enough,
    * this one says they are VARIED enough.
    *
    * Scale: two partial-aggregating groupBys — (QI, sensitive) counts
    * first (bounded at |nations|×|segments|×|bands|), then the class
    * rollup; no window over raw rows, output ≤ |nations|×|segments|. */
  val piiLdiversity: Q = Q.sql(
    "pii_ldiversity",
    s"""WITH sv AS (
       |  SELECT c_nationkey, c_mktsegment, ${bandSql("c_acctbal")} AS band,
       |    count(*) AS n
       |  FROM customer GROUP BY 1, 2, 3),
       |cls AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(sum(n) AS BIGINT) AS k,
       |    CAST(count(*) AS BIGINT) AS l_distinct,
       |    CAST(max(n) AS BIGINT) AS top_n
       |  FROM sv GROUP BY 1, 2)
       |SELECT CAST(c_nationkey AS INT) AS nation_id, c_mktsegment AS mktsegment,
       |  k, l_distinct, round(1.0 * top_n / k, 4) AS top_share,
       |  (l_distinct < 3) AS below_l3
       |FROM cls ORDER BY nation_id, mktsegment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        band(col("c_acctbal")).as("band"))
      .agg(count(lit(1)).as("n"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("n").cast("long").as("k"),
        count(lit(1)).cast("long").as("l_distinct"),
        max("n").cast("long").as("top_n"))
      .select(col("c_nationkey").cast("int").as("nation_id"),
        col("c_mktsegment").as("mktsegment"), col("k"), col("l_distinct"),
        round(lit(1.0) * col("top_n") / col("k"), 4).as("top_share"),
        (col("l_distinct") < 3).as("below_l3"))
      .orderBy("nation_id", "mktsegment")
  }

  /** t-closeness audit — the metric l-diversity misses (Li, Li &
    * Venkatasubramanian, ICDE 2007): a class can be diverse yet still
    * leak if its sensitive-value DISTRIBUTION deviates from the corpus
    * (skewness attack: "this class skews rich" is a disclosure even with
    * many distinct bands). For the ordered balance-band attribute the
    * distance is the Earth Mover's Distance = Σ|cumulative(p − q)| over
    * the ordered domain, normalized by (m−1).
    *
    * Exactness: p and q are rationals, so the EMD is computed ENTIRELY in
    * integers — per-band numerator n·N − g·k over common denominator k·N,
    * cumulated and |·|-summed as DECIMAL(38,0) (headroom for count
    * products at 100 TB), with ONE double division at the output edge.
    * No floating-point accumulation anywhere, so partitioning can never
    * move the metric.
    *
    * Scale: everything after the two partial-agg groupBys lives on the
    * bounded |classes|×|bands| grid (broadcast sides), and the cumsum
    * window partitions per class — bounded partitions at any scale. */
  val piiTcloseness: Q = Q.sql(
    "pii_tcloseness",
    s"""WITH sv AS (
       |  SELECT c_nationkey, c_mktsegment, ${bandSql("c_acctbal")} AS band,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM customer GROUP BY 1, 2, 3),
       |cls AS (SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS k
       |        FROM sv GROUP BY 1, 2),
       |gl AS (SELECT band, CAST(sum(n) AS BIGINT) AS gn FROM sv GROUP BY band),
       |tot AS (SELECT CAST(sum(gn) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS m
       |        FROM gl),
       |grid AS (
       |  SELECT c.c_nationkey, c.c_mktsegment, c.k, g.band, g.gn,
       |    coalesce(s.n, 0) AS n0
       |  FROM cls c CROSS JOIN gl g
       |  LEFT JOIN sv s ON s.c_nationkey = c.c_nationkey
       |    AND s.c_mktsegment = c.c_mktsegment AND s.band = g.band),
       |x AS (
       |  SELECT grid.*, tot.nn, tot.m,
       |    CAST(n0 AS DECIMAL(38,0)) * nn - CAST(gn AS DECIMAL(38,0)) * k AS cdiff
       |  FROM grid CROSS JOIN tot),
       |cum AS (
       |  SELECT c_nationkey, c_mktsegment, k, nn, m,
       |    sum(cdiff) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
       |  FROM x)
       |SELECT CAST(c_nationkey AS INT) AS nation_id, c_mktsegment AS mktsegment, k,
       |  round(CAST(sum(abs(cm)) AS DOUBLE)
       |    / (CAST(k AS DOUBLE) * nn * (m - 1)), 4) AS t_closeness,
       |  (CAST(sum(abs(cm)) AS DOUBLE)
       |    / (CAST(k AS DOUBLE) * nn * (m - 1)) > 0.2) AS above_t02
       |FROM cum GROUP BY 1, 2, 3, nn, m
       |ORDER BY nation_id, mktsegment""".stripMargin) { (s, d) =>
    val sv = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        band(col("c_acctbal")).as("band"))
      .agg(count(lit(1)).as("n"))
    val cls = sv.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("n").cast("long").as("k"))
    val gl = sv.groupBy("band").agg(sum("n").cast("long").as("gn"))
    val tot = gl.agg(sum("gn").cast("long").as("nn"),
      count(lit(1)).cast("long").as("m"))
    val grid = cls.crossJoin(broadcast(gl))
      .join(sv.withColumnRenamed("c_nationkey", "s_nat")
          .withColumnRenamed("c_mktsegment", "s_seg")
          .withColumnRenamed("band", "s_band"),
        col("s_nat") === col("c_nationkey") && col("s_seg") === col("c_mktsegment")
          && col("s_band") === col("band"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("k"), col("band"),
        col("gn"), coalesce(col("n"), lit(0L)).as("n0"))
      .crossJoin(broadcast(tot))
      .withColumn("cdiff",
        col("n0").cast("decimal(38,0)") * col("nn")
          - col("gn").cast("decimal(38,0)") * col("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment").orderBy("band")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val t = grid.withColumn("cm", sum(col("cdiff")).over(w))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("k"), col("nn"),
        col("m"))
      .agg(sum(abs(col("cm"))).as("sa"))
      .withColumn("tc", col("sa").cast("double")
        / (col("k").cast("double") * col("nn") * (col("m") - 1)))
    t.select(col("c_nationkey").cast("int").as("nation_id"),
        col("c_mktsegment").as("mktsegment"), col("k"),
        round(col("tc"), 4).as("t_closeness"),
        (col("tc") > 0.2).as("above_t02"))
      .orderBy("nation_id", "mktsegment")
  }

  /** ε-differentially-private histogram release with utility pricing —
    * the fourth member of the privacy quad: k-anonymity/l-diversity/
    * t-closeness MEASURE re-identification risk of a released table;
    * this op releases the aggregate itself under a formal budget (ε=0.5
    * Laplace counts over the quasi-identifier grid, sensitivity 1,
    * parallel composition across disjoint classes) and publishes the
    * exact utility cost of doing so (noise, absolute and relative
    * error per class) so the release gate can weigh privacy against
    * accuracy BEFORE shipping. Noise is the inverse-CDF Laplace draw on
    * a SEEDED md5-derived uniform per class — deterministic by design:
    * this is the audit/pricing twin (both engines must agree bit-for-
    * bit), and a deployment swaps the hash for a secret-keyed PRF to
    * get the cryptographic draw with the identical plan.
    *
    * Scale: one partial-aggregating groupBy to the |classes| grid; the
    * noise is a per-row projection on that bounded grid. The one ln()
    * is quarantined behind round(…, 6); u can never hit 0.5 exactly
    * ((h+1)/2³²+1 with integer h), so the draw is total. */
  val piiDpHistogram: Q = {
    val eps = "0.5"
    val duckH = graft.text.TextOps.duckWordHash(
      "CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment")
    val sparkH = graft.text.TextOps.sparkWordHash(
      "concat(cast(c_nationkey as string), '|', c_mktsegment)")
    // shared formula tail (dialect-identical): uniform → Laplace(1/ε).
    // Only ln() is rounded (the one libm call); every downstream value is
    // a product/sum/quotient of identical doubles and is published RAW —
    // re-rounding a ±2·(6-decimal) product at a coarser scale lands on
    // exact .5 ties that Spark (shortest-decimal HALF_UP) and DuckDB
    // (scaled-binary half-away) break differently, observed at sf0.001.
    val uExpr = "(h + 1e0) / 4294967297"
    val noiseExpr =
      s"(-1e0 / $eps) * (CASE WHEN u >= 0.5e0 THEN 1e0 ELSE -1e0 END)" +
        " * round(ln(1e0 - 2e0 * abs(u - 0.5e0)), 6)"
    Q.sql(
      "pii_dp_histogram",
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
         |    CAST(count(*) AS BIGINT) AS n_true
         |  FROM customer GROUP BY 1, 2),
         |h AS (SELECT *, $duckH AS h FROM g),
         |u AS (SELECT *, $uExpr AS u FROM h),
         |z AS (SELECT *, $noiseExpr AS noise FROM u)
         |SELECT CAST(c_nationkey AS INT) AS nation_id,
         |  c_mktsegment AS mktsegment, n_true, noise,
         |  n_true + noise AS n_noisy,
         |  abs(noise) AS abs_err,
         |  abs(noise) / n_true AS rel_err,
         |  CAST($eps AS DOUBLE) AS epsilon
         |FROM z ORDER BY nation_id, mktsegment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_true"))
        .withColumn("h", expr(sparkH))
        .withColumn("u", expr(uExpr))
        .withColumn("noise", expr(noiseExpr))
        .select(col("c_nationkey").cast("int").as("nation_id"),
          col("c_mktsegment").as("mktsegment"), col("n_true"), col("noise"),
          (col("n_true") + col("noise")).as("n_noisy"),
          abs(col("noise")).as("abs_err"),
          (abs(col("noise")) / col("n_true")).as("rel_err"),
          lit(0.5).as("epsilon"))
        .orderBy("nation_id", "mktsegment")
    }
  }

  // ------------------------------------------------------- text PII --

  /** PII detector classes over release TEXT — one definition emitting
    * both regex dialects (the patterns use only character classes and
    * counted repetition, the Java-regex ∩ RE2 subset, so Spark and
    * DuckDB match identically). Classes: email + IPv4 as the standard
    * web-crawl detectors (negative controls on this corpus — a clean
    * release must PROVE zero, not assume it), the CRM phone format, the
    * account-id token, and bare long digit runs (the ssn/credit-card
    * catch-all every release gate ships). Order matters for redaction:
    * specific before general, so the long-digit pass only sees runs no
    * richer class claimed. */
  private[graft] val piiClasses: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}", "[EMAIL]"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "[IP]"),
    ("phone", "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}", "[PHONE]"),
    ("account", "Customer#[0-9]+", "[ACCT]"),
    ("longnum", "[0-9]{9,}", "[NUM]"))

  /** Candidate prefilter: no detector class can match a text containing
    * neither a digit nor '@' (email needs the '@'; every other class
    * needs digits), so both engines gate the detector behind this
    * one-character-class scan — on a clean corpus the whole per-doc cost
    * is this single pass (the [[AnyClass]] alternation never runs). The
    * flagged-rows output is unchanged by construction: a row failing the
    * prefilter has all-zero counts and is outside the flagged universe
    * either way. */
  private val Prefilter = "[0-9@]"

  /** "Some class matches" as ONE alternation pattern — the exact flagged-
    * universe predicate, evaluated as a single short-circuiting scan
    * instead of five counts (and crucially never expressed as a filter
    * over the count columns, which Catalyst would substitute below the
    * counting projection, doubling every extract_all). */
  private val AnyClass: String =
    piiClasses.map(_._2).mkString("(", ")|(", ")")

  /** The release under scan: the corpus plus a CRM dump that leaked into
    * it as pseudo-documents — the classic contamination a text-level PII
    * gate exists to catch. The corpus side is the negative control: the
    * gate must PROVE it clean. The CRM rows render each customer the way
    * a support-ticket export lands in a crawl: account name, a
    * key-derived phone and 9-digit reference, and (every third row) an
    * email — all deterministic integer arithmetic + %-format rendering,
    * identical in Java's String.format and DuckDB's printf, so the two
    * engines scan byte-identical text. Pure per-row projection on both
    * arms; the union is linear. */
  private val releaseSql: String =
    // no line may START with '||': this fragment is re-interpolated into
    // stripMargin templates, which would eat the first bar of the operator
    """SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT 1000000000 + c_custkey AS doc_id, 'crm_dump' AS source,
      |    c_name || ' (' || c_mktsegment || ') contact ' ||
      |      printf('%02d-%03d-%03d-%04d',
      |           10 + c_custkey % 90, 100 + (c_custkey * 7) % 900,
      |           100 + (c_custkey * 13) % 900, 1000 + (c_custkey * 31) % 9000) ||
      |      ' ref ' || printf('%09d', 100000000 + (c_custkey * 977) % 900000000) ||
      |      CASE WHEN c_custkey % 3 = 0
      |           THEN ' email cust' || CAST(c_custkey AS VARCHAR) || '@example.com'
      |           ELSE '' END AS text
      |  FROM customer""".stripMargin

  private def releaseDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .unionByName(Tables.customer(s, d).select(
        (lit(1000000000L) + col("c_custkey")).as("doc_id"),
        lit("crm_dump").as("source"),
        concat(col("c_name"), lit(" ("), col("c_mktsegment"), lit(") contact "),
          format_string("%02d-%03d-%03d-%04d",
            lit(10) + col("c_custkey") % 90, lit(100) + (col("c_custkey") * 7) % 900,
            lit(100) + (col("c_custkey") * 13) % 900,
            lit(1000) + (col("c_custkey") * 31) % 9000),
          lit(" ref "),
          format_string("%09d",
            lit(100000000L) + (col("c_custkey") * 977) % 900000000L),
          when(col("c_custkey") % 3 === 0,
            concat(lit(" email cust"), col("c_custkey").cast("string"),
              lit("@example.com"))).otherwise(lit("")))
          .as("text")))

  /** Per-document text-PII report: for every release document carrying
    * at least one detector hit, the per-class match counts and a sample
    * match (first occurrence of the highest-priority hitting class —
    * what a reviewer eyeballs to confirm the detector isn't firing on
    * noise). Docs with zero hits are filtered out, so the output is
    * bounded by the CONTAMINATED doc count, not the corpus.
    *
    * Scale: pure per-row map + filter — regexp_extract_all is a codegen
    * projection, there is no aggregate, window or join anywhere, so the
    * op is a single scan at any corpus size (the 100 TB shape: this runs
    * as a side-output of the release writer). */
  /** The release docs some PII class matches, with each class's match
    * count `n_<class>`. The flagged-universe filter is the single
    * alternation scan (one short-circuiting pass; exactly "some class
    * matches"), NEVER a predicate over the count columns: Catalyst pushes
    * a count-based filter below the counting projection by alias
    * substitution, and every extract_all then evaluates twice per row
    * (filter + project) — measured 2x on the sf10 leg. */
  private def piiCounts(s: SparkSession, d: String): DataFrame =
    piiClasses.foldLeft(releaseDf(s, d)
        .filter(col("text").rlike(Prefilter) && col("text").rlike(AnyClass))) {
      case (df, (n, p, _)) =>
        df.withColumn(s"n_$n",
          size(regexp_extract_all(col("text"), lit(p), lit(0))).cast("long"))
    }

  /** DuckDB twin of [[piiCounts]]' count columns. */
  private val duckPiiCounts: String = piiClasses.map { case (n, p, _) =>
    s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$n"
  }.mkString(",\n    ")

  val piiTextDetect: Q = {
    val duckSample = piiClasses.map { case (n, p, _) =>
      s"WHEN n_$n > 0 THEN regexp_extract_all(text, '$p')[1]"
    }.mkString("CASE ", "\n    ", " END")
    Q.sql(
      "pii_text_detect",
      s"""WITH rel AS ($releaseSql),
         |x AS (SELECT doc_id, source,
         |    $duckPiiCounts,
         |    text
         |  FROM rel WHERE regexp_matches(text, '$Prefilter')
         |    AND regexp_matches(text, '$AnyClass'))
         |SELECT doc_id, source,
         |  ${piiClasses.map { case (n, _, _) => s"n_$n" }.mkString(", ")},
         |  $duckSample AS sample
         |FROM x ORDER BY doc_id""".stripMargin) { (s, d) =>
      val counted = piiCounts(s, d)
      val sampleCol = piiClasses.reverse.foldLeft(lit(null).cast("string")) {
        case (els, (n, p, _)) =>
          when(col(s"n_$n") > 0,
            element_at(regexp_extract_all(col("text"), lit(p), lit(0)), 1))
            .otherwise(els)
      }
      counted
        .select(col("doc_id") +: col("source") +:
          piiClasses.map { case (n, _, _) => col(s"n_$n") } :+
          sampleCol.as("sample"): _*)
        .orderBy("doc_id")
    }
  }

  /** Deterministic text redaction + residual proof: every contaminated
    * release document rewritten with each detector class replaced by its
    * fixed mask token (specific classes first, so the long-digit
    * catch-all only sees what richer classes left), plus n_residual —
    * the full detector suite re-run ON THE REDACTED TEXT. The release
    * gate's contract is n_residual = 0 for every row (mask tokens are
    * digit-free, so a replacement can never splice two digit runs into a
    * fresh match); publishing the re-scan makes the proof part of the
    * artifact instead of a test-time assumption (PiiTextSpec pins it and
    * the oracle recomputes it).
    *
    * Scale: same single-scan shape as [[piiTextDetect]] — chained
    * regexp_replace projections, a filter, no shuffle. */
  val piiRedact: Q = {
    val duckRedacted = piiClasses.foldLeft("text") { case (acc, (_, p, t)) =>
      s"regexp_replace($acc, '$p', '$t', 'g')"
    }
    val anyHit = piiClasses.map { case (n, _, _) => s"n_$n" }.mkString(" + ")
    val duckResidual = piiClasses.map { case (_, p, _) =>
      s"len(regexp_extract_all(redacted, '$p'))"
    }.mkString("CAST(", " + ", " AS BIGINT)")
    Q.sql(
      "pii_redact",
      s"""WITH rel AS ($releaseSql),
         |x AS (SELECT doc_id, source, text,
         |    $duckPiiCounts,
         |    $duckRedacted AS redacted
         |  FROM rel WHERE regexp_matches(text, '$Prefilter')
         |    AND regexp_matches(text, '$AnyClass')),
         |y AS (SELECT doc_id, source, redacted,
         |    CAST($anyHit AS BIGINT) AS n_masked,
         |    $duckResidual AS n_residual
         |  FROM x)
         |SELECT doc_id, source, redacted, n_masked, n_residual
         |FROM y ORDER BY doc_id""".stripMargin) { (s, d) =>
      val counted = piiCounts(s, d)
      val redactedCol = piiClasses.foldLeft(col("text")) { case (acc, (_, p, t)) =>
        regexp_replace(acc, lit(p), lit(t))
      }
      val residual = piiClasses.map { case (_, p, _) =>
        size(regexp_extract_all(col("redacted"), lit(p), lit(0)))
      }.reduce(_ + _).cast("long")
      counted.withColumn("redacted", redactedCol)
        .select(col("doc_id"), col("source"), col("redacted"),
          piiClasses.map { case (n, _, _) => col(s"n_$n") }
            .reduce(_ + _).cast("long").as("n_masked"),
          residual.as("n_residual"))
        .orderBy("doc_id")
    }
  }

  // ------------------------------------------------------- secrets --

  /** Credential detector classes — the secret-scanning counterpart of
    * [[piiClasses]] (a corpus release leaks API keys and tokens through
    * pasted configs/logs at least as often as it leaks emails; every
    * production release gate runs both scans). Same regex discipline:
    * character classes + counted repetition only (Java ∩ RE2), identical
    * in both engines. Order: specific prefixed shapes before the bare
    * hex catch-all, mirroring the redaction-priority convention. */
  private[graft] val secretClasses: Seq[(String, String)] = Seq(
    ("awskey", "AKIA[0-9A-Z]{16}"),
    ("bearer", "token_[0-9a-f]{16}"),
    ("hex32", "[0-9a-f]{32}"))

  /** Sound prefilter for the secret classes: awskey carries the AKIA
    * prefix, bearer the token_ prefix, and any hex32 match contains 16
    * consecutive [0-9a-f] — so a text failing this one scan provably
    * matches no class (the pii_text prefilter soundness argument). */
  private val SecretPrefilter = "([0-9a-f]{16})|AKIA|token_"

  private val AnySecret: String =
    secretClasses.map(_._2).mkString("(", ")|(", ")")

  /** The scanned release: the corpus (negative control — a clean release
    * must PROVE zero hits) plus a config/log dump leaked in as
    * pseudo-documents, the way secrets actually reach crawls. Each
    * supplier row renders an access-key id (AKIA + 16 key-derived
    * digits), an md5-derived 32-hex secret, and (every third row) a
    * bearer token — md5 and printf render byte-identically in both
    * engines, so the scan targets are exact. */
  private val secretReleaseSql: String =
    """SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT 2000000000 + s_suppkey AS doc_id, 'config_dump' AS source,
      |    s_name || ' api_key=' ||
      |      printf('AKIA%016d', 1000000 + (s_suppkey * 37) % 9000000) ||
      |      ' secret=' || substring(md5('gs|' || CAST(s_suppkey AS VARCHAR)), 1, 32) ||
      |      CASE WHEN s_suppkey % 3 = 0
      |           THEN ' token_' || substring(md5('gt|' || CAST(s_suppkey AS VARCHAR)), 1, 16)
      |           ELSE '' END AS text
      |  FROM supplier""".stripMargin

  private def secretReleaseDf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .unionByName(Tables.supplier(s, d).select(
        (lit(2000000000L) + col("s_suppkey")).as("doc_id"),
        lit("config_dump").as("source"),
        concat(col("s_name"), lit(" api_key="),
          format_string("AKIA%016d",
            lit(1000000L) + (col("s_suppkey") * 37) % 9000000L),
          lit(" secret="),
          substring(md5(concat(lit("gs|"), col("s_suppkey").cast("string"))), 1, 32),
          when(col("s_suppkey") % 3 === 0,
            concat(lit(" token_"),
              substring(md5(concat(lit("gt|"), col("s_suppkey").cast("string"))), 1, 16)))
            .otherwise(lit("")))
          .as("text")))

  /** Per-document secret scan: for every release document with at least
    * one credential-class hit, per-class counts, the first match of the
    * highest-priority hitting class, and n_secrets. The hex32 count is
    * made DISJOINT from the richer classes by counting on the text with
    * prefixed shapes already masked (a bearer token's 16-hex tail must
    * not double-report as half a bare hex run; masks are hex-free so no
    * splice can mint a fresh match).
    *
    * Scale: identical shape to [[piiTextDetect]] — one short-circuiting
    * alternation scan gates chained regexp projections; no aggregate,
    * window or join, a pure single pass at any corpus size. */
  val piiSecrets: Q = {
    val duckStripped = secretClasses.init.foldLeft("text") { case (acc, (n, p)) =>
      s"regexp_replace($acc, '$p', '<$n>', 'g')"
    }
    Q.sql(
      "pii_secrets",
      s"""WITH rel AS ($secretReleaseSql),
         |x AS (SELECT doc_id, source, text, $duckStripped AS stripped
         |  FROM rel WHERE regexp_matches(text, '$SecretPrefilter')
         |    AND regexp_matches(text, '$AnySecret')),
         |y AS (SELECT doc_id, source, text,
         |    CAST(len(regexp_extract_all(text, '${secretClasses(0)._2}')) AS BIGINT)
         |      AS n_awskey,
         |    CAST(len(regexp_extract_all(text, '${secretClasses(1)._2}')) AS BIGINT)
         |      AS n_bearer,
         |    CAST(len(regexp_extract_all(stripped, '${secretClasses(2)._2}')) AS BIGINT)
         |      AS n_hex32
         |  FROM x)
         |SELECT doc_id, source, n_awskey, n_bearer, n_hex32,
         |  n_awskey + n_bearer + n_hex32 AS n_secrets,
         |  CASE WHEN n_awskey > 0 THEN regexp_extract_all(text, '${secretClasses(0)._2}')[1]
         |       WHEN n_bearer > 0 THEN regexp_extract_all(text, '${secretClasses(1)._2}')[1]
         |       WHEN n_hex32 > 0 THEN regexp_extract_all(text, '${secretClasses(2)._2}')[1]
         |  END AS sample
         |FROM y ORDER BY doc_id""".stripMargin) { (s, d) =>
      // flagged universe via the alternation scan (the pii_text_detect
      // lesson: a count-predicate filter gets alias-substituted below the
      // counting projection and doubles every extract_all)
      val flagged = secretReleaseDf(s, d)
        .filter(col("text").rlike(SecretPrefilter) && col("text").rlike(AnySecret))
      val stripped = secretClasses.init.foldLeft(col("text")) { case (acc, (n, p)) =>
        regexp_replace(acc, lit(p), lit(s"<$n>"))
      }
      def cnt(src: org.apache.spark.sql.Column, p: String) =
        size(regexp_extract_all(src, lit(p), lit(0))).cast("long")
      val y = flagged
        .withColumn("stripped", stripped)
        .withColumn("n_awskey", cnt(col("text"), secretClasses(0)._2))
        .withColumn("n_bearer", cnt(col("text"), secretClasses(1)._2))
        .withColumn("n_hex32", cnt(col("stripped"), secretClasses(2)._2))
      val sampleCol =
        when(col("n_awskey") > 0,
          element_at(regexp_extract_all(col("text"), lit(secretClasses(0)._2), lit(0)), 1))
          .when(col("n_bearer") > 0,
            element_at(regexp_extract_all(col("text"), lit(secretClasses(1)._2), lit(0)), 1))
          .when(col("n_hex32") > 0,
            element_at(regexp_extract_all(col("text"), lit(secretClasses(2)._2), lit(0)), 1))
      y.select(col("doc_id"), col("source"),
          col("n_awskey"), col("n_bearer"), col("n_hex32"),
          (col("n_awskey") + col("n_bearer") + col("n_hex32")).as("n_secrets"),
          sampleCol.as("sample"))
        .orderBy("doc_id")
    }
  }

  /** Join-preserving pseudonymization audit — the step between detection
    * ([[piiTextDetect]]) and destruction ([[piiRedact]]): when a training
    * pipeline must keep entity coreference (the same customer referenced
    * across documents has to stay THE SAME entity after anonymization),
    * each identity maps to a stable keyed surrogate
    * `p_<16 hex of md5(class:identity)>`. This op publishes the surrogate
    * table's health per identity class (email / account / 9-digit
    * reference): the top-20 pseudonyms with document spread and
    * occurrence counts, plus `n_identities` — the number of RAW
    * identities mapping to that pseudonym, the collision audit that must
    * read 1 everywhere for the mapping to be join-preserving (cross-doc
    * consistency is the map's determinism: equal identity ⇒ equal
    * surrogate, by construction in both engines via md5).
    *
    * Scale: ONE release scan (the three extractors ride one projection,
    * stacked in-row and exploded); the aggregate is identity-bounded,
    * persisted, and each class's top-20 is a distributed
    * TakeOrdered(orderBy+limit) — no single-partition window over the
    * identity table. */
  val piiPseudonymize: Q = {
    val classes = Seq(
      ("email", piiClasses.find(_._1 == "email").get._2),
      ("account", piiClasses.find(_._1 == "account").get._2),
      ("ref", "[0-9]{9,}"))
    val duckOcc = classes.map { case (n, p) =>
      s"""SELECT doc_id, '$n' AS class,
         |    unnest(regexp_extract_all(text, '$p')) AS ident FROM rel""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val duckTop = classes.map { case (n, _) =>
      s"""SELECT * FROM (SELECT * FROM g WHERE class = '$n'
         |    ORDER BY n_occurrences DESC, pseudonym LIMIT 20)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    Q.sql(
      "pii_pseudonymize",
      s"""WITH rel AS MATERIALIZED ($releaseSql),
         |occ AS ($duckOcc),
         |g AS MATERIALIZED (SELECT class,
         |    'p_' || substr(md5(class || ':' || ident), 1, 16) AS pseudonym,
         |    CAST(count(DISTINCT ident) AS BIGINT) AS n_identities,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_occurrences
         |  FROM occ GROUP BY 1, 2)
         |SELECT class, pseudonym, n_identities, n_docs, n_occurrences
         |FROM ($duckTop)
         |ORDER BY class, n_occurrences DESC, pseudonym""".stripMargin) { (s, d) =>
      val stacks = classes.map { case (n, p) =>
        expr(s"transform(regexp_extract_all(text, '$p', 0), " +
          s"x -> named_struct('class', '$n', 'ident', x))")
      }
      val occ = releaseDf(s, d)
        .select(col("doc_id"), explode(concat(stacks: _*)).as("m"))
        .select(col("doc_id"), col("m.class").as("class"), col("m.ident").as("ident"))
      val g = occ.groupBy(col("class"),
          concat(lit("p_"),
            substring(md5(concat(col("class"), lit(":"), col("ident"))), 1, 16))
            .as("pseudonym"))
        .agg(countDistinct("ident").cast("long").as("n_identities"),
          countDistinct("doc_id").cast("long").as("n_docs"),
          count(lit(1)).cast("long").as("n_occurrences"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      classes.map { case (n, _) =>
        g.filter(col("class") === n)
          .orderBy(col("n_occurrences").desc, col("pseudonym")).limit(20)
      }.reduce(_ unionByName _)
        .orderBy(col("class"), col("n_occurrences").desc, col("pseudonym"))
    }
  }

  val all: Seq[Q] = Seq(piiScrub, piiKanon, piiLdiversity, piiTcloseness,
    piiDpHistogram, piiTextDetect, piiRedact, piiSecrets, piiPseudonymize)
}
