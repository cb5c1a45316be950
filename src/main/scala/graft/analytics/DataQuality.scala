package graft.analytics

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Declarative data-quality gate over the star schema — the Deequ-style
  * check suite a pipeline runs before admitting a batch: column profiles
  * and named constraints with violation counts. The reference trusts the
  * database's own integrity machinery (PK/FK/NOT NULL enforced at write,
  * audit.go's triggers fire on admitted rows only); a lake deployment has
  * no such writer-side guarantees, so the checks become queries.
  *
  * Scale design: the PROFILE is ONE pass over the fact scan — every
  * metric of every profiled column computed in a single aggregate (one
  * shuffle of one row), then unpivoted executor-side; the CONSTRAINT
  * suite is a union of partial aggregates plus one broadcast anti join
  * for referential integrity (dimension side bounded). Nothing scans the
  * fact table more than once per check family.
  */
object DataQuality {

  /** Column profile of the fact table in ONE scan: per profiled column,
    * row count, null count, exact distinct, and min/max (numerics only —
    * cross-engine string formatting of doubles is undefined territory;
    * categorical columns profile cardinality and lexicographic extremes,
    * which both engines order identically for ASCII). */
  val dqProfile: Q = Q.sql(
    "dq_profile",
    """WITH a AS (
      |  SELECT count(*) AS n,
      |    count(*) - count(l_quantity) AS null_qty,
      |    count(DISTINCT l_quantity) AS d_qty,
      |    min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |    count(*) - count(l_extendedprice) AS null_price,
      |    count(DISTINCT l_extendedprice) AS d_price,
      |    min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |    count(*) - count(l_discount) AS null_disc,
      |    count(DISTINCT l_discount) AS d_disc,
      |    min(l_discount) AS min_disc, max(l_discount) AS max_disc,
      |    count(*) - count(l_returnflag) AS null_rf,
      |    count(DISTINCT l_returnflag) AS d_rf,
      |    count(*) - count(l_linestatus) AS null_ls,
      |    count(DISTINCT l_linestatus) AS d_ls
      |  FROM lineitem)
      |SELECT * FROM (
      |  SELECT 'l_quantity' AS col_name, CAST(n AS BIGINT) AS n_rows,
      |    CAST(null_qty AS BIGINT) AS n_null, CAST(d_qty AS BIGINT) AS n_distinct,
      |    min_qty AS min_v, max_qty AS max_v FROM a
      |  UNION ALL SELECT 'l_extendedprice', n, null_price, d_price,
      |    min_price, max_price FROM a
      |  UNION ALL SELECT 'l_discount', n, null_disc, d_disc,
      |    min_disc, max_disc FROM a
      |  UNION ALL SELECT 'l_returnflag', n, null_rf, d_rf, NULL, NULL FROM a
      |  UNION ALL SELECT 'l_linestatus', n, null_ls, d_ls, NULL, NULL FROM a)
      |ORDER BY col_name""".stripMargin) { (s, d) =>
    val a = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count(col("l_quantity"))).as("null_qty"),
      countDistinct(col("l_quantity")).as("d_qty"),
      min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
      (count(lit(1)) - count(col("l_extendedprice"))).as("null_price"),
      countDistinct(col("l_extendedprice")).as("d_price"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      (count(lit(1)) - count(col("l_discount"))).as("null_disc"),
      countDistinct(col("l_discount")).as("d_disc"),
      min(col("l_discount")).as("min_disc"), max(col("l_discount")).as("max_disc"),
      (count(lit(1)) - count(col("l_returnflag"))).as("null_rf"),
      countDistinct(col("l_returnflag")).as("d_rf"),
      (count(lit(1)) - count(col("l_linestatus"))).as("null_ls"),
      countDistinct(col("l_linestatus")).as("d_ls"))
    // unpivot the 1-row metric frame to one row per column — executor-side
    // explode of literal structs, no second scan
    a.select(expr(
      """explode(array(
        |  struct('l_quantity' as col_name, n as n_rows, null_qty as n_null,
        |         d_qty as n_distinct, min_qty as min_v, max_qty as max_v),
        |  struct('l_extendedprice' as col_name, n as n_rows, null_price as n_null,
        |         d_price as n_distinct, min_price as min_v, max_price as max_v),
        |  struct('l_discount' as col_name, n as n_rows, null_disc as n_null,
        |         d_disc as n_distinct, min_disc as min_v, max_disc as max_v),
        |  struct('l_returnflag' as col_name, n as n_rows, null_rf as n_null,
        |         d_rf as n_distinct, cast(null as double) as min_v,
        |         cast(null as double) as max_v),
        |  struct('l_linestatus' as col_name, n as n_rows, null_ls as n_null,
        |         d_ls as n_distinct, cast(null as double) as min_v,
        |         cast(null as double) as max_v)
        |)) as r""".stripMargin))
      .select(col("r.col_name"), col("r.n_rows"), col("r.n_null"),
        col("r.n_distinct"), col("r.min_v"), col("r.max_v"))
      .orderBy("col_name")
  }

  /** Named constraint suite with violation counts — the admit/reject
    * gate: PK uniqueness, referential integrity (broadcast anti join on
    * the bounded dimension), domain ranges, cross-field arithmetic
    * consistency, and an accepted-values check. Each check is a partial
    * aggregate; the union is |constraints| rows. */
  val dqConstraints: Q = Q.sql(
    "dq_constraints",
    """SELECT * FROM (
      |  SELECT 'orders_pk_unique' AS constraint_name, 'orders' AS table_name,
      |    CAST(count(*) AS BIGINT) AS n_checked,
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_fk_customer', 'orders', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT)
      |  FROM orders LEFT JOIN customer ON c_custkey = o_custkey
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders', 'lineitem', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
      |  FROM lineitem LEFT JOIN orders ON o_orderkey = l_orderkey
      |  UNION ALL
      |  SELECT 'discount_in_unit_range', 'lineitem', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'quantity_positive', 'lineitem', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'returnflag_accepted_values', 'lineitem', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R'))
      |      AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'nation_fd_one_name_per_key', 'nation',
      |    CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE names > 1) AS BIGINT)
      |  FROM (SELECT n_nationkey, count(DISTINCT n_name) AS names
      |        FROM nation GROUP BY 1))
      |ORDER BY constraint_name""".stripMargin) { (s, d) =>
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def row(name: String, table: String, checked: org.apache.spark.sql.Column,
        violations: org.apache.spark.sql.Column)(df: org.apache.spark.sql.DataFrame) =
      df.agg(checked.cast("long").as("n_checked"),
          violations.cast("long").as("n_violations"))
        .select(lit(name).as("constraint_name"), lit(table).as("table_name"),
          col("n_checked"), col("n_violations"))
    val pk = row("orders_pk_unique", "orders", count(lit(1)),
      count(lit(1)) - countDistinct(col("o_orderkey")))(orders)
    // referential checks: LEFT JOIN + null-count rather than anti join so
    // n_checked and n_violations come from ONE pass; the dimension side
    // stays un-hinted (customer scales with SF — AQE picks the strategy)
    val fkOc = row("orders_fk_customer", "orders", count(lit(1)),
      count(when(col("c_custkey").isNull, 1)))(
      orders.join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"),
        "left"))
    val fkLo = row("lineitem_fk_orders", "lineitem", count(lit(1)),
      count(when(col("o_orderkey").isNull, 1)))(
      li.join(orders, col("o_orderkey") === col("l_orderkey"), "left"))
    val disc = row("discount_in_unit_range", "lineitem", count(lit(1)),
      count(when(col("l_discount") < 0 || col("l_discount") > 1, 1)))(li)
    val qty = row("quantity_positive", "lineitem", count(lit(1)),
      count(when(col("l_quantity") <= 0, 1)))(li)
    val rf = row("returnflag_accepted_values", "lineitem", count(lit(1)),
      count(when(!col("l_returnflag").isin("A", "N", "R"), 1)))(li)
    val fd = row("nation_fd_one_name_per_key", "nation", count(lit(1)),
      count(when(col("names") > 1, 1)))(
      Tables.nation(s, d).groupBy("n_nationkey")
        .agg(countDistinct(col("n_name")).as("names")))
    pk.unionByName(fkOc).unionByName(fkLo).unionByName(disc)
      .unionByName(qty).unionByName(rf).unionByName(fd)
      .orderBy("constraint_name")
  }

  /** The correlated measures (name → lineitem column), their pairs, and
    * the square + cross-product lanes, which share the split-sum shape. */
  private val corrVars = Seq("qty" -> "l_quantity", "price" -> "l_extendedprice",
    "disc" -> "l_discount", "tax" -> "l_tax")
  private val corrPairs = for {
    ((a, _), i) <- corrVars.zipWithIndex
    (b, _) <- corrVars.drop(i + 1)
  } yield (a, b)
  private val corrProds = corrVars.map { case (k, _) => (k, k) } ++ corrPairs

  /** Pearson r of measures `a` and `b` over the sums `n`, `s_a`, `s_a_b`…
    * — one formula string for both engines, rounded once. */
  private def corrR(a: String, b: String): String =
    s"round((n * s_${a}_$b - s_$a * s_$b) / sqrt((n * s_${a}_$a - s_$a * s_$a)" +
      s" * (n * s_${b}_$b - s_$b * s_$b)), 4)"

  /** Pairwise Pearson correlations of the fact measures in ONE scan —
    * the statistics plane of the profile (native `corr` aggregates in
    * either engine accumulate doubles in partition order, so their last
    * ulp moves with the partitioning; here every Σx, Σx², Σxy is EXACT
    * and order-free, and r is derived from the exact sums with one
    * double expression per pair). All 4 variables × 6 pairs come out of
    * a single aggregate row, unpivoted executor-side.
    *
    * Arithmetic lane (round 13, capacity reworked round 14): the monetary
    * inputs are 2-decimal, so each converts ONCE per row to a scale-2
    * long (`graft_to_scaled2` — the exact unscaled of
    * `CAST(x AS DECIMAL(38,2))`) and every moment is pure long arithmetic
    * inside whole-stage codegen: Σx lanes sum the scale-2 longs directly,
    * Σx²/Σxy lanes carry the EXACT scale-4 product (≤1.2e14 for these
    * columns, fits a long) split hi/lo at base 1e7 so BOTH split lanes
    * carry ≤~1.2e7 per row — every `sum(long)` stays inside long capacity
    * to ~7.7e11 input rows, which covers a 100 TB lineitem (~6e11 rows).
    * The ANSI posture (`spark.sql.ansi.enabled`) depends on the
    * deployment, and with it off `sum(long)` would WRAP SILENTLY past
    * capacity — the only loud path that is guaranteed is therefore an
    * explicit guard computed in the same aggregate: max(abs(x)) lanes
    * bound the worst per-row addend exactly, and the single post-agg row
    * raises an error (`raise_error`) when either (a) n × worst-addend
    * approaches Long.MaxValue for any sum lane, or (b) any per-row
    * product max_a×max_b itself approaches Long.MaxValue. The guard is
    * exercised past the bound in NativeExprSpec. The previous fourteen
    * `DECIMAL(38,8)` sum lanes ran interpreted (wide-decimal agg buffers
    * blow the codegen budget) and scaled superlinearly on CPU; the long
    * lanes restore primitive buffers and codegen while the DuckDB oracle
    * computes the same exact sums as decimals — the edge conversions
    * (`graft_from_scaled2` / `graft_from_scaled4_split`, single
    * correctly-rounded BigDecimal → double steps) are pinned lane-equal
    * in NativeExprSpec. */
  val qMeasureCorrelations: Q = {
    def dec2(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val sumsSql = (
      corrVars.map { case (k, c) => s"CAST(sum(${dec2(c)}) AS DOUBLE) AS s_$k" } ++
      corrProds.map { case (a, b) =>
        val ca = corrVars.find(_._1 == a).get._2; val cb = corrVars.find(_._1 == b).get._2
        s"CAST(sum(${dec2(ca)} * ${dec2(cb)}) AS DOUBLE) AS s_${a}_$b"
      }).mkString(",\n    ")
    val rowsSql = corrPairs.map { case (a, b) =>
      s"SELECT '${a}_x_$b' AS pair, n AS n_rows, ${corrR(a, b)} AS r FROM a"
    }.mkString("\n  UNION ALL ")
    Q.sql(
      "q_measure_correlations",
      s"""WITH a AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    $sumsSql
        |  FROM lineitem)
        |SELECT pair, CAST(n_rows AS BIGINT) AS n_rows, r FROM (
        |  $rowsSql)
        |ORDER BY pair""".stripMargin) { (s, d) =>
      correlationsFrom(Tables.lineitem(s, d))
    }
  }

  /** The correlation pipeline over any frame with the four measure
    * columns — factored from [[qMeasureCorrelations]] so the overflow
    * guard is testable past the capacity bound (the bound needs ~8e11
    * rows through the real table, but only a crafted max|x| here). */
  private[graft] def correlationsFrom(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val proj = li.select(
      corrVars.map { case (k, c) =>
        call_function("graft_to_scaled2", col(c)).as(s"x_$k") }: _*)
    // split base 1e7 balances the two product lanes: hi ≤ maxᵃmaxᵇ/1e7
    // (~1.2e7 for these columns) and lo < 1e7 per row, so capacity is
    // ~9.2e18 / 1.2e7 ≈ 7.7e11 rows on every lane — 100 TB fits; the
    // guard below makes anything past that loud even where a deployment
    // turns ANSI off (it is on by default in Spark 4): without ANSI,
    // sum(long) wraps silently
    val aggs =
      corrVars.map { case (k, _) => sum(col(s"x_$k")).as(s"l_$k") } ++
      corrProds.flatMap { case (a, b) =>
        Seq(sum(expr(s"(x_$a * x_$b) div 10000000")).as(s"h_${a}_$b"),
          sum(expr(s"(x_$a * x_$b) % 10000000")).as(s"g_${a}_$b"))
      } ++
      // exact worst-addend witnesses for the guard (primitive long max)
      corrVars.map { case (k, _) => max(abs(col(s"x_$k"))).as(s"m_$k") }
    val agg = proj.agg(count(lit(1)).cast("double").as("n"), aggs: _*)
    // Loud capacity guard, evaluated once on the single aggregate row.
    // worstAddend bounds every per-row |addend| across all sum lanes
    // (Σx: max|x|; lo: base−1; hi: max|a|·max|b|/base, +2.0 absorbs the
    // div-vs-double rounding); worstProd bounds the raw scale-4 product,
    // which must itself fit a long BEFORE the split. Both comparisons in
    // double against 9.0e18 (< Long.MaxValue 9.223e18, 2.4% slack).
    def m(k: String) = coalesce(col(s"m_$k").cast("double"), lit(0.0))
    val base = 1e7
    val worstAddend = greatest(
      (corrVars.map { case (k, _) => m(k) } :+ lit(base - 1)) ++
      corrProds.map { case (a, b) => m(a) / lit(base) * m(b) + lit(2.0) }: _*)
    val worstProd = greatest(corrProds.map { case (a, b) => m(a) * m(b) }: _*)
    val guardedN = when(
      col("n") * worstAddend < lit(9.0e18) && worstProd < lit(9.0e18),
      col("n")).otherwise(raise_error(lit(
      "q_measure_correlations: scaled-long moment lanes past long capacity" +
        " (n x worst per-row addend or a per-row product >= 9.0e18);" +
        " re-split at a smaller base or widen the lanes")))
    val a = agg.select(guardedN.as("n") +: (
      corrVars.map { case (k, _) =>
        call_function("graft_from_scaled2", col(s"l_$k")).as(s"s_$k") } ++
      corrProds.map { case (x, y) =>
        call_function("graft_from_scaled4_split",
          col(s"h_${x}_$y"), col(s"g_${x}_$y")).as(s"s_${x}_$y") }): _*)
    val structs = corrPairs.map { case (x, y) =>
      s"struct('${x}_x_$y' as pair, n as n_rows, ${corrR(x, y)} as r)"
    }.mkString(", ")
    a.select(expr(s"explode(array($structs)) as p"))
      .select(col("p.pair"),
        col("p.n_rows").cast("long").as("n_rows"), col("p.r"))
      .orderBy("pair")
  }

  val all: Seq[Q] = Seq(dqProfile, dqConstraints, qMeasureCorrelations)
}
