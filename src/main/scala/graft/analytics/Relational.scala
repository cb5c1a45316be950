package graft.analytics

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational analytics core — the query engine underneath the reference's
  * audit views (TPC-H-flavored over the driver's star schema).
  *
  * Scale posture — size-gated broadcast discipline:
  *   - BOUNDED dims (region=5, nation=25, supplier at fixed deployment
  *     cardinality) carry an explicit `broadcast()` hint: always correct,
  *     saves AQE a size estimate.
  *   - SF-SCALING tables (customer, part) are joined UN-HINTED. They grow
  *     linearly with the corpus, so a forced hint is a driver OOM at the
  *     100 TB posture — and being a hint, AQE cannot override it. Un-hinted,
  *     `autoBroadcastJoinThreshold`/AQE picks broadcast at small SF and
  *     shuffle-hash at scale. PlanShapeSpec pins both halves of this policy.
  * Fact joins shuffle on their keys with AQE; every filter and projection
  * is declarative so parquet pushdown/pruning applies.
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  /** Line items with their order, customer and (broadcast) customer
    * nation: the sales fact every per-nation revenue op groups. */
  private def nationSales(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))

  /** DuckDB twin of [[nationSales]]: its FROM clause. */
  private val duckNationSales: String =
    """FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  /** TPC-H Q1 flavor: multi-aggregate scan of the biggest fact table.
    * Map-side partial aggregation keeps the shuffle at |groups| rows. */
  val q1Pricing: Q = Q.sql(
    "q1_pricing",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.dsumRoundSql("l_quantity", 2)} AS sum_qty,
       |  ${Det.dsumRoundSql("l_extendedprice", 2)} AS sum_base_price,
       |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS sum_disc_price,
       |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS sum_charge,
       |  round(${Det.dsumSql("l_quantity")} / count(*), 4) AS avg_qty,
       |  round(${Det.dsumSql("l_extendedprice")} / count(*), 4) AS avg_price,
       |  round(${Det.dsum9Sql("l_discount")} / count(*), 4) AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    li(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Det.dsumRound(col("l_quantity"), 2).as("sum_qty"),
        Det.dsumRound(col("l_extendedprice"), 2).as("sum_base_price"),
        Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("sum_disc_price"),
        Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 2).as("sum_charge"),
        round(Det.dsum(col("l_quantity")) / count(lit(1)), 4).as("avg_qty"),
        round(Det.dsum(col("l_extendedprice")) / count(lit(1)), 4).as("avg_price"),
        round(Det.dsum9(col("l_discount")) / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3 flavor: fact-fact join (orders⨝lineitem shuffled on orderkey)
    * with a broadcast customer filter; top-N revenue. */
  val q3Shipping: Q = Q.sql(
    "q3_shipping",
    s"""SELECT o_orderkey,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY o_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < to_timestamp(lit("1998-06-01 00:00:00")))
    val l = li(s, d).filter(col("l_shipdate") > to_timestamp(lit("1998-06-01 00:00:00")))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))   // sf-scaling: un-hinted, AQE size-gates
      .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"), col("o_orderpriority"))
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
      .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 flavor: multi-way join through the region/nation dimension
    * chain; all dims broadcast, single shuffle on the fact keys. */
  val q5RegionVolume: Q = Q.sql(
    "q5_region_volume",
    s"""SELECT n_name,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = n_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    li(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey") &&
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6 flavor: tight filter + single aggregate — the pushdown test. */
  val q6Forecast: Q = Q.sql(
    "q6_forecast",
    s"""SELECT ${Det.dsumRoundSql("l_extendedprice * l_discount", 2)} AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.04 AND 0.06
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    li(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
        col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
      .agg(
        Det.dsumRound(col("l_extendedprice") * col("l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Per-customer order totals joined back to the (broadcast) dim, top-N. */
  val qTopCustomers: Q = Q.sql(
    "q_top_customers",
    s"""SELECT c_custkey, c_name, count(*) AS n_orders,
      |  ${Det.dsumRoundSql("o_totalprice", 2)} AS total_spent
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY total_spent DESC, c_custkey
      |LIMIT 20""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), Det.dsumRound(col("o_totalprice"), 2).as("total_spent"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "c_name", "n_orders", "total_spent")
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 flavor: promo revenue share per brand (conditional agg). */
  val qPartShare: Q = Q.sql(
    "q_part_share",
    s"""SELECT p_brand,
       |  round(100.0 * ${Det.dsumSql(
            "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
       |    / ${Det.dsumSql("l_extendedprice * (1 - l_discount)")}, 4) AS promo_share,
       |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin) { (s, d) =>
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        round(lit(100.0) * Det.dsum(when(col("p_type") === "PROMO", rev).otherwise(0))
            / Det.dsum(rev), 4)
          .as("promo_share"),
        Det.dsumRound(rev, 2).as("revenue"))
      .orderBy("p_brand")
  }

  /** Running per-customer spend — the window-function primitive that also
    * powers the audit snapshot/compare reconstructions. */
  val qRunningTotals: Q = Q.sql(
    "q_running_totals",
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
      |  round(sum(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spent,
      |  row_number() OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
      |FROM orders
      |WHERE o_custkey < 100
      |ORDER BY o_custkey, order_seq""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_spent"),
        row_number().over(w).as("order_seq"))
      .orderBy("o_custkey", "order_seq")
  }

  /** TPC-H Q4 flavor: EXISTS via left-semi join with a non-equi condition. */
  val qOrderPriority: Q = Q.sql(
    "q_order_priority",
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1996-07-01 00:00:00")))
    val l = li(s, d).select("l_orderkey", "l_shipdate")
    o.join(l, col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Event funnel: per-user signup→purchase conversion (conditional agg).
    *
    * The conversion comparison runs on integer *microsecond* epochs on both
    * sides — the engine's native timestamp precision. The raw feed is
    * TIMESTAMP(NANOS); comparing one side at nanos and the other at micros
    * flips the flag for pairs equal at micros but ordered at nanos. */
  val qFunnel: Q = Q.sql(
    "q_funnel",
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CASE WHEN min(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) // 1000 END)
      |         < max(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END)
      |    THEN 1 ELSE 0 END AS converted
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val us = unix_micros(col("ts"))
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
        when(min(when(col("event_type") === "signup", us))
          < max(when(col("event_type") === "purchase", us)), 1).otherwise(0)
          .as("converted"))
      .orderBy("user_id")
  }

  /** Nation×year revenue rollup (multi-level aggregate with ALL rows). */
  val qRollupNation: Q = Q.sql(
    "q_rollup_nation",
    s"""SELECT coalesce(n_name, '<ALL>') AS nation,
      |  coalesce(yr, -1) AS yr,
      |  ${Det.dsumRoundSql("rev", 2)} AS revenue
      |FROM (
      |  SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
      |    l_extendedprice * (1 - l_discount) AS rev
      |  $duckNationSales)
      |GROUP BY ROLLUP(n_name, yr)
      |ORDER BY nation, yr""".stripMargin) { (s, d) =>
    val base = nationSales(s, d)
      .select(
        col("n_name"), year(col("o_orderdate")).cast("int").as("yr"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    // SQL path: Dataset.rollup carries dataset-id metadata through the
    // Expand node and trips the ambiguous-self-join check after the joins.
    base.createOrReplaceTempView("graft_rollup_base")
    // Det.dsumSql emits shared-ANSI fixed-point SQL — the same expression
    // string runs in Spark SQL here and in the DuckDB oracle above.
    s.sql(
      s"""SELECT coalesce(n_name, '<ALL>') AS nation, coalesce(yr, -1) AS yr,
        |  ${Det.dsumRoundSql("rev", 2)} AS revenue
        |FROM graft_rollup_base
        |GROUP BY ROLLUP(n_name, yr)
        |ORDER BY nation, yr""".stripMargin)
  }

  /** TPC-H Q13 flavor: order-count distribution via left outer join. */
  val qCustDistribution: Q = Q.sql(
    "q_cust_distribution",
    """SELECT n_orders, count(*) AS n_customers
      |FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
      |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |      GROUP BY c_custkey)
      |GROUP BY n_orders ORDER BY n_customers DESC, n_orders""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("n_orders"))
  }

  /** TPC-H Q18 flavor: HAVING over a fact aggregation, joined back. */
  val qBigOrders: Q = Q.sql(
    "q_big_orders",
    s"""SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       |  round(o_totalprice, 2) AS total, sum_qty
       |FROM (SELECT l_orderkey, ${Det.dsumRoundSql("l_quantity", 2)} AS sum_qty
       |      FROM lineitem GROUP BY l_orderkey
       |      HAVING ${Det.dsumSql("l_quantity")} > 250) big
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |ORDER BY sum_qty DESC, o_orderkey LIMIT 20""".stripMargin) { (s, d) =>
    val big = li(s, d).groupBy("l_orderkey")
      .agg(Det.dsumRound(col("l_quantity"), 2).as("sum_qty"),
        Det.dsum(col("l_quantity")).as("__raw_qty"))
      .filter(col("__raw_qty") > 250)
    big
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        round(col("o_totalprice"), 2).as("total"),
        col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q19 flavor: disjunction of conjunctive ranges — the pushdown /
    * predicate-simplification stress test. */
  val qBrandRevenue: Q = Q.sql(
    "q_brand_revenue",
    s"""SELECT ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
      |       AND l_quantity BETWEEN 10 AND 35)""".stripMargin) { (s, d) =>
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 35))
    li(s, d)
      .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
      .filter(cond)
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q22 flavor: scalar subquery threshold + anti join. */
  val qDormantCustomers: Q = Q.sql(
    "q_dormant_customers",
    s"""SELECT cntrycode, count(*) AS numcust, ${Det.dsumRoundSql("c_acctbal", 2)} AS totacctbal
       |FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal
       |      FROM customer
       |      WHERE c_acctbal > (SELECT ${Det.dsumSql("c_acctbal")} / count(*)
       |                         FROM customer WHERE c_acctbal > 0)
       |        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'))
       |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val threshold = c.filter(col("c_acctbal") > 0)
      .agg((Det.dsum(col("c_acctbal")) / count(lit(1))).as("__thr"))
    c.join(broadcast(threshold))            // singleton broadcast, no shuffle
      .filter(col("c_acctbal") > col("__thr"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01 00:00:00")))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select((col("c_nationkey") % 10).as("cntrycode"), col("c_acctbal"))
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"), Det.dsumRound(col("c_acctbal"), 2).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** Price-band classification via the banded range join (Bands.rangeJoin):
    * interval membership as a bucketized equi-join instead of the
    * nested-loop plan a raw `lo <= v AND v < hi` join would get. */
  val qPriceBands: Q = Q.sql(
    "q_price_bands",
    s"""WITH bands(band, lo, hi) AS (VALUES
      |  ('p00_25k', 0.0, 25000.0), ('p25_50k', 25000.0, 50000.0),
      |  ('p50_75k', 50000.0, 75000.0), ('p75_110k', 75000.0, 110000.0))
      |SELECT band, count(*) AS n_items,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
      |FROM lineitem JOIN bands
      |  ON l_extendedprice >= lo AND l_extendedprice < hi
      |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import s.implicits._
    val bands = Seq(
      ("p00_25k", 0.0, 25000.0), ("p25_50k", 25000.0, 50000.0),
      ("p50_75k", 50000.0, 75000.0), ("p75_110k", 75000.0, 110000.0)
    ).toDF("band", "lo", "hi")
    Bands.rangeJoin(li(s, d), bands, "l_extendedprice", "lo", "hi",
        bucketWidth = 25000.0)
      .groupBy("band")
      .agg(count(lit(1)).as("n_items"),
        Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
      .orderBy("band")
  }

  /** The salted-join path under the driver's gate: per-nation order
    * rollup where the orders⨝customer join runs through
    * [[Skew.saltedJoin]] (probe rows spread across 8 salt values, build
    * side replicated ×8, equi-join on (key, salt)) — the explicit
    * mitigation for a planned-hot key that AQE's runtime split can't see
    * in advance. The oracle is the PLAIN join, so the hash compare proves
    * salting is invisible to results; SkewSpec separately proves the
    * partition spread. */
  val qSkewSalted: Q = Q.sql(
    "q_skew_salted",
    s"""SELECT c_nationkey, count(*) AS n_orders,
       |  ${Det.dsumRoundSql("o_totalprice", 2)} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    Skew.saltedJoin(
        Tables.orders(s, d).select("o_custkey", "o_totalprice"),
        Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        "o_custkey", "c_custkey", factor = 8)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        Det.dsumRound(col("o_totalprice"), 2).as("revenue"))
      .orderBy("c_nationkey")
  }

  /** Year-over-year revenue growth per nation — the trend report layered
    * on the audit rollups (lag-over-aggregate, the one window shape the
    * core set lacked). The window runs on the AGGREGATED (nation, year)
    * set — ≤ |nations| × |years| rows regardless of fact size — so the
    * per-nation partitioning is safe at any scale; the heavy lifting is
    * the partial-agg groupBy underneath. Growth is derived from the
    * already-rounded yearly revenues (identical doubles on both engines),
    * rounded once more at the output edge. */
  val qYearlyGrowth: Q = Q.sql(
    "q_yearly_growth",
    s"""WITH y AS (
      |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    count(*) AS n_orders,
      |    ${Det.dsumRoundSql("o_totalprice", 2)} AS revenue
      |  FROM orders, customer, nation
      |  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT n_name, yr, n_orders, revenue,
      |    lag(revenue) OVER (PARTITION BY n_name ORDER BY yr) AS prev_revenue
      |  FROM y)
      |SELECT n_name, yr, n_orders, revenue, prev_revenue,
      |  round(100 * (revenue - prev_revenue) / prev_revenue, 2) AS growth_pct
      |FROM g ORDER BY n_name, yr""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsumRound(col("o_totalprice"), 2).as("revenue"))
      .withColumn("prev_revenue",
        lag(col("revenue"), 1).over(Window.partitionBy("n_name").orderBy("yr")))
      .withColumn("growth_pct",
        round(lit(100) * (col("revenue") - col("prev_revenue")) / col("prev_revenue"), 2))
      .select("n_name", "yr", "n_orders", "revenue", "prev_revenue", "growth_pct")
      .orderBy("n_name", "yr")
  }

  /** TPC-H Q8 flavor: each nation's revenue share within its region per
    * year — the market-share report. The share window runs on the
    * AGGREGATED (region, nation, year) set (≤ |nations| × |years| rows at
    * any fact size); the heavy join tree underneath shuffles once per
    * big-big edge with the two bounded dims broadcast. Shares divide the
    * already-rounded group revenues with the region-year total summed as
    * exact DECIMAL (order-free), rounded once at the output edge. */
  val qMarketShare: Q = Q.sql(
    "q_market_share",
    s"""WITH base AS (
      |  SELECT r_name AS region, n_name AS nation,
      |    CAST(year(o_orderdate) AS INT) AS yr,
      |    l_extendedprice * (1 - l_discount) AS rev
      |  $duckNationSales
      |  JOIN region ON n_regionkey = r_regionkey),
      |g AS (SELECT region, nation, yr, ${Det.dsumRoundSql("rev", 2)} AS revenue
      |      FROM base GROUP BY region, nation, yr)
      |SELECT region, nation, yr, revenue,
      |  round(revenue / CAST(sum(CAST(revenue AS DECIMAL(28,2)))
      |    OVER (PARTITION BY region, yr) AS DOUBLE), 6) AS share
      |FROM g ORDER BY region, yr, nation""".stripMargin) { (s, d) =>
    val base = nationSales(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        year(col("o_orderdate")).cast("int").as("yr"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val w = Window.partitionBy("region", "yr")
    base.groupBy("region", "nation", "yr")
      .agg(Det.dsumRound(col("rev"), 2).as("revenue"))
      .withColumn("share",
        round(col("revenue")
          / sum(col("revenue").cast("decimal(28,2)")).over(w).cast("double"), 6))
      .orderBy("region", "yr", "nation")
  }

  /** TPC-H Q7 flavor (volume shipping): cross-nation trade lanes — revenue
    * per (supplier nation → customer nation, ship year), exporters only
    * (supp ≠ cust nation). The join topology no other relational op here
    * exercises: the nation dim enters TWICE through different paths
    * (lineitem→supplier→nation vs orders→customer→nation), so the two
    * broadcasts must stay independent — a naive shared-dim rewrite would
    * corrupt the lane key.
    *
    * Scale shape: lineitem⨝orders shuffles on orderkey (the one big
    * exchange), customer un-hinted (SF-scaling, AQE decides), supplier
    * and both nation copies broadcast (bounded dims per the policy
    * header); the lane aggregate is ≤ 25×24×|years| rows. */
  val qTradeLanes: Q = Q.sql(
    "q_trade_lanes",
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS INT) AS l_year,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("nk_supp"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("nk_cust"), col("n_name").as("cust_nation"))
    li(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("nk_supp"))
      .join(broadcast(n2), col("c_nationkey") === col("nk_cust"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .select(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(Det.dsumRound(col("rev"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q14 flavor (promotion effect): per ship month, the share of
    * revenue coming from PROMO-type parts. Conditional aggregation — the
    * promo split rides the SAME partial aggregate as the total (one scan,
    * one shuffle of ≤ |months| rows), never a second pass or a self-join.
    * part is sf-scaling, so the join stays un-hinted per the policy
    * header; pct divides the two already-rounded group sums. */
  val qPromoShare: Q = Q.sql(
    "q_promo_share",
    s"""SELECT CAST(year(l_shipdate) AS INT) AS yr,
      |  CAST(month(l_shipdate) AS INT) AS mo,
      |  count(*) AS n_items,
      |  ${Det.dsumRoundSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 2)} AS promo_revenue,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
      |  round(100 * ${Det.dsumRoundSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 2)}
      |    / ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)}, 4) AS promo_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin) { (s, d) =>
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val promoRev = when(col("p_type") === "PROMO", rev).otherwise(lit(0))
    li(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("int").as("yr"),
        month(col("l_shipdate")).cast("int").as("mo"))
      .agg(count(lit(1)).as("n_items"),
        Det.dsumRound(promoRev, 2).as("promo_revenue"),
        Det.dsumRound(rev, 2).as("revenue"))
      .withColumn("promo_pct",
        round(lit(100) * col("promo_revenue") / col("revenue"), 4))
      .orderBy("yr", "mo")
  }

  /** TPC-H Q17 flavor (small-quantity revenue): per-part 20%-of-average
    * quantity thresholds, then the yearly revenue locked in below-threshold
    * line items, rolled up per brand. The aggregate-then-rejoin shape: the
    * threshold side collapses lineitem to |parts| rows FIRST, and the
    * rejoin runs partkey-to-partkey — both sides shuffle on l_partkey, so
    * AQE can reuse/align the exchanges; nothing ever joins the raw fact
    * table to itself row-to-row. The threshold average divides an exact
    * decimal sum by the group count (order-free, identical cross-engine),
    * making the `<` cut bit-stable. */
  val qSmallQuantity: Q = Q.sql(
    "q_small_quantity",
    s"""WITH pa AS (
      |  SELECT l_partkey AS pk,
      |    0.2 * ${Det.dsumSql("l_quantity")} / count(*) AS qty_thresh
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand, count(*) AS n_small,
      |  round(${Det.dsumSql("l_extendedprice")} / 7, 2) AS avg_yearly
      |FROM lineitem
      |JOIN pa ON l_partkey = pk
      |JOIN part ON p_partkey = l_partkey
      |WHERE l_quantity < qty_thresh
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
    val thresh = li(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg((lit(0.2) * Det.dsum(col("l_quantity")) / count(lit(1)))
        .as("qty_thresh"))
    li(s, d)
      .join(thresh, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        round(Det.dsum(col("l_extendedprice")) / 7, 2).as("avg_yearly"))
      .orderBy("p_brand")
  }

  /** TPC-H Q19 flavor (disjunctive predicates): OR-of-ANDs over columns of
    * BOTH join sides — the pushdown stress case. Catalyst factors the
    * common per-side conjuncts out of the disjunction, so the part scan
    * receives the brand IN-list (+ size ceiling) and the lineitem scan the
    * overall quantity envelope as PushedFilters (PlanShapeSpec pin); the
    * full three-arm predicate then re-applies post-join. At 100 TB that
    * factoring is the difference between scanning three brands' worth of
    * parts and scanning all of them. */
  val qDisjunctive: Q = Q.sql(
    "q_disjunctive",
    s"""SELECT p_brand, count(*) AS n_items,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
      |       AND l_quantity BETWEEN 20 AND 40)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
    val arm1 = col("p_brand") === "Brand#5" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 15)
    val arm2 = col("p_brand") === "Brand#14" &&
      col("p_size").between(1, 25) && col("l_quantity").between(10, 30)
    val arm3 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 35) && col("l_quantity").between(20, 40)
    li(s, d)
      .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
      .filter(arm1 || arm2 || arm3)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"))
      .orderBy("p_brand")
  }

  /** CUBE over (order year, priority): all four aggregation strata — the
    * cell grid, per-year and per-priority margins, and the grand total —
    * from ONE pass with partial aggregation (Expand feeds each input row
    * to the 4 grouping sets before the shuffle; the exchange still
    * carries only ≤ 4×|yr|×|pri| aggregated rows). Explicit grouping()
    * flags rather than NULL-sniffing (a NULL data value and a margin row
    * are distinguishable), and the output order keys on the flags first
    * so NULL-ordering differences between engines can never matter: a
    * nulled-out column is constant within its stratum. */
  val qCubeVolume: Q = Q.sql(
    "q_cube_volume",
    s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  o_orderpriority AS priority,
      |  CAST(GROUPING(CAST(year(o_orderdate) AS INT)) AS INT) AS g_yr,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
      |  count(*) AS n_orders,
      |  ${Det.dsumRoundSql("o_totalprice", 2)} AS revenue
      |FROM orders
      |GROUP BY CUBE(CAST(year(o_orderdate) AS INT), o_orderpriority)
      |ORDER BY g_yr, g_pri, yr, priority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).cast("int").as("yr"),
        col("o_orderpriority").as("priority"), col("o_totalprice"))
      .cube(col("yr"), col("priority"))
      .agg(
        grouping(col("yr")).cast("int").as("g_yr"),
        grouping(col("priority")).cast("int").as("g_pri"),
        count(lit(1)).as("n_orders"),
        Det.dsumRound(col("o_totalprice"), 2).as("revenue"))
      .select("yr", "priority", "g_yr", "g_pri", "n_orders", "revenue")
      .orderBy("g_yr", "g_pri", "yr", "priority")
  }

  /** TPC-H Q15 flavor (top supplier): supplier(s) whose Q1-1996 revenue
    * equals the maximum — the argmax-over-aggregate shape. No global
    * sort/rank anywhere: the per-supplier aggregate reduces to a 1-row
    * max that broadcasts back over the same aggregate (a window-rank
    * formulation would sort |suppliers| in one partition; a top-N limit
    * would silently drop ties, which Q15 must keep). Revenue compared at
    * the already-rounded DECIMAL-exact value — equality against the max
    * is bit-stable, the classic float-argmax trap avoided. */
  val qTopSupplier: Q = Q.sql(
    "q_top_supplier",
    s"""WITH r AS (
      |  SELECT l_suppkey,
      |    ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1),
      |m AS (SELECT max(total_revenue) AS top_rev FROM r)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM r JOIN supplier ON s_suppkey = l_suppkey
      |CROSS JOIN m WHERE total_revenue = top_rev
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val r = li(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
      .groupBy("l_suppkey")
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
        .as("total_revenue"))
    val m = r.agg(max("total_revenue").as("top_rev"))
    r.join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(m))
      .filter(col("total_revenue") === col("top_rev"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q10 flavor (returned-item report): revenue lost to returns per
    * customer over one quarter, top 20 accounts. The quarter predicate is
    * pushed to the orders scan and `l_returnflag = 'R'` to the lineitem
    * scan BEFORE their one big orderkey shuffle; the |customers| aggregate
    * then joins customer un-hinted (sf-scaling — AQE decides) and nation
    * broadcast. Top-20 is `orderBy.limit` = TakeOrderedAndProject: each
    * partition keeps 20 rows and the driver merges |partitions|×20 — never
    * a global sort. Ties broken by c_custkey so the cut is deterministic;
    * revenue compared at the already-rounded DECIMAL-exact value. */
  val qReturnedCustomers: Q = Q.sql(
    "q_returned_customers",
    s"""SELECT c_custkey, c_name, n_name,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation ON n_nationkey = c_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1995-10-01 00:00:00")) &&
        col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
    li(s, d).filter(col("l_returnflag") === "R")
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
      .select("c_custkey", "c_name", "n_name", "revenue", "n_items")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q9 flavor (product-line profit): per (supplier nation, order
    * year) profit on widget-family parts, with supply cost synthesized as
    * 80% of `p_retailprice` (the driver schema carries no partsupp table;
    * the factor is fixed and documented so both engines derive identical
    * amounts). The `p_name LIKE '%widget%'` predicate is pushed to the
    * part scan — at 100 TB that prunes the part⨝lineitem probe to the
    * matching family before the fact shuffle; orders joins on the orderkey
    * exchange only to supply the year; supplier/nation broadcast. The
    * profit expression rides ONE decimal-exact sum: each term is cast at
    * scale 6 where the product is exact, so engine summation order can
    * never move the rounded result. */
  val qNationProfit: Q = Q.sql(
    "q_nation_profit",
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS yr,
      |  ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount) - 0.8 * p_retailprice * l_quantity", 2)} AS profit,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY n_name, yr
      |ORDER BY nation, yr""".stripMargin) { (s, d) =>
    val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
      lit(0.8) * col("p_retailprice") * col("l_quantity")
    li(s, d)
      .join(Tables.part(s, d).filter(col("p_name").like("%widget%")),
        col("p_partkey") === col("l_partkey"))
      .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("int").as("yr"))
      .agg(Det.dsumRound(amount, 2).as("profit"),
        count(lit(1)).as("n_items"))
      .orderBy("nation", "yr")
  }

  /** TPC-H Q21 flavor (waiting suppliers): suppliers who were the ONLY
    * late shipper in a multi-supplier order — the blame report Q21 writes
    * with a correlated EXISTS + NOT EXISTS pair. Re-expressed as
    * aggregate-then-filter: ONE conditional aggregate per order computes
    * the distinct-supplier count, the distinct-LATE-supplier count and
    * (when unique) that supplier's identity, so the double correlated
    * subquery becomes two filters on an |orders|-bounded frame — no
    * self-join of lineitem against itself, no EXISTS re-scan. "Late" =
    * shipped >90 days after order date (the schema carries no
    * commit/receipt dates; the fixed horizon is documented so both
    * engines derive identical verdicts).
    *
    * Scale: lineitem⨝orders is the one big orderkey exchange (order-date
    * window pushed to the orders scan first); everything after runs on
    * per-order then per-supplier aggregates; supplier broadcast at the
    * bounded-dim policy. */
  val qSupplierWait: Q = Q.sql(
    "q_supplier_wait",
    """WITH o AS (SELECT l_orderkey, l_suppkey,
      |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |p AS (SELECT l_orderkey,
      |        count(DISTINCT l_suppkey) AS n_supp,
      |        count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp,
      |        max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
      |      FROM o GROUP BY 1),
      |w AS (SELECT late_supp AS s_key, count(*) AS numwait
      |      FROM p WHERE n_supp >= 2 AND n_late_supp = 1 GROUP BY 1)
      |SELECT s.s_suppkey, s.s_name, w.numwait
      |FROM w JOIN supplier s ON s.s_suppkey = w.s_key
      |ORDER BY numwait DESC, s_suppkey""".stripMargin) { (s, d) =>
    val late = when(
      col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1)
      .otherwise(0)
    val perOrder = li(s, d)
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), late.as("late"))
      .groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late") === 1, col("l_suppkey"))).as("n_late_supp"),
        max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
    perOrder
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .groupBy(col("late_supp").as("s_key"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("s_key"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  /** Inter-order purchase cadence per market segment: consecutive-order
    * day gaps per customer (lag window keyed on the high-cardinality
    * custkey — never a low-cardinality partition over the fact table),
    * pre-aggregated per customer, THEN joined to the customer dim on the
    * same custkey exchange family, and rolled up to the ≤ 5-row segment
    * report. Integer day sums keep every aggregate exact; the single
    * ratio derives at the output edge. */
  val qOrderGap: Q = Q.sql(
    "q_order_gap",
    """WITH g AS (
      |  SELECT o_custkey,
      |    date_diff('day',
      |      lag(CAST(o_orderdate AS DATE)) OVER (
      |        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |      CAST(o_orderdate AS DATE)) AS gap
      |  FROM orders),
      |cg AS (SELECT o_custkey, count(*) AS n_gaps,
      |         CAST(sum(gap) AS BIGINT) AS sum_gap, max(gap) AS max_gap
      |       FROM g WHERE gap IS NOT NULL GROUP BY 1)
      |SELECT c_mktsegment AS segment, count(*) AS n_customers,
      |  CAST(sum(n_gaps) AS BIGINT) AS n_gaps,
      |  round(1.0 * sum(sum_gap) / sum(n_gaps), 2) AS avg_gap_days,
      |  CAST(max(max_gap) AS BIGINT) AS max_gap_days
      |FROM cg JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY segment""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("gap", datediff(col("od"), lag(col("od"), 1).over(w)))
      .filter(col("gap").isNotNull)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sum_gap"),
        max("gap").as("max_gap"))
    gaps.join(Tables.customer(s, d),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum("n_gaps").as("n_gaps"),
        round(lit(1.0) * sum("sum_gap") / sum("n_gaps"), 2).as("avg_gap_days"),
        max("max_gap").cast("long").as("max_gap_days"))
      .orderBy("segment")
  }

  /** 7-day moving average of daily revenue per return flag — the RANGE
    * frame (value-based, gap-aware: a day with no shipments genuinely
    * thins the trailing window) where every other windowed op here uses
    * ROWS. Scale shape: the fact table collapses to the ≤ |flags|×|days|
    * daily aggregate FIRST (one partial-agg shuffle); the moving window
    * runs on that bounded frame only. The frame key is an integer day
    * number so both engines share one RANGE semantics; the windowed sum
    * is DECIMAL (DuckDB computes moving sums via segment trees — a double
    * sum would re-associate and drift). */
  val qRevenueMa7: Q = Q.sql(
    "q_revenue_ma7",
    s"""WITH dr AS (
       |  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
       |    CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
       |      AS BIGINT) AS day_num,
       |    ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
       |  FROM lineitem GROUP BY 1, 2, 3),
       |w2 AS (
       |  SELECT flag, day, revenue,
       |    CAST(sum(CAST(revenue AS DECIMAL(18,2))) OVER w * 100 AS BIGINT)
       |      AS cents,
       |    count(*) OVER w AS n
       |  FROM dr
       |  WINDOW w AS (PARTITION BY flag ORDER BY day_num
       |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
       |SELECT flag, strftime(day, '%Y-%m-%d') AS day, revenue,
       |  CAST((2 * cents + n) // (2 * n) AS DOUBLE) / 100 AS ma7,
       |  n AS n_days_in_window
       |FROM w2 ORDER BY flag, day""".stripMargin) { (s, d) =>
    val dr = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        to_date(col("l_shipdate")).as("day"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .groupBy("flag", "day")
      .agg(Det.dsumRound(col("rev"), 2).as("revenue"))
      .withColumn("day_num",
        datediff(col("day"), to_date(lit("1992-01-01"))).cast("long"))
    val w = Window.partitionBy("flag").orderBy("day_num").rangeBetween(-6, 0)
    // half-up mean in integer cents — (2c + n) div 2n is floor((c + n/2)/n)
    // for positive sums, so neither engine ever rounds a double near a tie
    dr.select(col("flag"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("revenue"),
        (sum(col("revenue").cast("decimal(18,2)")).over(w) * 100)
          .cast("long").as("cents"),
        count(lit(1)).over(w).as("n"))
      .select(col("flag"), col("day"), col("revenue"),
        (expr("(2 * cents + n) div (2 * n)").cast("double") / 100).as("ma7"),
        col("n").as("n_days_in_window"))
      .orderBy("flag", "day")
  }

  /** TPC-H Q12 flavor: shipping-priority split — per (linestatus,
    * returnflag) cell, how many shipped lines belonged to critical
    * (URGENT/HIGH) orders vs the rest, over a two-year ship window. The
    * operational question is SLA triage: did critical orders actually
    * move through the F(inished) pipeline, or are they stuck in O(pen)?
    *
    * Scale shape: the date range is pushed into the lineitem scan
    * (PushedFilters) and only (orderkey, status, flag) survive pruning;
    * orders arrives un-hinted (sf-scaling — AQE size-gates the build
    * side) carrying just (orderkey, priority); the conditional counts
    * ride ONE partial aggregate bounded at |status|×|flag| = 6 cells, so
    * the post-join shuffle carries 6 rows per map partition at any SF. */
  val qShipPriority: Q = Q.sql(
    "q_ship_priority",
    """SELECT l_linestatus, l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_lines,
      |  round(1.0 * sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) / count(*), 4) AS high_share
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_linestatus", "l_returnflag")
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("l_linestatus", "l_returnflag")
      .agg(
        sum(when(high, 1).otherwise(0)).as("high_lines"),
        sum(when(high, 0).otherwise(1)).as("low_lines"),
        round(lit(1.0) * sum(when(high, 1).otherwise(0)) / count(lit(1)), 4)
          .as("high_share"))
      .orderBy("l_linestatus", "l_returnflag")
  }

  /** Join-skew diagnostic — the probe that decides WHEN q_skew_salted's
    * machinery is worth its extra exchange: per top-10 heaviest join key
    * (here l_partkey, the fact side of the part join), the key's row
    * count, its multiple of the average key load, and the recommended
    * salt factor ceil(max/avg) a salted join would need to level the
    * heaviest reduce partition. At 100 TB this report runs BEFORE the
    * join, on the key histogram alone — deciding between plain shuffle,
    * AQE skew handling, and explicit salting from data, not folklore.
    *
    * Scale: the histogram is ONE partial-agg groupBy bounded at |keys|;
    * the summary is a 1-row aggregate of it; top-10 is a TakeOrdered
    * heap (orderBy+limit — NEVER a row_number over the full key set in
    * one partition); the rank window runs on the 10 surviving rows. */
  val qSkewProbe: Q = Q.sql(
    "q_skew_probe",
    """WITH h AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS key_rows
      |       FROM lineitem GROUP BY 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |        CAST(sum(key_rows) AS BIGINT) AS n_rows,
      |        CAST(max(key_rows) AS BIGINT) AS max_rows FROM h),
      |top AS (SELECT key, key_rows FROM h
      |        ORDER BY key_rows DESC, key LIMIT 10)
      |SELECT row_number() OVER (ORDER BY key_rows DESC, key) AS rnk,
      |  key, key_rows, n_keys, n_rows,
      |  round(1.0 * n_rows / n_keys, 2) AS avg_rows,
      |  round(1.0 * key_rows * n_keys / n_rows, 2) AS skew_vs_avg,
      |  CAST(ceil(1.0 * max_rows * n_keys / n_rows) AS BIGINT) AS rec_salt
      |FROM top CROSS JOIN s ORDER BY rnk""".stripMargin) { (s, d) =>
    val h = li(s, d).groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).cast("long").as("key_rows"))
    val stats = h.agg(count(lit(1)).cast("long").as("n_keys"),
      sum("key_rows").cast("long").as("n_rows"),
      max("key_rows").cast("long").as("max_rows"))
    val top = h.orderBy(col("key_rows").desc, col("key")).limit(10)
    // the rank window sees only the 10 TakeOrdered survivors
    val w = Window.orderBy(col("key_rows").desc, col("key"))
    top.crossJoin(broadcast(stats))
      .select(row_number().over(w).cast("long").as("rnk"),
        col("key"), col("key_rows"), col("n_keys"), col("n_rows"),
        round(lit(1.0) * col("n_rows") / col("n_keys"), 2).as("avg_rows"),
        round(lit(1.0) * col("key_rows") * col("n_keys") / col("n_rows"), 2)
          .as("skew_vs_avg"),
        ceil(lit(1.0) * col("max_rows") * col("n_keys") / col("n_rows"))
          .cast("long").as("rec_salt"))
      .orderBy("rnk")
  }

  /** Open-order backlog time series (work-in-progress accounting): an
    * order is OPEN from its order month until the month its LAST line
    * ships; per month the report shows orders opened, orders fully
    * shipped, and the end-of-month backlog. The interval-accounting
    * shape none of the point-in-time aggregates give — a fulfillment
    * capacity dashboard reads backlog growth, not order volume.
    *
    * Scale: the interval set collapses to per-order (open, close) months
    * via one orderkey-partial-agg over lineitem joined to orders on the
    * SAME orderkey exchange; open/close events aggregate to two bounded
    * ≤ |months| frames, and the ±1 cumulative (the sweep-line trick —
    * never an explode of order×months) runs on the dense month grid.
    * The one unpartitioned window is over that bounded grid. */
  val qOrdersBacklog: Q = Q.sql(
    "q_orders_backlog",
    """WITH o AS (
      |  SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS m_open
      |  FROM orders),
      |f AS (
      |  SELECT l_orderkey, CAST(date_trunc('month', max(l_shipdate)) AS DATE) AS m_close
      |  FROM lineitem GROUP BY 1),
      |per AS (
      |  SELECT o.o_orderkey, o.m_open, coalesce(f.m_close, o.m_open) AS m_close
      |  FROM o LEFT JOIN f ON o.o_orderkey = f.l_orderkey),
      |b AS (SELECT min(m_open) AS m0, max(m_close) AS m1 FROM per),
      |months AS (
      |  SELECT CAST(unnest(generate_series(CAST(m0 AS TIMESTAMP),
      |    CAST(m1 AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE) AS m FROM b),
      |op AS (SELECT m_open AS m, count(*) AS opened FROM per GROUP BY 1),
      |cl AS (SELECT m_close AS m, count(*) AS closed FROM per GROUP BY 1),
      |g AS (
      |  SELECT months.m, CAST(coalesce(op.opened, 0) AS BIGINT) AS opened,
      |    CAST(coalesce(cl.closed, 0) AS BIGINT) AS closed
      |  FROM months LEFT JOIN op ON months.m = op.m
      |    LEFT JOIN cl ON months.m = cl.m)
      |SELECT strftime(m, '%Y-%m') AS month, opened, closed,
      |  CAST(sum(opened - closed) OVER (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog_eom
      |FROM g ORDER BY month""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), trunc(col("o_orderdate").cast("date"), "month").as("m_open"))
    val f = li(s, d)
      .groupBy(col("l_orderkey"))
      .agg(trunc(max(col("l_shipdate")).cast("date"), "month").as("m_close"))
    val per = o.join(f, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("m_open"), coalesce(col("m_close"), col("m_open")).as("m_close"))
    val months = per.agg(min("m_open").as("m0"), max("m_close").as("m1"))
      .select(explode(expr("sequence(m0, m1, interval 1 month)")).as("m"))
    val op = per.groupBy(col("m_open").as("m")).agg(count(lit(1)).as("opened"))
    val cl = per.groupBy(col("m_close").as("m")).agg(count(lit(1)).as("closed"))
    val g = months.join(op, Seq("m"), "left").join(cl, Seq("m"), "left")
      .select(col("m"), coalesce(col("opened"), lit(0L)).cast("long").as("opened"),
        coalesce(col("closed"), lit(0L)).cast("long").as("closed"))
    val w = Window.orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.select(date_format(col("m"), "yyyy-MM").as("month"), col("opened"), col("closed"),
      sum(col("opened") - col("closed")).over(w).cast("long").as("backlog_eom"))
      .orderBy("month")
  }

  /** Supplier market concentration per nation: Herfindahl-Hirschman index
    * over revenue shares, top-supplier share, and the effective supplier
    * count 1/HHI — the supply-risk readout (a nation at HHI 0.3 loses a
    * third of its capacity when one supplier exits; the raw supplier
    * count hides that). q_skew_probe measures concentration of JOIN KEYS
    * for the shuffle planner; this measures concentration of MONEY for
    * the business reader — same math, different plane.
    *
    * Determinism: per-supplier revenue is the exact-DECIMAL 2-decimal
    * sum; shares rounded once to 6; HHI = Σ share² with products
    * re-rounded to 6 and summed as DECIMAL (order-free), rounded once
    * to 4; eff_suppliers derives from the published HHI.
    *
    * Scale: one fact scan partial-aggregates to the ≤ |suppliers| frame
    * (supplier/nation dims broadcast — bounded per the size-gate
    * policy); nation totals are a ≤ |nations| aggregate broadcast back;
    * output 25 rows. */
  val qSupplierHhi: Q = Q.sql(
    "q_supplier_hhi",
    s"""WITH sr AS (
      |  SELECT n_name AS nation, s_suppkey,
      |    ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS rev
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |nt AS (
      |  SELECT nation, ${Det.dsumRoundSql("rev", 2)} AS nation_rev,
      |    CAST(count(*) AS BIGINT) AS n_suppliers
      |  FROM sr GROUP BY 1),
      |sh AS (
      |  SELECT sr.nation, round(rev / nation_rev, 6) AS share
      |  FROM sr JOIN nt ON sr.nation = nt.nation),
      |agg AS (
      |  SELECT nation,
      |    round(CAST(sum(CAST(round(share * share, 6) AS DECIMAL(18, 6)))
      |      AS DOUBLE), 4) AS hhi,
      |    round(max(share), 4) AS top_share
      |  FROM sh GROUP BY 1)
      |SELECT agg.nation, n_suppliers, nation_rev AS revenue, hhi, top_share,
      |  round(1.0 / hhi, 2) AS eff_suppliers
      |FROM agg JOIN nt ON agg.nation = nt.nation
      |ORDER BY agg.nation""".stripMargin) { (s, d) =>
    val sr = li(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("s_suppkey"))
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
        .as("rev"))
    val nt = sr.groupBy("nation")
      .agg(Det.dsumRound(col("rev"), 2).as("nation_rev"),
        count(lit(1)).cast("long").as("n_suppliers"))
    val agg = sr.join(broadcast(nt), Seq("nation"))
      .withColumn("share", round(col("rev") / col("nation_rev"), 6))
      .groupBy("nation")
      .agg(round(sum(expr("CAST(round(share * share, 6) AS DECIMAL(18, 6))"))
          .cast("double"), 4).as("hhi"),
        round(max("share"), 4).as("top_share"))
    agg.join(broadcast(nt), Seq("nation"))
      .select(col("nation"), col("n_suppliers"), col("nation_rev").as("revenue"),
        col("hhi"), col("top_share"),
        round(lit(1.0) / col("hhi"), 2).as("eff_suppliers"))
      .orderBy("nation")
  }

  /** Brand league table with rank migration: per (year, brand), revenue
    * rank within the year plus the rank shift vs the previous year and a
    * mover flag (|shift| ≥ 5 places) — the risers-and-fallers readout
    * (q_yearly_growth gives the growth NUMBER per nation; rank migration
    * is how merchandising actually reads a 25-brand market: position,
    * not percent). Rank shift only publishes across ADJACENT years — a
    * brand absent a year restarts with NULL shift, no fictional
    * comparison across a gap.
    *
    * Scale: one fact scan partial-aggregates to the ≤ |brands|×|years|
    * frame (part joined UN-HINTED per the size-gate policy — it scales
    * with SF); both windows (within-year rank, per-brand lag) run on
    * that bounded aggregate; ranking is on the already-rounded exact
    * DECIMAL revenue with brand tiebreak. */
  val qBrandRankShift: Q = Q.sql(
    "q_brand_rank_shift",
    s"""WITH br AS (
      |  SELECT CAST(year(l_shipdate) AS INT) AS yr, p_brand AS brand,
      |    ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT yr, brand, revenue,
      |    CAST(row_number() OVER (PARTITION BY yr
      |      ORDER BY revenue DESC, brand) AS INT) AS rnk
      |  FROM br),
      |sh AS (
      |  SELECT yr, brand, revenue, rnk,
      |    lag(rnk) OVER w AS prev_rnk, lag(yr) OVER w AS prev_yr
      |  FROM rk WINDOW w AS (PARTITION BY brand ORDER BY yr))
      |SELECT yr, brand, revenue, rnk,
      |  CASE WHEN prev_yr = yr - 1 THEN prev_rnk END AS prev_rnk,
      |  CASE WHEN prev_yr = yr - 1 THEN prev_rnk - rnk END AS rank_delta,
      |  CASE WHEN prev_yr = yr - 1 AND abs(prev_rnk - rnk) >= 5
      |    THEN 1 ELSE 0 END AS mover
      |FROM sh ORDER BY yr, rnk""".stripMargin) { (s, d) =>
    val br = li(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("int").as("yr"),
        col("p_brand").as("brand"))
      .agg(Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
        .as("revenue"))
    val rk = br.withColumn("rnk",
      row_number().over(Window.partitionBy("yr")
        .orderBy(col("revenue").desc, col("brand"))).cast("int"))
    val byBrand = Window.partitionBy("brand").orderBy("yr")
    rk.withColumn("prev_rnk", lag("rnk", 1).over(byBrand))
      .withColumn("prev_yr", lag("yr", 1).over(byBrand))
      .select(col("yr"), col("brand"), col("revenue"), col("rnk"),
        when(col("prev_yr") === col("yr") - 1, col("prev_rnk")).as("prev_rnk"),
        when(col("prev_yr") === col("yr") - 1, col("prev_rnk") - col("rnk"))
          .as("rank_delta"),
        when(col("prev_yr") === col("yr") - 1
          && abs(col("prev_rnk") - col("rnk")) >= 5, 1).otherwise(0).as("mover"))
      .orderBy("yr", "rnk")
  }

  /** Customer spend-band migration matrix: per adjacent year pair, how
    * many customers moved between the low/mid/high yearly-spend bands —
    * including churn (band → none) and (re)activation (none → band) —
    * the lifecycle flow a single-year segmentation can't see (two equal
    * snapshots can hide a full churn-and-replace). Bands are FIXED
    * revenue cutoffs (300k/650k, straddling this corpus's quartiles):
    * scale-free, engine-exact, and stable across years — an empirical
    * per-year tercile would re-define the segments every year and read
    * as migration when only the boundary moved.
    *
    * Scale: (customer, year) revenue is one orderkey-side partial agg;
    * the adjacent-year alignment is a full-outer equi-join of that frame
    * with itself on (customer, year+1) — same exchange family; the
    * matrix is ≤ |years|×4×4 rows. No window touches a per-customer
    * row. */
  val qCustomerMigration: Q = Q.sql(
    "q_customer_migration",
    s"""WITH cy AS (
      |  SELECT o_custkey AS cust, CAST(year(o_orderdate) AS INT) AS yr,
      |    ${Det.dsumRoundSql("o_totalprice", 2)} AS rev
      |  FROM orders GROUP BY 1, 2),
      |seg AS (
      |  SELECT cust, yr,
      |    CASE WHEN rev < 300000 THEN 'low'
      |         WHEN rev < 650000 THEN 'mid' ELSE 'high' END AS band
      |  FROM cy),
      |b AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM seg),
      |m AS (
      |  SELECT coalesce(a.yr, nx.yr - 1) AS yr,
      |    coalesce(a.band, 'none') AS band_from,
      |    coalesce(nx.band, 'none') AS band_to,
      |    CAST(count(*) AS BIGINT) AS n_customers
      |  FROM seg a
      |  FULL OUTER JOIN (SELECT cust, yr, band FROM seg) nx
      |    ON a.cust = nx.cust AND nx.yr = a.yr + 1
      |  CROSS JOIN b
      |  WHERE coalesce(a.yr, nx.yr - 1) >= y0
      |    AND coalesce(a.yr, nx.yr - 1) < y1
      |  GROUP BY 1, 2, 3)
      |SELECT yr, band_from, band_to, n_customers
      |FROM m ORDER BY yr, band_from, band_to""".stripMargin) { (s, d) =>
    val seg = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("cust"),
        year(col("o_orderdate")).cast("int").as("yr"))
      .agg(Det.dsumRound(col("o_totalprice"), 2).as("rev"))
      .withColumn("band",
        when(col("rev") < 300000, "low")
          .when(col("rev") < 650000, "mid").otherwise("high"))
      .select("cust", "yr", "band")
    val b = seg.agg(min("yr").as("y0"), max("yr").as("y1"))
    val nx = seg.select(col("cust").as("ncust"), col("yr").as("nyr"),
      col("band").as("nband"))
    seg.join(nx, col("cust") === col("ncust") && col("nyr") === col("yr") + 1,
        "full_outer")
      .crossJoin(broadcast(b))
      .withColumn("eff_yr", coalesce(col("yr"), col("nyr") - 1))
      .filter(col("eff_yr") >= col("y0") && col("eff_yr") < col("y1"))
      .groupBy(col("eff_yr").as("yr"),
        coalesce(col("band"), lit("none")).as("band_from"),
        coalesce(col("nband"), lit("none")).as("band_to"))
      .agg(count(lit(1)).cast("long").as("n_customers"))
      .orderBy("yr", "band_from", "band_to")
  }

  /** Promotion-effectiveness table: per discount level, line volume, mean
    * quantity, revenue — and the mean-quantity LIFT over the
    * zero-discount baseline, the first-order "do discounts move volume"
    * answer (q6_forecast prices a discount change; this measures the
    * demand response the pricing decision assumes). Discount is a small
    * discrete grid in this schema, so the table is exact, not banded.
    *
    * Determinism: quantity/revenue ride exact DECIMAL sums; mean qty is
    * a rounded quotient of the exact sum by the integer count; lift
    * divides two already-published means. Scale: ONE fact scan →
    * ≤ |discount levels| partial agg; the baseline row is a 1-row
    * broadcast back onto that bounded frame. */
  val qDiscountImpact: Q = Q.sql(
    "q_discount_impact",
    s"""WITH g AS (
      |  SELECT round(l_discount, 2) AS discount,
      |    CAST(count(*) AS BIGINT) AS n_lines,
      |    ${Det.dsumSql("l_quantity")} AS sum_qty,
      |    ${Det.dsumRoundSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
      |  FROM lineitem GROUP BY 1),
      |x AS (SELECT discount, n_lines, revenue,
      |        round(sum_qty / n_lines, 4) AS avg_qty
      |      FROM g),
      |base AS (SELECT avg_qty AS base_qty FROM x WHERE discount = 0.0)
      |SELECT discount, n_lines, avg_qty, revenue,
      |  round(avg_qty / base_qty, 4) AS qty_lift
      |FROM x CROSS JOIN base ORDER BY discount""".stripMargin) { (s, d) =>
    val g = li(s, d)
      .groupBy(round(col("l_discount"), 2).as("discount"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"))
      .withColumn("avg_qty", round(col("sum_qty") / col("n_lines"), 4))
    val base = g.filter(col("discount") === 0.0)
      .select(col("avg_qty").as("base_qty"))
    g.crossJoin(broadcast(base))
      .select(col("discount"), col("n_lines"), col("avg_qty"), col("revenue"),
        round(col("avg_qty") / col("base_qty"), 4).as("qty_lift"))
      .orderBy("discount")
  }

  /** TPC-H Q2 flavor (argmin join): cheapest supplier per part over a
    * bounded attribute slice. The part×supplier price table comes from one
    * partial-agg pass over lineitem (min is order-independent — no Det
    * needed); the per-part argmin is a window PARTITIONED BY partkey, so
    * parallelism grows with |parts| at any scale. Supplier/nation are
    * deployment-bounded → broadcast; part is SF-scaling → un-hinted. */
  val qMinPriceSupplier: Q = Q.sql(
    "q_min_price_supplier",
    """WITH pp AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(l_extendedprice * (1 - l_discount) / l_quantity) AS unit_price
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT l_partkey, l_suppkey, unit_price,
      |        row_number() OVER (PARTITION BY l_partkey
      |                           ORDER BY unit_price, l_suppkey) AS rn
      |      FROM pp)
      |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
      |  round(r.unit_price, 4) AS min_unit_price
      |FROM r
      |JOIN part p ON p.p_partkey = r.l_partkey
      |JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE r.rn = 1 AND p.p_size = 15 AND p.p_type = 'PROMO'
      |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    // the attribute slice commutes with the per-part argmin, so apply it
    // BEFORE the fact aggregate: the shuffle carries only the slice's
    // (part, supplier) pairs instead of every pair in the fact table
    val slice = Tables.part(s, d)
      .filter(col("p_size") === 15 && col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_name"))
    val prices = li(s, d)
      .join(slice, col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") * (lit(1) - col("l_discount")) / col("l_quantity"))
        .as("unit_price"),
        first(col("p_name")).as("p_name"))
    val w = Window.partitionBy("l_partkey").orderBy(col("unit_price"), col("l_suppkey"))
    val best = prices.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("p_partkey", col("l_partkey"))
    best
      .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), round(col("unit_price"), 4).as("min_unit_price"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q16 flavor: distinct-supplier counts per part attribute group,
    * with a complaints-style exclusion. The part↔supplier relation is the
    * distinct (partkey, suppkey) projection of lineitem — a partial-agg
    * dedup, then a two-phase distinct count per bounded attribute group.
    * The excluded-supplier set (negative balance) is deployment-bounded →
    * broadcast LEFT ANTI. */
  val qPartSupplierStats: Q = Q.sql(
    "q_part_supplier_stats",
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (SELECT ps.l_partkey, ps.l_suppkey FROM ps
      |       WHERE ps.l_suppkey NOT IN
      |         (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
      |SELECT p.p_brand, p.p_type, p.p_size,
      |  CAST(count(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ok JOIN part p ON p.p_partkey = ok.l_partkey
      |WHERE p.p_brand <> 'Brand#9' AND p.p_type <> 'PROMO'
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, d) =>
    val pairs = li(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
    val excluded = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val ok = pairs.join(broadcast(excluded),
      col("l_suppkey") === col("s_suppkey"), "left_anti")
    ok.join(Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#9" && col("p_type") =!= "PROMO"),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 flavor (nested semi-join chain): suppliers who moved
    * meaningful volume of a themed part slice in 1996. Qualification is a
    * (suppkey, partkey) HAVING aggregate over the date-pruned fact scan
    * (filter reaches the parquet scan), rolled up per supplier; supplier/
    * nation resolve via broadcast at the bounded top. */
  val qPromoEligible: Q = Q.sql(
    "q_promo_eligible",
    s"""WITH q AS (
      |  SELECT l.l_suppkey, l.l_partkey, ${Det.dsumSql("l.l_quantity")} AS qty
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE p.p_name LIKE 'red%'
      |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY 1, 2 HAVING ${Det.dsumSql("l.l_quantity")} > 50),
      |e AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_parts,
      |        round(sum(qty), 2) AS total_qty
      |      FROM q GROUP BY 1)
      |SELECT s.s_name, n.n_name, e.n_parts, CAST(e.total_qty AS DOUBLE) AS total_qty
      |FROM e JOIN supplier s ON s.s_suppkey = e.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |ORDER BY s.s_name""".stripMargin) { (s, d) =>
    val themed = Tables.part(s, d).filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val qual = li(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      .join(themed, col("p_partkey") === col("l_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(Det.dsum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 50)
    val perSupp = qual.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("qty")), 2).cast("double").as("total_qty"))
    perSupp
      .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
      .select(col("s_name"), col("n_name"), col("n_parts"), col("total_qty"))
      .orderBy(col("s_name"))
  }

  /** Exact customer revenue deciles WITHOUT a global sort — the segment
    * table every lifecycle/marketing query starts from. The textbook
    * `ntile(10) OVER (ORDER BY revenue)` funnels every customer through
    * ONE window partition; here global ranks come from
    * [[Bands.exactRanks]] (shared with audit_value_quantiles) instead:
    * sketch-learned equi-depth buckets (B = shuffle-partitions knob) +
    * native binary search + bucket-local row_number + broadcast offsets —
    * bit-identical ranks, B-way parallelism. Decile = (rank·10) div n,
    * exact at any n. */
  val qCustomerDeciles: Q = Q.sql(
    "q_customer_deciles",
    s"""WITH r AS (SELECT o_custkey,
      |    ${Det.dsumRoundSql("o_totalprice", 2)} AS revenue
      |  FROM orders GROUP BY 1),
      |o AS (SELECT o_custkey, revenue,
      |        row_number() OVER (ORDER BY revenue, o_custkey) - 1 AS rn,
      |        count(*) OVER () AS n
      |      FROM r),
      |d AS (SELECT (rn * 10) // n AS dec0, revenue FROM o),
      |g AS (SELECT dec0, CAST(count(*) AS BIGINT) AS n_cust,
      |        min(revenue) AS min_rev, max(revenue) AS max_rev,
      |        CAST(sum(CAST(revenue AS DECIMAL(28,2))) AS DOUBLE) AS total_rev
      |      FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(CAST(revenue AS DECIMAL(28,2))) AS DOUBLE) AS grand
      |      FROM d)
      |SELECT CAST(dec0 + 1 AS INT) AS decile, n_cust, min_rev, max_rev,
      |  total_rev, round(total_rev / grand, 4) AS rev_share
      |FROM g CROSS JOIN t ORDER BY decile""".stripMargin) { (s, d) =>
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(Det.dsumRound(col("o_totalprice"), 2).as("revenue"))
    val ranked = Bands.exactRanks(rev, Nil, Seq("revenue", "o_custkey"))
      .withColumn("dec0", expr("(rn * 10) div n"))
    val g = ranked.groupBy("dec0")
      .agg(count(lit(1)).as("n_cust"),
        min("revenue").as("min_rev"), max("revenue").as("max_rev"),
        sum(col("revenue").cast("decimal(28,2)")).cast("double").as("total_rev"))
    val t = ranked.agg(
      sum(col("revenue").cast("decimal(28,2)")).cast("double").as("grand"))
    g.crossJoin(broadcast(t))
      .select((col("dec0") + 1).cast("int").as("decile"), col("n_cust"),
        col("min_rev"), col("max_rev"), col("total_rev"),
        round(col("total_rev") / col("grand"), 4).as("rev_share"))
      .orderBy("decile")
  }

  /** PageRank over the part co-purchase graph — the graph-analytics plane
    * (complements dedup_components' connected components and
    * emb_pca_power's power method): nodes are parts, edges weighted by
    * co-occurrence inside an order. Per-order line counts are bounded, so
    * the pair explosion is a constant factor of the fact scan, never
    * quadratic in the catalog; each of the 3 power iterations is one
    * edge⨝rank equi-join (shuffled on the edge key) + a partial agg —
    * the textbook distributed PR step. Neighbor sums ride DECIMAL(38,18)
    * so executor count can never move a rank; per-row arithmetic is
    * bit-identical on both engines. */
  /** Pareto skyline over parts (min retail price, max size) — the
    * dominance query class (Börzsönyi et al., ICDE 2001) the relational
    * block lacked: a part is on the frontier iff nothing is
    * simultaneously cheaper-or-equal AND bigger-or-equal with one
    * strict. Ties on BOTH axes keep both points (neither dominates).
    *
    * Scale shape — NO corpus-scale sort or window: (1) per-price-bucket
    * max sizes (one partial-agg to a ≤|price range / 100|-row frame),
    * (2) running max over the BOUNDED bucket frame (the one
    * single-partition window, on dozens of rows — the day-grid
    * dispensation), broadcast back as a pre-prune: any part whose size
    * is ≤ the max size of a strictly cheaper bucket is dominated by
    * that bucket's witness (strictly lower price, ≥ size) and drops
    * before any exact work; dominance is transitive, so the survivor
    * set still contains every global frontier point and the exact pass
    * over survivors yields exactly the global skyline. (3) The exact
    * pass is the distinct-price cummax formulation on the pruned
    * candidates — bounded by the frontier's neighborhood, not the
    * corpus. The oracle runs the same distinct-price formulation
    * directly (DuckDB sorts locally; the pre-prune is Spark's
    * distribution concern, not a semantic one) — two independent
    * constructions that must hash-agree. */
  val qPartSkyline: Q = Q.sql(
    "q_part_skyline",
    """WITH s AS (SELECT p_partkey, p_brand, p_retailprice, p_size FROM part),
      |g AS (SELECT p_retailprice AS pr, max(p_size) AS gmax FROM s GROUP BY 1),
      |c AS (SELECT pr, gmax, max(gmax) OVER (ORDER BY pr
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      |      FROM g),
      |sk AS (SELECT pr, gmax FROM c WHERE prev IS NULL OR gmax > prev)
      |SELECT s.p_partkey, s.p_brand, s.p_retailprice,
      |  CAST(s.p_size AS BIGINT) AS p_size
      |FROM s JOIN sk ON s.p_retailprice = sk.pr AND s.p_size = sk.gmax
      |ORDER BY s.p_retailprice, s.p_partkey""".stripMargin) { (s, d) =>
    val base = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("p_size"))
    // stage 1+2: bucket pre-prune (bounded bucket frame, bounded window)
    val bucketed = base.withColumn("bkt", floor(col("p_retailprice") / 100))
    val bw = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = bucketed.groupBy("bkt").agg(max("p_size").as("bmax"))
      .withColumn("prev", max("bmax").over(bw))
      .select("bkt", "prev")
    val cand = bucketed.join(broadcast(prev), Seq("bkt"))
      .filter(col("prev").isNull || col("p_size") > col("prev"))
    // stage 3: exact distinct-price skyline on the pruned candidates
    val g = cand.groupBy(col("p_retailprice").as("pr"))
      .agg(max("p_size").as("gmax"))
    val pw = Window.orderBy("pr")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sk = g.withColumn("prev2", max("gmax").over(pw))
      .filter(col("prev2").isNull || col("gmax") > col("prev2"))
      .select(col("pr"), col("gmax"))
    cand.join(broadcast(sk),
        col("p_retailprice") === col("pr") && col("p_size") === col("gmax"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  val qPartPagerank: Q = {
    val D = "0.85"
    // MATERIALIZED is load-bearing on the oracle side: DuckDB inlines
    // plain CTEs, so pr3's tree would re-expand the pairs pipeline once
    // per reference (exponential in iterations — observed spilling >70 GB
    // at sf1); pinning each round is the same O(k) discipline the Spark
    // side gets from per-round persist
    val duckIter = (k: Int) => s"""c$k AS MATERIALIZED (
      |  SELECT e.dst, sum(CAST(p.pr * e.w / p.outdeg AS DECIMAL(38,18))) AS m
      |  FROM e JOIN pr${k - 1} p ON p.node = e.src GROUP BY 1),
      |pr$k AS MATERIALIZED (
      |  SELECT n.node, n.outdeg,
      |    (1 - CAST($D AS DOUBLE)) / nn.n
      |      + CAST($D AS DOUBLE) * CAST(coalesce(c.m, 0) AS DOUBLE) AS pr
      |  FROM pr${k - 1} n CROSS JOIN nn LEFT JOIN c$k c ON c.dst = n.node)""".stripMargin
    Q.sql(
      "q_part_pagerank",
      s"""WITH og AS (
        |  SELECT l_orderkey, list(l_partkey) AS parts
        |  FROM lineitem GROUP BY 1),
        |s1 AS (SELECT unnest(parts) AS src, parts FROM og),
        |p0 AS (SELECT src, unnest(parts) AS dst FROM s1),
        |pairs AS MATERIALIZED (
        |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |  FROM p0 WHERE src <> dst
        |  GROUP BY 1, 2),
        |e AS (SELECT src, dst, w FROM pairs),
        |deg AS MATERIALIZED (
        |  SELECT src AS node, CAST(sum(w) AS BIGINT) AS outdeg
        |  FROM e GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        |pr0 AS MATERIALIZED (
        |  SELECT node, outdeg, CAST(1 AS DOUBLE) / nn.n AS pr
        |  FROM deg CROSS JOIN nn),
        |${duckIter(1)},
        |${duckIter(2)},
        |${duckIter(3)}
        |SELECT node AS p_partkey, outdeg, round(pr, 10) AS pagerank
        |FROM pr3 ORDER BY round(pr, 10) DESC, p_partkey LIMIT 20""".stripMargin) {
      (s, d) =>
      // co-purchase edges from ONE fact scan: group the order's parts into
      // a ≤7-element array (L lines/order is schema-bounded) and expand the
      // L² position pairs in-place — the self-join formulation shuffles
      // lineitem twice and joins; this shuffles it once, and the pair blowup
      // happens AFTER the exchange, on grouped rows.
      //
      // Shuffle-byte discipline (the spill lever at the 100x leg):
      //  * part keys ride as INT — p_partkey is a dense 1..P dimension
      //    surrogate, exact in 32 bits to P = 2^31 (~sf15k for the part
      //    dim); beyond that the ANSI cast fails loudly rather than wrap.
      //  * the edge table is repartitioned on src and sorted within
      //    partitions BEFORE the persist, so the degree pass and every
      //    iteration's edge⨝rank join consume the cached
      //    HashPartitioning(src)+sorted layout directly — zero per-round
      //    exchange or sort of the (large) edge side; only the |nodes|-row
      //    rank frame moves each round. Without the pin, each of the 3
      //    rounds re-exchanges AND re-sorts the full pair table (the
      //    measured one-box spill at sf10).
      // Persisted MEMORY_AND_DISK so eviction at scale degrades to disk
      // reads, not recomputes.
      val e = li(s, d)
        .select(col("l_orderkey"), col("l_partkey").cast("int").as("pk"))
        .groupBy(col("l_orderkey"))
        .agg(collect_list(col("pk")).as("parts"))
        .select(explode(col("parts")).as("src"), col("parts"))
        .select(col("src"), explode(col("parts")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .repartition(col("src"))
        .sortWithinPartitions("src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = e.groupBy(col("src").as("node")).agg(sum("w").cast("long").as("outdeg"))
      val nn = deg.agg(count(lit(1)).cast("long").as("n"))
      val d85 = lit(0.85)
      var pr = deg.crossJoin(broadcast(nn))
        .select(col("node"), col("outdeg"), (lit(1.0) / col("n")).as("pr"))
      // each round's rank frame is persisted and the predecessor released:
      // without the per-round pin, round k's DAG re-executes rounds 1..k-1's
      // joins over the cached edges — O(k²) join work instead of O(k) (the
      // emb_pca2 iterate-chain recipe; DECIMAL sums keep the numbers
      // order-free so the pin cannot change the hash)
      var prev: DataFrame = null
      for (_ <- 1 to 3) {
        // rank mass rides the exchange as a scale-18 LONG, not
        // DECIMAL(38,18): graft_to_scaled18 emits the identical unscaled
        // integer the decimal cast would, sum(long) adds them exactly
        // (total mass ≡ 1 ⇒ every partial ≤ 1e18, eight orders below
        // Long.Max), and graft_from_scaled18 is the same single
        // correctly-rounded decimal→double conversion — bit-for-bit the
        // oracle's DECIMAL(38,18) pipeline (NativeExprSpec pin) at half
        // the shuffle width with a primitive agg buffer.
        val contrib = e.join(pr.select(col("node").as("src"), col("pr"), col("outdeg")
            .as("od")), Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(call_function("graft_to_scaled18",
            col("pr") * col("w") / col("od"))).as("mL"))
        val next = pr.select(col("node"), col("outdeg"))
          .join(contrib, col("dst") === col("node"), "left")
          .crossJoin(broadcast(nn))
          .select(col("node"), col("outdeg"),
            ((lit(1) - d85) / col("n")
              + d85 * call_function("graft_from_scaled18",
                coalesce(col("mL"), lit(0L)))).as("pr"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize so the pin truncates, not defers, re-execution
        if (prev != null) prev.unpersist(blocking = false)
        prev = next
        pr = next
      }
      pr.select(col("node").as("p_partkey"), col("outdeg"),
          round(col("pr"), 10).as("pagerank"))
        .orderBy(col("pagerank").desc, col("p_partkey"))
        .limit(20)
    }
  }

  val all: Seq[Q] = Seq(
    q1Pricing, q3Shipping, q5RegionVolume, q6Forecast, qTopCustomers,
    qPartShare, qRunningTotals, qOrderPriority, qFunnel, qRollupNation,
    qCustDistribution, qBigOrders, qBrandRevenue, qDormantCustomers,
    qPriceBands, qSkewSalted, qYearlyGrowth, qMarketShare, qTradeLanes,
    qPromoShare, qSmallQuantity, qDisjunctive, qCubeVolume, qTopSupplier,
    qReturnedCustomers, qNationProfit, qSupplierWait, qOrderGap,
    qRevenueMa7, qShipPriority, qSkewProbe, qOrdersBacklog, qSupplierHhi,
    qBrandRankShift, qCustomerMigration, qDiscountImpact,
    qMinPriceSupplier, qPartSupplierStats, qPromoEligible, qCustomerDeciles,
    qPartPagerank, qPartSkyline)
}
