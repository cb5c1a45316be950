package graft

import graft.plans.AsOf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom as-of operator must agree row-for-row with the
  * built-in-composition implementation, handle no-match keys, and actually
  * plan through AsOfJoinExec. */
class AsOfSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private lazy val left = Seq(
    (1L, 1L, 100L), (2L, 1L, 5L), (3L, 2L, 25L), (4L, 3L, 7L)
  ).toDF("id", "k", "t")
  private lazy val right = Seq(
    (1L, 5L, "a"), (1L, 10L, "b"), (1L, 11L, "c"), (2L, 30L, "d")
  ).toDF("rk", "rt", "v")

  test("basic semantics: latest right with time <= left time, else null") {
    val got = AsOf.join(left, right, ("k", "rk"), ("t", "rt"))
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === Seq(
      (1L, Some("c")),  // k=1, t=100 → latest of rt∈{5,10,11} → c
      (2L, Some("a")),  // k=1, t=5   → rt=5 inclusive → a
      (3L, None),       // k=2, t=25  → only rt=30 > 25
      (4L, None)))      // k=3        → no right rows
  }

  test("tolerance: matches older than the bound become NULL, not next-older") {
    val got = AsOf.join(left, right, ("k", "rk"), ("t", "rt"), tolerance = Some(10L))
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq === Seq(
      (1L, None),       // latest match c at rt=11, gap 89 > 10 → NULL (no fallback)
      (2L, Some("a")),  // gap 0 within bound
      (3L, None),
      (4L, None)))
  }

  test("plans through AsOfJoinExec") {
    val df = AsOf.join(left, right, ("k", "rk"), ("t", "rt"))
    df.collect()
    // AQE wraps the physical plan; match on the rendered tree instead
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
  }

  test("NULL keys/times never match and never crash") {
    val l = Seq((1L, Option(1L), Option(10L)), (2L, Option.empty[Long], Option(5L)),
      (3L, Option(1L), Option.empty[Long])).toDF("id", "k", "t")
    val r = Seq((Option(1L), Option(5L), "a"), (Option.empty[Long], Option(1L), "x"),
      (Option(1L), Option.empty[Long], "y")).toDF("rk", "rt", "v")
    val got = AsOf.join(l, r, ("k", "rk"), ("t", "rt"))
      .select("id", "v").orderBy("id")
      .collect().map(row => (row.getLong(0), Option(row.getString(1))))
    // id=1 matches "a"; null-key and null-time left rows get no match;
    // null-key/null-time right rows are never considered
    assert(got.toSeq === Seq((1L, Some("a")), (2L, None), (3L, None)))
  }

  test("short documents produce empty shingle sets, not a crash") {
    val df = Seq("one two", "a b c d e").toDF("text")
      .select(split(col("text"), " ").as("ws"))
      .select(graft.text.Tokens.shingles(3).as("s3"))
    val sizes = df.select(size(col("s3"))).collect().map(_.getInt(0))
    assert(sizes.toSeq === Seq(0, 3))
  }

  test("union-window reference carries the newest right row, a NULL payload included") {
    val l = Seq((1L, 1L, 20L)).toDF("id", "k", "t")
    val r = Seq((1L, 5L, Option("a")), (1L, 10L, Option.empty[String])).toDF("rk", "rt", "v")
    def v(df: org.apache.spark.sql.DataFrame) =
      df.select("v").collect().map(row => Option(row.getString(0))).toSeq
    assert(v(AsOf.join(l, r, ("k", "rk"), ("t", "rt"))) === Seq(None))
    assert(v(AsOf.viaUnionWindow(l, r, ("k", "rk"), ("t", "rt"), Seq("v"))) === Seq(None))
  }

  test("custom operator and union-window composition agree on real data") {
    val base = graft.audit.AuditQueries.log(spark, TestSession.sfDir)
    val l = base.filter(col("event_type") === "error")
      .select("audit_id", "entity_id", "ts")
    val r = base.filter(col("event_type") === "purchase")
      .select(col("entity_id").as("r_entity"), col("ts").as("r_ts"),
        col("value").as("r_value"))

    val custom = AsOf.join(l, r, ("entity_id", "r_entity"), ("ts", "r_ts"))
      .select(col("audit_id"), col("r_value"))
      .collect().map(row => (row.getLong(0), Option(row.get(1)))).toMap

    val composed = AsOf.viaUnionWindow(
        l, r.select(col("r_entity").as("entity_id"), col("r_ts").as("ts"),
          col("r_value")),
        ("entity_id", "entity_id"), ("ts", "ts"), Seq("r_value"))
      .select(col("audit_id"), col("r_value"))
      .collect().map(row => (row.getLong(0), Option(row.get(1)))).toMap

    assert(custom === composed)
  }
}
