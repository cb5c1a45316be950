package graft

import graft.audit.{AuditLog, AuditQueries, AuditStorage}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** The scale claim behind AuditStorage: reconstructions over a bucketed
  * audit log run without a shuffle (the scan itself satisfies the window's
  * required distribution), and results equal the unbucketed path. */
class BucketedAuditSpec extends AnyFunSuite {
  import TestSession._

  // AQE-aware: descends into query stages (a naive collect over
  // ShuffleExchangeExec sees nothing under AQE and asserts vacuously)
  private def shuffles(p: SparkPlan): Int = TestSession.shuffleCount(p)

  private lazy val table: String = {
    // in-memory catalog forgets tables between JVM runs but the warehouse
    // files persist; clear the stale location first
    spark.sql("DROP TABLE IF EXISTS audit_log_bucketed")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "audit_log_bucketed")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    val log = AuditQueries.log(spark, sfDir)
    AuditStorage.writeBucketed(log, "audit_log_bucketed", buckets = 4)
  }

  test("snapshot over the bucketed log plans zero shuffles") {
    val alg = AuditLog("entity_id", "audit_id")
    val snap = alg.snapshot(
      AuditStorage.read(spark, table)
        .withColumn("k", org.apache.spark.sql.functions.col("field_k")),
      Seq("k"))
    snap.collect() // force execution so AQE finalizes the plan
    assert(shuffles(snap.queryExecution.executedPlan) === 0,
      snap.queryExecution.executedPlan.toString)
  }

  test("as-of join over the bucketed log plans zero shuffles (co-located)") {
    import org.apache.spark.sql.functions.col
    val b = AuditStorage.read(spark, table)
    val l = b.filter(col("event_type") === "error")
      .select("audit_id", "entity_id", "ts")
    val r = b.filter(col("event_type") === "purchase")
      .select(col("entity_id").as("r_entity"), col("ts").as("r_ts"),
        col("value").as("r_value"))
    val j = graft.plans.AsOf.join(l, r,
      key = ("entity_id", "r_entity"), time = ("ts", "r_ts"))
    j.collect()
    // both sides read the same bucketing on entity_id, which satisfies the
    // exec's ClusteredDistribution co-partitioned — the audit table's
    // btree-equivalent access path extends to point-in-time lookups
    assert(shuffles(j.queryExecution.executedPlan) === 0,
      j.queryExecution.executedPlan.toString)
  }

  test("rebuildAll: config scope drives the multi-table views_only loop") {
    // the reference's RunAll (audit.go:127-199): every admitted table gets
    // its views rebuilt, excluded ones are skipped, and each rebuild
    // covers whatever columns THAT sink has (tableColumns, audit.go:1208)
    import org.apache.spark.sql.functions.col
    import graft.audit.{AuditConfig, AuditViews}
    val base = AuditQueries.log(spark, sfDir)
      .select("audit_id", "entity_id", "operation", "field_k", "value")
    AuditStorage.rewriteBucketed(spark,
      base.select("audit_id", "entity_id", "operation", "field_k"),
      "graft_feed_a", buckets = 2)
    AuditStorage.rewriteBucketed(spark,
      base.withColumn("v2", col("value") * 2).drop("field_k"),
      "graft_feed_b", buckets = 2)
    AuditStorage.rewriteBucketed(spark,
      base.select("audit_id", "entity_id", "operation"),
      "graft_feed_c", buckets = 2)
    val cfg = AuditConfig.parse(
      """views_only: true
        |changed_by: app.changed_by
        |excluded_tables:
        |  - graft_feed_c""".stripMargin)
    val views = AuditViews.rebuildAll(spark, cfg,
      Seq("graft_feed_a", "graft_feed_b", "graft_feed_c"))
    assert(views.keySet === Set("graft_feed_a", "graft_feed_b"))
    // per-sink column discovery: each rebuild covers that sink's payload
    assert(views("graft_feed_a").columns.contains("state_field_k"))
    assert(!views("graft_feed_a").columns.contains("state_value"))
    assert(Seq("state_value", "state_v2", "old_state_v2", "new_v2")
      .forall(views("graft_feed_b").columns.contains))
    assert(views("graft_feed_a").count() > 0 && views("graft_feed_b").count() > 0)
    // an explicit rebuild of an out-of-scope table must refuse
    intercept[IllegalArgumentException] {
      AuditViews.rebuild(spark, cfg, "graft_feed_c")
    }
  }

  test("bucketed and unbucketed snapshots agree") {
    val alg = AuditLog("entity_id", "audit_id")
    val directDf = alg
      .snapshot(AuditQueries.log(spark, sfDir)
        .withColumn("k", org.apache.spark.sql.functions.col("field_k")), Seq("k"))
      .select("audit_id", "state_k").orderBy("audit_id")
    val direct = directDf.collect()
    // positive control for the zero-shuffle assertions above: the SAME
    // reconstruction over the unbucketed feed MUST show its window
    // exchange — proving the counter is not vacuous under AQE
    assert(shuffles(directDf.queryExecution.executedPlan) >= 1,
      directDf.queryExecution.executedPlan.toString)
    val bucketed = alg
      .snapshot(AuditStorage.read(spark, table)
        .withColumn("k", org.apache.spark.sql.functions.col("field_k")), Seq("k"))
      .select("audit_id", "state_k").orderBy("audit_id").collect()
    assert(direct.toSeq === bucketed.toSeq)
  }
}
