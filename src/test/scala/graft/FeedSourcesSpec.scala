package graft

import graft.sources.FeedSources
import org.apache.spark.graft.Jobs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Feed formats round-trip into one normalized schema, and the
  * day-partitioned sink prunes partitions for time-range queries. */
class FeedSourcesSpec extends AnyFunSuite {
  import TestSession._

  private lazy val tmp = {
    val f = java.nio.file.Files.createTempDirectory("graft-feed").toFile
    f.deleteOnExit(); f.getAbsolutePath
  }

  private lazy val feed = Tables.events(spark, sfDir)

  test("csv, json and orc feeds round-trip the parquet feed") {
    val raw = FeedSources.parquetFeed(spark, s"$sfDir/events.parquet")
      .withColumn("ts", unix_timestamp(col("ts")) * 1000000000L) // back to ns
    raw.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    raw.write.mode("overwrite").json(s"$tmp/json")
    raw.write.mode("overwrite").orc(s"$tmp/orc")
    val c = FeedSources.csvFeed(spark, s"$tmp/csv")
    val j = FeedSources.jsonFeed(spark, s"$tmp/json")
    val o = FeedSources.orcFeed(spark, s"$tmp/orc")
    assert(c.count() === feed.count())
    assert(j.count() === feed.count())
    assert(o.count() === feed.count())
    // same content modulo the deliberate second-truncation above
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(sum("event_id"), round(sum("value"), 2)).head()
    assert(key(c) === key(j))
    assert(key(o) === key(j))
  }

  test("day-partitioned sink prunes partitions for a time-range query") {
    val path = s"$tmp/audit"
    FeedSources.appendPartitioned(feed, path)
    val pruned = FeedSources.readPartitioned(spark, path)
      .filter(col("day") === "2024-01-05")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(pruned.count() > 0)
    assert(pruned.count() < feed.count())
  }

  test("streaming capture path lands the full feed in the partitioned sink") {
    val sink = s"$tmp/capture"
    val ckpt = s"$tmp/capture-ckpt"
    graft.streaming.EventStream.captureToAuditSink(spark, sfDir, sink, ckpt)
    val landed = FeedSources.readPartitioned(spark, sink)
    assert(landed.count() === feed.count())
    // day-partitioned layout on disk
    val days = new java.io.File(sink).listFiles().count(_.getName.startsWith("day="))
    assert(days > 1)
  }

  test("immutability is ENFORCED: destructive writes to a live sink throw") {
    import org.apache.spark.sql.SaveMode
    val path = s"$tmp/audit3"
    val slice = feed.limit(50)
    FeedSources.writeGuarded(slice, path) // first append creates
    val n1 = FeedSources.readPartitioned(spark, path).count()
    // the reference raises on UPDATE/DELETE/TRUNCATE of audit tables
    // (audit.go:627); here every non-append mode is refused up front
    val ex = intercept[UnsupportedOperationException] {
      FeedSources.writeGuarded(slice, path, SaveMode.Overwrite)
    }
    assert(ex.getMessage.contains("append-only"))
    intercept[UnsupportedOperationException] {
      FeedSources.writeGuarded(slice, path, SaveMode.ErrorIfExists)
    }
    intercept[UnsupportedOperationException] {
      FeedSources.writeGuarded(slice, path, SaveMode.Ignore)
    }
    // nothing was destroyed by the refused writes; appends still work
    assert(FeedSources.readPartitioned(spark, path).count() === n1)
    FeedSources.writeGuarded(slice, path)
    assert(FeedSources.readPartitioned(spark, path).count() === n1 * 2)
  }

  test("partition health reads footer metadata, never data pages") {
    val path = s"$tmp/health"
    val slice = feed.filter(col("ts") < lit("2024-01-08").cast("timestamp"))
    FeedSources.appendPartitioned(slice.repartition(to_date(col("ts"))), path)
    val h1 = FeedSources.partitionHealth(spark, path)
    // footer row totals must equal the true per-day row counts
    val expected = slice.groupBy(to_date(col("ts")).as("day"))
      .count().collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val got = h1.collect().map(r => r.getDate(0).toString -> r.getLong(2)).toMap
    assert(got === expected)
    // one writer task per day → exactly one file per partition, no flags
    assert(h1.collect().forall(_.getLong(1) === 1L))
    // metadata-only: the health plan must contain NO parquet file scan of
    // the sink — row counts come from executor-side footer reads over the
    // parallelized file LIST, so no column page is ever decoded
    val plan = h1.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan)
    assert(!plan.contains(path), plan)
    // a replayed append fragments the partitions it touches and the
    // min/max per-file split proves per-FILE footer granularity
    FeedSources.appendPartitioned(slice.limit(10).repartition(1), path)
    val h2 = FeedSources.partitionHealth(spark, path)
    val fragged = h2.filter(col("n_files") > 1)
    assert(fragged.count() > 0)
    assert(fragged.collect().forall(r => r.getLong(3) < r.getLong(4)))
  }

  test("append-only: a second append adds, never rewrites") {
    val path = s"$tmp/audit2"
    val slice = feed.limit(100)
    FeedSources.appendPartitioned(slice, path)
    val n1 = FeedSources.readPartitioned(spark, path).count()
    FeedSources.appendPartitioned(slice, path)
    val n2 = FeedSources.readPartitioned(spark, path).count()
    assert(n2 === n1 * 2)
    // a replayed batch (the at-least-once case) disappears behind the
    // exactly-once view
    assert(FeedSources.exactlyOnceView(spark, path).count() === n1)
  }

  test("re-reading an unchanged sink runs no inference job and plans as an inferred read") {
    val path = s"$tmp/reread"
    FeedSources.appendPartitioned(feed.limit(200), path)
    FeedSources.exactlyOnceView(spark, path)
    val (again, jobs) = Jobs.during(spark.sparkContext)(FeedSources.exactlyOnceView(spark, path))
    assert(jobs === 0)
    val inferred = spark.read.parquet(path).dropDuplicates("day", "event_id")
    assert(again.queryExecution.analyzed.sameResult(inferred.queryExecution.analyzed))
    assert(again.schema("day").dataType === inferred.schema("day").dataType)
    assert(again.schema === inferred.schema)
  }

  test("compaction plan covers every fragmented partition exactly once") {
    val sf = TestSession.sfDir
    val health = graft.audit.AuditQueries.auditPartitionHealth.fn(spark, sf).collect()
    val plan = graft.audit.AuditQueries.auditCompactionPlan.fn(spark, sf).collect()
    val fragged = health.filter(_.getAs[Boolean]("needs_compact"))
    // every fragmented day lands in exactly one job; rewrite totals match
    assert(plan.map(_.getAs[Long]("n_partitions")).sum === fragged.length.toLong)
    assert(plan.map(_.getAs[Long]("rewrite_rows")).sum ===
      fragged.map(_.getAs[Long]("n_rows")).sum)
    // compaction halves the file count: 2 files in, 1 out, per partition
    plan.foreach { r =>
      assert(r.getAs[Long]("files_in") === 2 * r.getAs[Long]("n_partitions"))
      assert(r.getAs[Long]("files_out") === r.getAs[Long]("n_partitions"))
    }
    // serpentine LPT keeps jobs balanced: no job more than 2x fair share
    plan.foreach(r => assert(r.getAs[Double]("skew") < 2.0,
      s"job ${r.getInt(0)} skew ${r.getAs[Double]("skew")}"))
  }
}
