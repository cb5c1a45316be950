package graft

import graft.streaming.EventStream
// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Append-mode watermark semantics of the windowed rollup, verified
  * through a *file* sink (the operator discipline: no driver-side result
  * materialization):
  *   - a window is emitted exactly once, after the watermark passes its end
  *   - rows later than the watermark are dropped, not re-aggregated
  *   - state never retains closed windows (bounded by the watermark
  *     horizon — the property that keeps a year-long stream at 100 TB from
  *     accumulating a year of window state). */
class StreamingWindowSpec extends AnyFunSuite {
  import TestSession._

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("append-mode rollup emits closed windows once and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tmp = java.nio.file.Files.createTempDirectory("graft-winspec-").toString
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val feed = in.toDF().toDF("ts", "operation", "value")

    val q = EventStream.windowedRollup(feed)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    def sink() = spark.read
      .schema("win_start STRING, operation STRING, n BIGINT, total_value DOUBLE")
      .parquet(s"$tmp/out")

    try {
      // two rows in the 10:00 window, then an 11:01 row that advances the
      // watermark to 10:31 > 10:10, closing the first window
      in.addData((ts("2024-01-01 10:00:30"), "I", 1.0),
        (ts("2024-01-01 10:05:00"), "I", 2.5))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 11:01:00"), "U", 5.0))
      q.processAllAvailable()

      val closed = sink().filter(col("win_start") === "2024-01-01 10:00:00").collect()
      assert(closed.length === 1)
      assert(closed.head.getLong(2) === 2L)
      assert(closed.head.getDouble(3) === 3.5)

      // a late row for the already-closed window: beyond the watermark →
      // dropped; the emitted window is immutable
      in.addData((ts("2024-01-01 10:02:00"), "I", 100.0))
      q.processAllAvailable()
      val after = sink().filter(col("win_start") === "2024-01-01 10:00:00").collect()
      assert(after.length === 1)
      assert(after.head.getLong(2) === 2L, "late row must not reopen a closed window")

      // the open 11:00 window is not in the sink yet (append mode emits
      // only watermark-closed windows)
      assert(sink().filter(col("win_start") === "2024-01-01 11:00:00").count() === 0)
    } finally q.stop()
  }

  test("corpus_stream_qa: streamed gate ≡ batch gate; replayed capture doesn't double-count") {
    val sf = "/root/testdata/sf0.001"
    // the full streamed pipeline reconciles with a direct batch rollup
    // built from the SAME rule source (quality gates cannot drift)
    val got = graft.streaming.EventStream.corpusStreamQa.fn(spark, sf).collect().toSeq
    val want = graft.text.CorpusOps
      .withQualityFlags(Tables.documents(spark, sf))
      .withColumn("passed",
        when(expr(graft.text.CorpusOps.passAllSql), 1).otherwise(0))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("passed").as("n_pass"),
        sum(expr("size(split(text, ' '))")).as("total_words"),
        round(lit(1.0) * sum("passed") / count(lit(1)), 4).as("pass_share"))
      .orderBy("lang", "source").collect().toSeq
    assert(got === want)
    assert(got.nonEmpty, "empty rollup — vacuous")
    assert(got.exists(_.getLong(3) > 0), "no doc passes any gate — vacuous")

    // a replayed micro-batch (crash between sink write and checkpoint
    // commit) appends the same scored rows again; the exactly-once
    // read-back must return the identical rollup
    val tmp = java.nio.file.Files.createTempDirectory("graft-csq-replay-").toString
    val scored = graft.text.CorpusOps
      .withQualityFlags(Tables.documents(spark, sf))
      .withColumn("passed",
        when(expr(graft.text.CorpusOps.passAllSql), 1).otherwise(0))
      .select("doc_id", "lang", "source", "n_words", "passed")
    scored.write.mode("append").partitionBy("lang").parquet(s"$tmp/sink")
    val once = graft.streaming.EventStream.corpusQaRollup(spark, s"$tmp/sink").collect()
    scored.write.mode("append").partitionBy("lang").parquet(s"$tmp/sink") // the replay
    val twice = graft.streaming.EventStream.corpusQaRollup(spark, s"$tmp/sink").collect()
    assert(once.toSeq === twice.toSeq,
      "replayed capture changed the rollup — exactly-once read-back broken")
  }

  test("stream_dedup_incremental: streamed verdicts ≡ batch backfill verdicts") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.EventStream.streamDedupIncremental
      .fn(spark, sf).collect().toSeq
    val batch = graft.text.TextOps.dedupIncremental
      .fn(spark, sf).collect().toSeq
    assert(streamed === batch,
      "streaming ingest and batch backfill disagree on admit/reject")
    assert(streamed.exists(_.getString(3) == "near_dup"), "no near-dup — vacuous")
    assert(streamed.exists(_.getString(3) == "admit"), "no admit — vacuous")
  }

  test("stream dedup: the redelivered feed really duplicates, the op removes all of it") {
    val sf = "/root/testdata/sf0.001"
    val clean = Tables.events(spark, sf)
    val nClean = clean.count()
    val nDup = clean.filter(col("event_id") % 10 === 0).count()
    assert(nDup > 0, "redelivery slice is empty — the dedup test would be vacuous")
    // the operator's end-to-end result equals the clean per-op counts
    val got = graft.streaming.EventStream.auditStreamDedup.fn(spark, sf)
    val want = clean
      .withColumn("operation", graft.audit.AuditModel.operation)
      .groupBy("operation")
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .orderBy("operation")
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    assert(got.agg(sum("n")).head.getLong(0) === nClean)
  }

  test("stream_rate_alert: emission frontier is window_end <= watermark, pinned on an exact boundary") {
    import spark.implicits._
    // adversarial feed: max ts at 03:00:00 exactly => watermark 02:30:00
    // lands precisely ON the end of window [01:30, 02:30) — the <= rule
    // must publish it; a strict < would drop it and this spec fails.
    val base = "2024-01-01 "
    val times = Seq(
      "00:05:00", "00:20:00", "00:35:00", "00:50:00", "01:05:00",
      "01:20:00", "01:35:00", "01:50:00", "02:05:00", "02:20:00",
      "02:29:59", "03:00:00").map(t => ts(base + t))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ratealert-").toString
    // the feed reader expects a single FILE named events.parquet (the
    // driver's testdata layout): write then move the part file
    times.zipWithIndex
      .map { case (t, i) => (i.toLong, t, i.toLong % 5, "purchase", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/stage")
    val part = new java.io.File(s"$tmp/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/events.parquet"))
    val got = EventStream.streamRateAlert.fn(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // arithmetic replay of the oracle frontier: sliding windows whose end
    // <= max(ts) - 30min, counts over the raw times
    val maxTs = times.map(_.getTime).max
    val wm = maxTs - 30 * 60 * 1000L
    val winMs = 60 * 60 * 1000L
    val slideMs = 15 * 60 * 1000L
    val starts = times.flatMap { t =>
      val bucket = t.getTime / slideMs * slideMs
      (0 to 3).map(k => bucket - k * slideMs)
    }.distinct.filter(_ + winMs <= wm)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val want = starts.map { st =>
      fmt.format(new java.util.Date(st)) ->
        times.count(t => t.getTime >= st && t.getTime < st + winMs).toLong
    }.toMap
    assert(got === want)
    // the boundary window [01:30, 02:30) is genuinely in the output
    assert(got.contains(base + "01:30:00"), "window ending exactly at the watermark publishes")
    // tail windows past the frontier stayed in state
    assert(!got.contains(base + "02:15:00"))
  }

  test("audit_sessionize_stream: a replay that closes no session reads back 0 rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-opensession-").toString
    // one change: its session is still open when the feed ends, so the
    // sessionizer emits nothing and the sink holds no data file to infer
    // a schema from
    Seq((1L, ts("2024-01-01 10:00:00"), 7L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/stage")
    val part = new java.io.File(s"$tmp/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/events.parquet"))
    val got = EventStream.auditSessionizeStream.fn(spark, tmp)
    assert(got.count() === 0)
    // the schema of a run that closes sessions: the ClosedSession
    // encoder's types, nullable as in every streaming read-back
    assert(got.schema.map(f => (f.name, f.dataType, f.nullable)) === Seq(
      ("entity_id", LongType, true), ("session_start", StringType, true),
      ("n_events", LongType, true), ("session_value", DoubleType, true)))
  }

  test("audit_stream_backfill: legs partition cleanly at the seam and conserve the feed") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("audit_stream_backfill")(spark, sf).collect()
    assert(rows.nonEmpty)
    val cutoff = "2024-01-16 00:00:00"
    val (batch, stream) = rows.partition(_.getString(1) == "batch")
    assert(batch.nonEmpty && stream.nonEmpty)
    // seam exactness: every batch hour strictly below the cutoff, every
    // stream hour at/above it — no hour appears on both legs
    assert(batch.forall(_.getString(0) < cutoff))
    assert(stream.forall(_.getString(0) >= cutoff))
    assert(batch.map(_.getString(0)).toSet.intersect(
      stream.map(_.getString(0)).toSet).isEmpty)
    // conservation: the stitched series carries the whole feed exactly once
    val feedN = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum === feedN)
    // continuity: stitched hours = the batch-only rollup's hours
    val full = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h")).count()
      .collect().map(_.getTimestamp(0).toString.substring(0, 19)).toSet
    assert(rows.map(_.getString(0)).toSet === full)
  }
}
