package graft.streaming

import graft.{Det, Q}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StructField, StructType}

/** Structured-Streaming ingestion of the audit change feed — the Spark-first
  * replacement for the reference's synchronous trigger capture path
  * (audit.go:854): instead of a per-row trigger writing into an audit table,
  * the feed is consumed incrementally with a watermark bounding state, and
  * windowed change rollups maintained by the engine.
  *
  * Sink discipline (the 100 TB posture): every streaming operator here
  * terminates in a *file* sink — foreachBatch → day-partitioned parquet for
  * capture, append-mode parquet for derived streams. Nothing materializes
  * on the driver and no complete-mode result table is retained in state;
  * results are verified by reading the sink back. Append-only parquet is
  * the reference's no-DML-on-audit-tables guarantee (audit.go:627)
  * expressed as storage discipline.
  */
object EventStream {

  private val TS = "yyyy-MM-dd HH:mm:ss"

  /** State partitions of every bounded replay: [[drained]] pins
    * `spark.sql.shuffle.partitions` to this fixed constant for the query's
    * lifetime instead of inheriting the batch engine's shuffle width. State
    * store count follows state VOLUME (rate × watermark horizon), not batch
    * width: every stateful operator commits one state store per partition
    * per micro-batch, so a 32-wide batch setting buys a kilobyte-scale
    * session state 32 store commits per batch — pure fixed cost. */
  private val StatePartitions = 8

  /** Drains a bounded replay and blocks until the query self-terminates.
    * The query runs under `Trigger.AvailableNow` (process everything
    * available, including the trailing no-data batch that advances the
    * watermark for stateful emission/eviction, then stop — the bounded
    * replay trigger) with [[StatePartitions]] state partitions. */
  private def drained(s: SparkSession)(start: => StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StatePartitions.toString)
    try {
      val q = start
      try q.awaitTermination() finally q.stop()
    } finally s.conf.set(key, prev)
  }

  private val availableNow = Trigger.AvailableNow()

  /** Drains `stream` in append mode into a fresh scratch parquet sink and
    * returns the sink's batch read-back. The read-back takes the stream's
    * own schema: a run that emits no rows (an all-sessions-open replay)
    * leaves the sink without a data file to infer one from. Its columns
    * are nullable, as in any parquet read. */
  private def drainToSink(stream: Dataset[_]): DataFrame = {
    val s = stream.sparkSession
    val tmp = graft.Scratch.dir("graft-stream-sink-")
    drained(s) {
      stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(availableNow)
        .start()
    }
    s.read.schema(StructType(stream.schema.map(f => StructField(f.name, f.dataType))))
      .parquet(s"$tmp/out")
  }

  /** The foreachBatch twin of [[drainToSink]]: drains `stream` to
    * completion, handing each micro-batch and its id to `write`. */
  private def drainBatches(stream: DataFrame, checkpoint: String,
      outputMode: String = "append")(write: (DataFrame, Long) => Unit): Unit =
    drained(stream.sparkSession) {
      stream.writeStream.outputMode(outputMode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch((b: Dataset[Row], id: Long) => write(b.toDF(), id))
        .trigger(availableNow)
        .start()
    }

  /** Last writer per `key` over a foreachBatch sink whose rows carry their
    * micro-batch id `bid`: the row of the highest batch id wins, and
    * row_number collapses same-batch duplicates. foreachBatch + parquet
    * append is at-least-once — a retried micro-batch after a partial write
    * duplicates sink rows — and this is the streaming-upsert read-back
    * (what a Delta/Iceberg MERGE sink does natively) that absorbs it. */
  private def lastWriter(sink: DataFrame, key: String): DataFrame =
    sink.withColumn("rn", row_number().over(Window.partitionBy(key).orderBy(col("bid").desc)))
      .filter(col("rn") === 1)

  /** File stream over one table of a scale-factor directory. File
    * streaming sources need a directory and an explicit schema: the source
    * watches `d` narrowed to `<table>.parquet`, with the schema of that
    * table's batch read — [[graft.Tables.parquet]], so an unchanged file
    * runs no inference job; events through [[graft.Tables.rawEvents]], so
    * ts keeps the file's encoding. */
  def fileStream(s: SparkSession, d: String, table: String): DataFrame = {
    val path = s"$d/$table.parquet"
    val batch =
      if (table == "events") graft.Tables.rawEvents(s, path) else graft.Tables.parquet(s, path)
    s.readStream.schema(batch.schema).option("pathGlobFilter", s"$table.parquet").parquet(d)
  }

  /** Streaming DataFrame of the normalized audit feed. Schema,
    * nanos→micros normalization and the operation mapping are the shared
    * canonical ones (Tables / FeedSources / AuditModel) — the streaming
    * and batch paths must never desynchronize. */
  def readFeed(s: SparkSession, d: String): DataFrame =
    graft.sources.FeedSources.normalize(fileStream(s, d, "events"))
      .withColumn("operation", graft.audit.AuditModel.operation)

  /** 10-minute tumbling change rollup with a 30-minute watermark.
    * Append-mode semantics: a window is emitted once — when the watermark
    * passes its end — and late rows beyond the watermark are dropped
    * (asserted in StreamingWindowSpec). State is bounded by the watermark
    * horizon, never by stream length. */
  def windowedRollup(feed: DataFrame): DataFrame =
    feed
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("operation"))
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .select(
        date_format(col("window.start"), TS).as("win_start"),
        col("operation"), col("n"), col("total_value"))

  /** The full capture pipeline run end-to-end, then rolled up from the
    * resting layout: stream → foreachBatch → day-partitioned parquet
    * (at-least-once) → exactly-once read-back → windowed rollup. The
    * result is the batch-twin rollup of everything captured, so the DuckDB
    * oracle over the raw feed still verifies the whole path — ingest,
    * sink layout, replay-dedup and rollup — with no driver-side sink. */
  val auditStream: Q = Q.sql(
    "audit_stream",
    s"""SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       |  ${graft.audit.AuditModel.operationSql} AS operation,
       |  count(*) AS n, ${Det.dsumRoundSql("value", 2)} AS total_value
       |FROM events GROUP BY 1, 2
       |ORDER BY win_start, operation""".stripMargin) { (s, d) =>
    val tmp = graft.Scratch.dir("graft-audit-stream-")
    captureToAuditSink(s, d, s"$tmp/sink", s"$tmp/ckpt")
    // the batch read-back's watermark is dropped by the optimizer
    windowedRollup(graft.sources.FeedSources.exactlyOnceView(s, s"$tmp/sink"))
      .orderBy("win_start", "operation")
  }

  /** Watermarked stream-stream interval join: every purchase within one
    * hour before each error, per entity — two live feeds correlated on
    * (key, event-time range). Both sides carry a 1-hour watermark and the
    * join condition is a direct event-time range, so Spark bounds each
    * side's state to the watermark horizon (the 100 TB requirement: state
    * ∝ rate × window, never ∝ stream length). Over a finite replay the
    * emitted pairs are exactly the batch interval join, which is the
    * DuckDB oracle — a stream-stream operator with an exact batch twin.
    *
    * Timestamps are compared at the engine's native microsecond precision
    * on both sides (the oracle brackets at epoch-micros), so boundary
    * pairs cannot flip between engines. */
  val auditStreamJoin: Q = Q.sql(
    "audit_stream_join",
    """WITH audit AS (
      |  SELECT event_id AS audit_id, user_id AS entity_id, event_type, ts, value
      |  FROM events)
      |SELECT e.audit_id AS error_id, p.audit_id AS purchase_id,
      |  e.entity_id,
      |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS err_at,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
      |  p.value AS purchase_value
      |FROM audit e JOIN audit p
      |  ON e.entity_id = p.entity_id
      |  AND e.event_type = 'error' AND p.event_type = 'purchase'
      |  AND epoch_ns(p.ts) // 1000
      |    BETWEEN epoch_ns(e.ts) // 1000 - 3600000000 AND epoch_ns(e.ts) // 1000
      |ORDER BY error_id, purchase_id""".stripMargin) { (s, d) =>
    val errs = readFeed(s, d).filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_entity"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    val purch = readFeed(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_entity"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    drainToSink(errs.join(purch,
        col("e_entity") === col("p_entity") &&
        col("p_ts") >= col("e_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("e_ts")))
      .select(col("error_id"), col("purchase_id"), col("e_entity").as("entity_id"),
        date_format(col("e_ts"), TS).as("err_at"),
        date_format(col("p_ts"), TS).as("purchase_at"),
        col("value").as("purchase_value"))
      .orderBy("error_id", "purchase_id")
  }

  // ------------------------------------------------- stateful sessions --

  final case class FeedEvent(entity_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(startMs: Long, lastMs: Long, n: Int, sumScaled: Long)
  final case class ClosedSession(
      entity_id: Long, session_start: String, n_events: Long, session_value: Double)

  /** Serializable holder: the state-update function ships to executors and
    * must not capture the (non-serializable) enclosing object. */
  private object Sessionizer extends Serializable {
    val GapMs: Long = 30L * 60 * 1000
    def fmt(ms: Long): String =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))

    /** Fixed-point accumulation at scale 6 — the exact arithmetic the batch
      * operator's decimal(28,6) sum (graft.Det) performs, so the streamed
      * session_value reconciles bit-for-bit with `audit_sessionize`
      * (HALF_UP at both the per-value cast and the final 2-decimal round,
      * matching Spark's double→decimal semantics). */
    def scaled(v: Double): Long =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact
    def round2(sumScaled: Long): Double =
      BigDecimal(java.math.BigDecimal.valueOf(sumScaled, 6))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

    def update(entity: Long, rows: Iterator[FeedEvent],
        state: org.apache.spark.sql.streaming.GroupState[SessionState])
        : Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(ClosedSession(entity, fmt(s.startMs), s.n, round2(s.sumScaled)))
      } else {
        val evs = rows.toArray.sortBy(_.ts.getTime)
        var open = state.getOption
        val closed = Iterator.newBuilder[ClosedSession]
        evs.foreach { e =>
          val t = e.ts.getTime
          open match {
            // gap compared at *second* granularity to match the batch
            // operator's unix_timestamp arithmetic exactly
            case Some(s) if (t / 1000) - (s.lastMs / 1000) <= GapMs / 1000 =>
              open = Some(s.copy(lastMs = t, n = s.n + 1,
                sumScaled = s.sumScaled + scaled(e.value)))
            case Some(s) =>
              closed += ClosedSession(entity, fmt(s.startMs), s.n, round2(s.sumScaled))
              open = Some(SessionState(t, t, 1, scaled(e.value)))
            case None =>
              open = Some(SessionState(t, t, 1, scaled(e.value)))
          }
        }
        open.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + GapMs)
        }
        closed.result()
      }
    }
  }

  /** Per-entity session tracking with bounded state: a session closes when
    * 30 minutes pass without a change (event-time timeout fires once the
    * watermark passes lastSeen + gap). This is the streaming twin of the
    * batch `audit_sessionize` operator — reconciliation is asserted in
    * StreamingSessionSpec. */
  def sessionize(feed: org.apache.spark.sql.Dataset[FeedEvent])
      : org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import feed.sparkSession.implicits._
    feed
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(Sessionizer.update _)
  }

  /** Runs the stateful sessionizer over the feed into an append-mode
    * parquet sink, then reads the sink back. Sessions still open when the
    * feed ends stay in state (they would close on the next micro-batch in
    * a live pipeline), so this emits every *closed* session. */
  val auditSessionizeStream: Q = Q.rowsOnly("audit_sessionize_stream", "StreamingSessionSpec") { (s, d) =>
    import s.implicits._
    val feed = readFeed(s, d)
      .select(col("user_id").as("entity_id"), col("ts"), col("value"))
      .as[FeedEvent]
    drainToSink(sessionize(feed))
      .orderBy("entity_id", "session_start")
  }

  /** Streaming exactly-once over an at-least-once feed: the capture path
    * (foreachBatch + parquet append) redelivers on crash-replay, and a real
    * message bus redelivers by contract — so the engine must dedup IN the
    * stream. A deterministic "redelivered" copy of the feed (every 10th
    * audit id appended twice) streams through
    * `dropDuplicatesWithinWatermark` on the audit id: state is bounded by
    * the 1-hour watermark horizon (the 100 TB requirement — a plain
    * streaming dropDuplicates keeps every id ever seen), duplicates beyond
    * the horizon are the sink view's (day, id) dedup's job
    * (FeedSources.exactlyOnceView). The deduped stream lands in an
    * append-mode parquet sink; the per-op rollup of the sink is compared
    * against the oracle over the CLEAN feed — any surviving duplicate
    * inflates a count and fails the hash. */
  val auditStreamDedup: Q = Q.sql(
    "audit_stream_dedup",
    s"""SELECT ${graft.audit.AuditModel.operationSql} AS operation,
       |  count(*) AS n, ${Det.dsumRoundSql("value", 2)} AS total_value
       |FROM events GROUP BY 1 ORDER BY operation""".stripMargin) { (s, d) =>
    val tmp = graft.Scratch.dir("graft-stream-dedup-")
    val base = graft.Tables.events(s, d)
    base.write.parquet(s"$tmp/feed")
    base.filter(col("event_id") % 10 === 0).write.mode("append").parquet(s"$tmp/feed")
    drainToSink(s.readStream.schema(base.schema).parquet(s"$tmp/feed")
        .withColumn("operation", graft.audit.AuditModel.operation)
        .select(col("event_id").as("audit_id"), col("operation"), col("ts"), col("value"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("audit_id"))
      .groupBy("operation")
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .orderBy("operation")
  }

  /** The capture path: stream the change feed into the audit log's
    * day-partitioned append-only resting layout (the reference's
    * trigger→audit-table pipeline, audit.go:854, as stream→storage).
    *
    * Delivery is AT-LEAST-ONCE: `foreachBatch` + parquet append is not
    * idempotent (a batch replayed after a crash-before-checkpoint lands
    * twice). Consumers get exactly-once by deduplicating on
    * (day, event_id), [[graft.sources.FeedSources.exactlyOnceView]]: a
    * replayed row keeps its event time, so its duplicate lands in the same
    * day partition and the dedup shuffle stays partition-local. Every row
    * also carries the id of the micro-batch that wrote it (`batch_id`). */
  def captureToAuditSink(s: SparkSession, d: String, sinkPath: String,
      checkpoint: String): Unit =
    drainBatches(readFeed(s, d), checkpoint) { (batch, batchId) =>
      graft.sources.FeedSources.appendPartitioned(
        batch.withColumn("batch_id", lit(batchId)), sinkPath)
    }

  /** Streaming corpus ingest QA — the block-C twin of [[auditStream]]'s
    * capture pipeline: documents arrive as files, every doc is scored
    * in-flight against the exact quality gates of CorpusOps.quality_filter
    * (the SAME ruleFlags source — the streaming gate cannot drift from the
    * batch one), and the scored stream lands in a lang-partitioned
    * append-only parquet sink via foreachBatch. The rollup — per
    * (lang, source) doc volume, gate pass count/share and token mass — is
    * computed from the resting sink after an exactly-once read-back
    * (dropDuplicates on (lang, doc_id): a replayed micro-batch rewrites
    * the same lang partition, so the dedup shuffle stays partition-local,
    * the FeedSources.exactlyOnceView argument).
    *
    * Scale: the in-flight stage is a stateless per-row projection — no
    * watermark, no state store, unbounded rate; the only stateful work is
    * the batch rollup over the sink, a partial-aggregating groupBy bounded
    * at |lang × source| output rows. This is the ingest-side dashboard a
    * corpus pipeline watches while a crawl lands, vs the at-rest reports
    * (corpus_report) run per release. */
  val corpusStreamQa: Q = Q.sql(
    "corpus_stream_qa",
    s"""WITH f AS (SELECT doc_id, lang, source,
       |    ${graft.text.CorpusOps.duckQualityFeatures}
       |  FROM documents),
       |sc AS (SELECT lang, source, n_words,
       |         CASE WHEN ${graft.text.CorpusOps.passAllSql} THEN 1 ELSE 0 END
       |           AS passed
       |       FROM f)
       |SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(passed) AS BIGINT) AS n_pass,
       |  CAST(sum(n_words) AS BIGINT) AS total_words,
       |  round(1.0 * sum(passed) / count(*), 4) AS pass_share
       |FROM sc GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
    val tmp = graft.Scratch.dir("graft-corpus-stream-")
    val scored = graft.text.CorpusOps.withQualityFlags(fileStream(s, d, "documents"))
      .withColumn("passed",
        when(expr(graft.text.CorpusOps.passAllSql), 1).otherwise(0))
      .select("doc_id", "lang", "source", "n_words", "passed")
    drainBatches(scored, s"$tmp/ckpt") { (batch, _) =>
      batch.write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("lang").parquet(s"$tmp/sink")
    }
    corpusQaRollup(s, s"$tmp/sink")
  }

  /** Exactly-once rollup over the at-least-once scored-doc sink — also
    * exercised directly (against a deliberately replayed sink) by
    * StreamingWindowSpec. */
  private[graft] def corpusQaRollup(s: SparkSession, sinkPath: String): DataFrame =
    s.read.parquet(sinkPath)
      .dropDuplicates("lang", "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("passed").as("n_pass"),
        sum("n_words").as("total_words"),
        round(lit(1.0) * sum("passed") / count(lit(1)), 4).as("pass_share"))
      .orderBy("lang", "source")

  /** Streaming twin of TextOps.dedup_incremental — the admit/reject
    * decision AS the ingest runs: incoming documents (the doc_id ≡ 0 mod
    * 10 split) arrive as a file stream; each micro-batch computes its
    * minhash bands in-flight (the SAME shared band definition as the
    * batch op — the two paths cannot drift) and probes the persisted
    * existing-corpus band index, broadcasting the tiny batch side so the
    * index never shuffles for the probe (the batch op's posture, per
    * micro-batch). Verdicts land in an append-only sink; the result is
    * the exactly-once read-back, and the ORACLE IS dedup_incremental's —
    * a crash-replayed streaming ingest must produce byte-identical
    * admit/reject decisions to the batch backfill.
    *
    * Scale: per-ingest-batch cost = one scan of the (MEMORY_AND_DISK)
    * band index + a broadcast of the batch's bands; no watermark state —
    * the dedup state IS the index, maintained outside the stream. */
  val streamDedupIncremental: Q = Q.sqlDual(
    "stream_dedup_incremental",
    graft.text.TextOps.dedupIncremental.oracle.get,
    // same collapsed scale twin as the batch op — the streaming replay
    // must land on identical verdicts at every scale the gate runs
    graft.text.TextOps.dedupIncremental.scaleOracle.get) { (s, d) =>
    val tmp = graft.Scratch.dir("graft-sdi-")
    // the maintained dedup state is the COLLAPSED signature-group index
    // (one row per distinct signature with multiplicity + min id, see
    // TextOps.incrementalVerdicts) — bounded by distinct texts, not
    // corpus rows, and probed per micro-batch without ever shuffling
    val exGroups = graft.text.TextOps.sigGroups(
        graft.text.TextOps.signaturesOf(graft.Tables.documents(s, d)
          .filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val incoming = fileStream(s, d, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text")
    drainBatches(incoming, s"$tmp/ckpt") { (batch, _) =>
      graft.text.TextOps.incrementalVerdicts(exGroups, graft.text.TextOps.signaturesOf(batch))
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$tmp/sink")
    }
    s.read.parquet(s"$tmp/sink").dropDuplicates("doc_id").orderBy("doc_id")
  }

  /** Live sliding-window change-rate alert — the streaming twin of the
    * batch audit_sliding_rate dashboard: 1-hour windows sliding every
    * 15 minutes, maintained as a STATEFUL streaming aggregation (overlap
    * means each event updates 4 windows' state — genuinely different
    * machinery from audit_stream's tumbling rollup), emitted append-mode
    * into a parquet alert sink as the watermark finalizes each window.
    * An alert fires when a window's change count exceeds 1.5× the mean
    * finalized-window load; the comparison is pure integer cross-
    * multiplication (2·n·W > 3·total), so no FP boundary can flip a flag.
    *
    * The emission frontier is part of the contract: append mode publishes
    * exactly the windows whose END the final watermark (max event time −
    * 30 min) has passed — tail windows stay in state, unFINALized, and
    * the oracle reproduces that frontier arithmetically. State is bounded
    * by the watermark horizon (≤ 6 live windows' partial counts per
    * partition at any moment, at any stream length).
    *
    * Streaming constraint honored: no count(DISTINCT) in the stateful
    * agg — entity cardinality belongs to the batch dashboard; the live
    * alert needs only the mergeable count. */
  val streamRateAlert: Q = Q.sql(
    "stream_rate_alert",
    """WITH m AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events),
      |x AS (SELECT ts, unnest([0, 1, 2, 3]) AS k FROM events),
      |w AS (SELECT time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * k)
      |        AS win_start
      |      FROM x),
      |f AS (SELECT win_start, count(*) AS n_changes
      |      FROM w, m
      |      WHERE win_start + INTERVAL 60 MINUTE <= m.wm
      |      GROUP BY 1),
      |t AS (SELECT count(*) AS n_windows,
      |        CAST(sum(n_changes) AS BIGINT) AS total FROM f)
      |SELECT strftime(f.win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
      |  f.n_changes, round(f.n_changes / 60.0, 4) AS rate_per_min,
      |  CAST(2 * f.n_changes * t.n_windows > 3 * t.total AS INT) AS alert
      |FROM f, t ORDER BY win_start""".stripMargin) { (s, d) =>
    val f = drainToSink(readFeed(s, d)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_changes"))
      .select(date_format(col("window.start"), TS).as("win_start"),
        col("n_changes")))
    val t = f.agg(count(lit(1)).as("n_windows"), sum("n_changes").as("total"))
    f.crossJoin(broadcast(t))
      .select(col("win_start"), col("n_changes"),
        round(col("n_changes") / 60.0, 4).as("rate_per_min"),
        (lit(2) * col("n_changes") * col("n_windows") >
          lit(3) * col("total")).cast("int").as("alert"))
      .orderBy("win_start")
  }

  /** Lambda-architecture stitch: history BELOW a cutoff served by one
    * batch pass over the resting table, the tail AT/ABOVE it by the live
    * watermarked stream (hourly windows, drained under AvailableNow), the
    * two legs unioned into one continuous hourly series. This is the
    * backfill+incremental shape every 100 TB deployment actually runs —
    * reprocess deep history in batch, keep the edge streaming — and its
    * classic failure is the seam (an hour double-counted or dropped at
    * the cutoff). The DuckDB oracle is ONE batch rollup over the whole
    * feed with the leg derived from the cutoff predicate, so the gate
    * hash-verifies seam exactness end-to-end: any boundary drift between
    * the legs breaks the compare.
    *
    * Scale: the batch leg is one partial-aggregating groupBy; the stream
    * leg's state is bounded by the watermark horizon (never stream
    * length). The leg runs in UPDATE mode — append mode would hold the
    * final hour windows in state forever (their end never falls behind
    * the terminal watermark), silently dropping the tail of the stitch.
    * Each micro-batch's updated windows land in parquet stamped with the
    * batch id and read-back takes the [[lastWriter]] per hour. */
  val auditStreamBackfill: Q = Q.sql(
    "audit_stream_backfill",
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
       |  CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
       |    THEN 'batch' ELSE 'stream' END AS leg,
       |  count(*) AS n, ${Det.dsumRoundSql("value", 2)} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY h, leg""".stripMargin) { (s, d) =>
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val tmp = graft.Scratch.dir("graft-backfill-")
    val sink = s"$tmp/sink"
    val hourly = readFeed(s, d).filter(col("ts") >= cutoff)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .select(date_format(col("window.start"), TS).as("h"),
        col("n"), col("total_value"))
    drainBatches(hourly, s"$tmp/ckpt", "update") { (b, bid) =>
      b.withColumn("bid", lit(bid)).write.mode("append").parquet(sink)
    }
    val streamLeg = lastWriter(s.read.parquet(sink), "h")
      .select(col("h"), lit("stream").as("leg"), col("n"), col("total_value"))
    val batchLeg = graft.Tables.events(s, d).filter(col("ts") < cutoff)
      .groupBy(date_trunc("hour", col("ts")).as("hh"))
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .select(date_format(col("hh"), TS).as("h"), lit("batch").as("leg"),
        col("n"), col("total_value"))
    batchLeg.unionByName(streamLeg).orderBy("h", "leg")
  }

  /** Streaming as-of enrichment — the in-flight twin of audit_asof_state:
    * every error-class change is enriched, AS IT ARRIVES, with its
    * entity's latest purchase at or before the event time, through the
    * SAME AsOfJoinExec custom operator the batch op plans (foreachBatch
    * applies the as-of join of each micro-batch against the static
    * purchase history — per-row independence makes micro-batching
    * invisible to the result). Enrichment lands append-only and is read
    * back; the ORACLE IS audit_asof_state's, so a crash-replayed
    * streaming enrichment must match the batch reconstruction
    * byte-for-byte. Stateless in-flight (no watermark, no state store):
    * the static side is the only history the operator ever holds. */
  val streamAsofEnrich: Q = Q(
    "stream_asof_enrich",
    { (s: SparkSession, d: String) =>
      val tmp = graft.Scratch.dir("graft-asof-stream-")
      val sink = s"$tmp/sink"
      val purchases = graft.audit.AuditQueries.asofPurchases(
        graft.audit.AuditQueries.log(s, d))
      val errors = readFeed(s, d).filter(col("event_type") === "error")
        .select(col("event_id").as("audit_id"), col("user_id").as("entity_id"),
          col("ts"))
      drainBatches(errors, s"$tmp/ckpt") { (b, bid) =>
        graft.plans.AsOf.join(b, purchases,
            key = ("entity_id", "r_entity"), time = ("ts", "r_ts"))
          .withColumn("bid", lit(bid))
          .write.mode("append").parquet(sink)
      }
      // the last writer per audit_id is what makes the "crash-replayed
      // matches batch byte-for-byte" contract hold under retries
      lastWriter(s.read.parquet(sink), "audit_id")
        .select(graft.audit.AuditQueries.asofColumns("last"): _*)
        .orderBy("audit_id")
    },
    graft.audit.AuditQueries.auditAsofState.oracle)

  /** Watermark-delay design audit for the streaming plane: for each
    * candidate `withWatermark` delay (1 / 5 / 15 min), how many events
    * would arrive BEHIND the watermark cutoff (frontier − delay) and be
    * dropped by stateful operators, and `max_late_s` = how far the worst
    * straggler OVERSHOOTS that cutoff — i.e. how much more delay would
    * have been needed to admit it, NOT its raw distance behind the
    * frontier (overshoot = raw lateness − delay). Arrival
    * order is the ingest sequence (event_id — the feed is append-only,
    * audit.go:627); the frontier is each entity population's running
    * max event time over that order, i.e. the same per-key frontier a
    * partitioned watermark tracker maintains. This is the measurement
    * that turns the watermark constant in stream_rate_alert /
    * audit_sessionize_stream from a guess into a quantified
    * drop-rate-vs-state-size trade.
    *
    * Scale: ONE user-keyed window exchange (the event_paths shape);
    * the 3-delay fan-out explodes AFTER the window and collapses in the
    * same partial aggregation; all lateness arithmetic is integer
    * microseconds (no FP boundary can flip a late flag). Output: 3 rows. */
  val streamLateCurve: Q = Q.sql(
    "stream_late_curve",
    """WITH o AS (
      |  SELECT ts,
      |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS frontier
      |  FROM events),
      |d AS (SELECT CAST(unnest([60, 300, 900]) AS BIGINT) AS delay_s),
      |x AS (SELECT d.delay_s,
      |        CASE WHEN frontier IS NOT NULL
      |              AND epoch_ns(ts) // 1000
      |                  < epoch_ns(frontier) // 1000 - d.delay_s * 1000000
      |             THEN (epoch_ns(frontier) // 1000 - d.delay_s * 1000000
      |                   - epoch_ns(ts) // 1000) // 1000000
      |             ELSE NULL END AS late_s
      |      FROM o CROSS JOIN d)
      |SELECT delay_s, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(late_s) AS BIGINT) AS n_late,
      |  round(1.0 * count(late_s) / count(*), 4) AS late_share,
      |  CAST(coalesce(max(late_s), 0) AS BIGINT) AS max_late_s
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("frontier", max("ts").over(w))
      .select(unix_micros(col("ts")).as("tsu"), unix_micros(col("frontier")).as("fru"))
      .withColumn("delay_s", explode(array(lit(60L), lit(300L), lit(900L))))
      .withColumn("late_s",
        when(col("fru").isNotNull &&
            col("tsu") < col("fru") - col("delay_s") * 1000000L,
          expr("(fru - delay_s * 1000000 - tsu) div 1000000")))
      .groupBy("delay_s")
      .agg(count(lit(1)).cast("long").as("n_events"),
        count(col("late_s")).cast("long").as("n_late"),
        round(lit(1.0) * count(col("late_s")) / count(lit(1)), 4).as("late_share"),
        coalesce(max("late_s"), lit(0L)).cast("long").as("max_late_s"))
      .orderBy("delay_s")
  }

  val all: Seq[Q] = Seq(auditStream, auditStreamJoin, auditSessionizeStream,
    auditStreamDedup, corpusStreamQa, streamDedupIncremental,
    streamRateAlert, auditStreamBackfill, streamAsofEnrich, streamLateCurve)
}
