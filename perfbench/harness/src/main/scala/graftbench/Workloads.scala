package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.audit.{AuditLog, AuditQueries, AuditStorage}
import graft.sources.FeedSources
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What an op can reach while it runs: the session and the span recorder
  * (a no-op in the untraced run). */
final class Ctx(val spark: SparkSession, tracer: Option[Tracer]) {
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** One call sequence the closed-loop client times as a unit. `layer` names
  * the engine function it exercises (`<layer>.<function>`); `rowsIn` is
  * the input it consumes, the numerator of the workload's rows/s; `run`
  * returns the rows it handed back to the client. */
final case class Op(name: String, layer: String, rowsIn: Long, run: Ctx => Long)

trait Workload {
  /** Set-up that is part of the workload, not of the session (counts in
    * setup_s and is repeated with every set-up). */
  def prepare(ctx: Ctx): Unit = ()
  def warmup: Seq[Op]
  /** Ops of measured iteration `i`. */
  def iteration(i: Int): Seq[Op]
  /** Untimed output checks: the manifest of what the checker compares
    * (writing whatever it needs first). */
  def check(ctx: Ctx): Seq[Map[String, Any]]
}

object Workload {
  def apply(name: String, data: String, work: String, props: Map[String, String]): Workload =
    name match {
      case "audit_rebuild_capture" => new Both(
        new QueryPasses(data, work, AuditRebuild.views, props("rows").toLong),
        new AuditCapture(data, work, props("slice_rows").toLong))
      case "corpus_dedup" => new QueryPasses(data, work, CorpusDedup.ops,
        props("docs").toLong, Map("vector" -> props("vectors").toLong))
      case "audit_lookup" => new AuditLookup(data, props("buckets").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Materializes a frame without shipping rows to the client. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}

/** Two workloads over the same inputs as one: every iteration runs an
  * iteration of each. */
final class Both(a: Workload, b: Workload) extends Workload {
  override def prepare(ctx: Ctx): Unit = { a.prepare(ctx); b.prepare(ctx) }
  def warmup: Seq[Op] = a.warmup ++ b.warmup
  def iteration(i: Int): Seq[Op] = a.iteration(i) ++ b.iteration(i)
  def check(ctx: Ctx): Seq[Map[String, Any]] = a.check(ctx) ++ b.check(ctx)
}

/** A fixed family of registered operators (`SparkEntry.queries`), each
  * materialized to a noop sink; one iteration runs every operator once,
  * so a run holds whole passes and the op mix never depends on where the
  * clock ran out. The warm-up pass writes each operator's result as
  * parquet instead, and the check compares it with the operator's DuckDB
  * oracle (`SparkEntry.oracleSql`) over the same generated files. */
final class QueryPasses(data: String, work: String, ops: Seq[(String, String)], rows: Long,
    rowsByLayer: Map[String, Long] = Map.empty) extends Workload {

  private def out(name: String) = s"$work/checks/$name"

  private def op(name: String, layer: String, save: Boolean): Op = {
    val rowsIn = rowsByLayer.getOrElse(layer.takeWhile(_ != '.'), rows)
    Op(name, layer, rowsIn, ctx => ctx.span(layer) {
      val df = SparkEntry.queries(name)(ctx.spark, data)
      if (save) df.write.mode("overwrite").parquet(out(name)) else Workload.noop(df)
      0L
    })
  }

  def warmup: Seq[Op] = ops.map { case (n, l) => op(n, l, save = true) }
  private val pass = ops.map { case (n, l) => op(n, l, save = false) }
  def iteration(i: Int): Seq[Op] = pass

  def check(ctx: Ctx): Seq[Map[String, Any]] = ops.map { case (name, _) =>
    Map("kind" -> "oracle", "name" -> name, "spark" -> out(name),
      "sql" -> SparkEntry.oracleSql(name))
  }
}

object AuditRebuild {
  /** The audit_star view family, each with the layer function it drives. */
  val views: Seq[(String, String)] = Seq(
    "audit_log" -> "sources.scan",               // AuditQueries.log
    "audit_delta" -> "audit.delta",              // AuditLog.delta
    "audit_snapshot" -> "audit.snapshot",        // AuditLog.snapshot
    "audit_compare" -> "audit.compare",          // AuditLog.compare
    "audit_current" -> "audit.current",          // AuditLog.current
    "audit_truncate_reset" -> "audit.trunc_aware", // AuditLog.compareTruncAware
    "audit_delta_old" -> "audit.delta_old",      // AuditLog.deltaFromOld
    "audit_asof_state" -> "plans.asof_join")     // plans.AsOf.join
}

object CorpusDedup {
  /** One MinHash dedup entry (native graft_minhash_sig) and the k-means IVF
    * and brute-force top-k ANN entries (native graft_cosine). The slower
    * dedup families (dedup_components / dedup_cluster_stats closure,
    * dedup_minhash_calib) are left out: 3-5 s per call even at 400 docs on
    * 4 cores, they do not fit a run's time budget next to the audit
    * workloads. */
  val ops: Seq[(String, String)] = Seq(
    "dedup_minhash" -> "text.dedup_minhash",
    "ann_ivf_kmeans" -> "vector.ann_ivf_kmeans",
    "ann_topk" -> "vector.ann_topk")
}

final case class Question(kind: String, entity: Long, seq: Long)

/** Point-in-time questions against the bucketed audit table: one
  * closed-loop client, one question per op, answers collected to the
  * client. Every answer is kept for the DuckDB point-query check. */
final class AuditLookup(data: String, buckets: Int) extends Workload {
  private val table = "perfbench_audit"
  private val alg = AuditLog("entity_id", "audit_id")
  private val payload = Seq("k", "val")

  private val questions: IndexedSeq[Question] =
    Json.mapper.readValue(new java.io.File(s"$data/questions.json"), classOf[Array[Question]])
      .toIndexedSeq
  private val answers = ArrayBuffer[Map[String, Any]]()

  override def prepare(ctx: Ctx): Unit = ctx.span("audit.write_bucketed") {
    val log = AuditQueries.log(ctx.spark, data)
      .select(col("audit_id"), col("entity_id"), col("operation"), col("ts"),
        col("event_type"), col("value"),
        when(col("operation") === "U", col("field_k")).as("k"),
        when(col("event_type") === "purchase", col("value")).as("val"))
    AuditStorage.rewriteBucketed(ctx.spark, log, table, buckets)
  }

  private def layerOf(kind: String): String =
    if (kind == "asof_join") "plans.asof_join" else s"audit.$kind"

  private def answer(ctx: Ctx, q: Question): Seq[Row] = {
    val t = ctx.span("sources.read")(AuditStorage.read(ctx.spark, table))
      .filter(col("entity_id") === q.entity)
    q.kind match {
      case "asof" => ctx.span(layerOf(q.kind)) {
        alg.asOf(t, payload, lit(q.seq))
          .select("entity_id", "audit_id", "operation", "state_k", "state_val")
          .collect().toSeq
      }
      case "current" => ctx.span(layerOf(q.kind)) {
        alg.current(t, payload)
          .select("entity_id", "audit_id", "operation", "state_k", "state_val")
          .collect().toSeq
      }
      case "asof_join" => ctx.span(layerOf(q.kind)) {
        val l = t.filter(col("event_type") === "error").select("audit_id", "entity_id", "ts")
        val r = t.filter(col("event_type") === "purchase")
          .select(col("entity_id").as("r_entity"), col("ts").as("r_ts"), col("value").as("r_value"))
        graft.plans.AsOf.join(l, r, key = ("entity_id", "r_entity"), time = ("ts", "r_ts"))
          .select(col("audit_id"), col("r_value"), unix_micros(col("r_ts")).as("r_ts_us"))
          .orderBy("audit_id")
          .collect().toSeq
      }
    }
  }

  private def op(q: Question, record: Boolean): Op =
    Op(s"lookup_${q.kind}", layerOf(q.kind), 1L, ctx => {
      val rows = answer(ctx, q)
      if (record) answers += Map("kind" -> q.kind, "entity" -> q.entity, "seq" -> q.seq,
        "rows" -> rows.map(_.toSeq))
      rows.size.toLong
    })

  // warm-up asks from the end of the list, the measured loop from the start
  def warmup: Seq[Op] = questions.takeRight(6).map(op(_, record = false))
  def iteration(i: Int): Seq[Op] = Seq(op(questions(i % questions.size), record = true))

  def check(ctx: Ctx): Seq[Map[String, Any]] =
    Seq(Map("kind" -> "lookup", "answers" -> answers.toSeq))
}

/** Capture path: each op lands one feed slice in a fresh append-only
  * day-partitioned sink through the streaming capture, reads it back
  * exactly-once and runs the windowed rollup over it — slice landed to
  * rollup queryable. */
final class AuditCapture(data: String, work: String, sliceRows: Long) extends Workload {
  private val slices: IndexedSeq[String] = new java.io.File(s"$data/slices")
    .listFiles().filter(_.isDirectory).map(_.getPath).sorted.toIndexedSeq
  private val results = ArrayBuffer[Map[String, Any]]()
  private var lastSink: Option[String] = None
  private var nextDir = 0

  private def op(slice: Int, record: Boolean): Op =
    Op("capture", "streaming.capture", sliceRows, ctx => {
      val spark = ctx.spark
      val dir = s"$work/capture/op-$nextDir"
      nextDir += 1
      val sink = s"$dir/sink"
      ctx.span("streaming.capture") {
        EventStream.captureToAuditSink(spark, slices(slice), sink, s"$dir/ckpt")
      }
      val n = ctx.span("sources.exactly_once_read") {
        FeedSources.exactlyOnceView(spark, sink).count()
      }
      val rollup = ctx.span("streaming.rollup") {
        EventStream.windowedRollup(FeedSources.exactlyOnceView(spark, sink)).collect()
      }
      lastSink.foreach(Dirs.delete)
      lastSink = Some(dir)
      if (record) {
        val files = Dirs.files(sink).filter(_.getName.endsWith(".parquet"))
        results += Map("slice" -> slices(slice), "exactly_once_rows" -> n,
          "sink_files" -> files.size, "sink_bytes" -> files.map(_.length).sum,
          "rollup" -> rollup.toSeq.map(_.toSeq))
      }
      n
    })

  def warmup: Seq[Op] = Seq(op(slices.size - 1, record = false))
  def iteration(i: Int): Seq[Op] = Seq(op(i % slices.size, record = true))

  /** The live sink must refuse an overwrite (the append-only guarantee). */
  def check(ctx: Ctx): Seq[Map[String, Any]] = {
    val guard = lastSink.map { d =>
      val spark = ctx.spark
      try {
        FeedSources.writeGuarded(spark.read.parquet(s"$d/sink").drop("day"), s"$d/sink",
          SaveMode.Overwrite)
        "overwrite accepted"
      } catch { case _: UnsupportedOperationException => "refused" }
    }.getOrElse("no sink")
    Seq(Map("kind" -> "capture", "ops" -> results.toSeq, "overwrite_guard" -> guard))
  }
}

object Dirs {
  def files(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => files(c.getPath))
    else if (f.isFile) Seq(f) else Nil
  }

  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }
}
