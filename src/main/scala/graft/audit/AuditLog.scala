package graft.audit

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, GraftPlanFactory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

/** Change-log algebra — the generalized, Spark-native form of the
  * reference's per-table generated audit views.
  *
  * The reference (enova/audit_star, audit/audit.go) materializes, per audited
  * table, an append-only audit table keyed by a monotonic audit id and the
  * row's primary key, and three reconstruction views over it:
  * `*_audit_delta` (audit.go:1051), `*_audit_snapshot` (audit.go:1262) and
  * `*_audit_compare` (audit.go:1362). Postgres reconstructs "the value as of
  * a change" by scanning *forward* for the next `before_change` per key —
  * an O(n) correlated subquery per row. Spark-first, the same semantics are
  * one hash-partitioned window over (pk) ordered by the audit id, reused by
  * every reconstruction — a single shuffle that scales linearly.
  *
  * An audit log here is any DataFrame with:
  *   - `pkCol`  — entity primary key (reference: `primary_key`)
  *   - `seqCol` — monotonic change id (reference: `<table>_audit_id`)
  *   - `operation` — 'I' | 'U' | 'D' (reference `operation`, audit.go:887)
  *   - payload columns: the changed-field values carried by each change
  *     (reference `change`/`before_change` JSON, already extracted).
  */
/** A typed payload column: the audit feed carries the value as an
  * extracted STRING (the reference's JSON `->>` form), and every
  * reconstruction casts its outputs back to `sqlType` — the reference's
  * `(before_change ->> '{col}')::{dataType}` (audit.go:1074 delta,
  * :1262 snapshot, :1362 compare). Keeping the cast at the OUTPUT edge
  * (not on the stored log) matches the reference: the audit table itself
  * is type-erased JSON; only the views are typed. */
final case class TypedField(name: String, sqlType: String)

final case class AuditLog(pkCol: String, seqCol: String) {

  /** One partitioning reused by every reconstruction — at scale this is the
    * single shuffle all audit views share. */
  val byEntity: WindowSpec = Window.partitionBy(pkCol).orderBy(seqCol)
  val running: WindowSpec =
    byEntity.rowsBetween(Window.unboundedPreceding, Window.currentRow)
  private val byEntityDesc: WindowSpec =
    Window.partitionBy(pkCol).orderBy(col(seqCol).desc)

  private val isInsert = col("operation") === "I"
  /** Delete OR truncate: the row no longer exists after either
    * (audit.go:1362 NULLs new_* for both). */
  private val isTerminal = col("operation").isin(AuditModel.terminalOps: _*)

  /** The columns a chain of `withColumn` calls over `cols` gives, in order
    * (a name `df` already has is replaced in place, any other appended),
    * analyzed once per step instead of once per column. No column reads
    * another of the same step. When the step mixes window columns with
    * plain ones, the window columns come from one projection and the plain
    * ones from one above it, where the chain computed them, so a plain
    * column never rides the window's exchange. */
  private[graft] def withAll(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val (win, plain) = cols.partition(c => GraftPlanFactory.isWindowed(c._2))
    if (win.isEmpty || plain.isEmpty) df.withColumns(ListMap(cols: _*))
    else {
      val w = df.withColumns(ListMap(win: _*))
      val byName = plain.toMap
      val had = df.columns.toSet
      w.select(df.columns.toSeq.map(n => byName.get(n).fold(w.col(n))(_.as(n))) ++
        cols.collect { case (n, e) if !had(n) => if (byName.contains(n)) e.as(n) else col(n) }: _*)
    }
  }

  /** Reference `*_audit_delta`: per change, the previous (`old_*`) and
    * current (`new_*`) payload values; old is NULL on inserts. */
  def delta(log: DataFrame, payload: Seq[String]): DataFrame =
    withAll(log, payload.flatMap { c =>
      Seq(s"old_$c" -> when(isInsert, lit(null)).otherwise(lag(col(c), 1).over(byEntity)),
        s"new_$c" -> col(c))
    })

  /** Reference `*_audit_snapshot`: full entity state as of each change —
    * the running last non-null payload value per key. */
  def snapshot(log: DataFrame, payload: Seq[String]): DataFrame =
    withAll(log, payload.map(c => s"state_$c" -> last(col(c), ignoreNulls = true).over(running)))

  /** Reference `*_audit_compare`: both sides fully reconstructed — old
    * state NULL on insert, new state NULL on delete. */
  def compare(log: DataFrame, payload: Seq[String]): DataFrame =
    withAll(snapshot(log, payload), payload.flatMap { c =>
      Seq(s"old_state_$c" ->
          when(isInsert, lit(null)).otherwise(lag(col(s"state_$c"), 1).over(byEntity)),
        s"new_state_$c" -> when(isTerminal, lit(null)).otherwise(col(s"state_$c")))
    })

  /** Each entity's last row by seq, whatever columns it carries — the
    * one top-1 every "latest per entity" view goes through. */
  private[audit] def latest(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(byEntityDesc))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Latest reconstructed state per entity.
    *
    * With `dropDeleted = true` this is the reference's live table: an
    * entity whose history ends in a delete has no row. The default keeps
    * deleted entities' final state visible (the audit-analytics view —
    * "what was this row when it was deleted"). */
  def current(log: DataFrame, payload: Seq[String],
      dropDeleted: Boolean = false): DataFrame = {
    val top = latest(snapshot(log, payload))
    if (dropDeleted) top.filter(!isTerminal) else top
  }

  /** State as of a given point in the change sequence (time travel). */
  def asOf(log: DataFrame, payload: Seq[String], maxSeq: Column): DataFrame =
    current(log.filter(col(seqCol) <= maxSeq), payload)

  // ------------------------------------------------ DuckDB oracle twins --
  // The oracles re-derive every view in DuckDB from the raw feed; these
  // are the one spelling of each reconstruction step they share. Only
  // oracle strings read them.

  /** Twin of `byEntity`: the window specification, for an `OVER (…)`
    * that cannot use the named window `w`. */
  val duckByEntity: String = s"PARTITION BY $pkCol ORDER BY $seqCol"

  /** Twin of `running`. */
  val duckRunning: String =
    s"$duckByEntity ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

  /** Twin of `byEntity`: the named window `w` the old-side lags run over. */
  val duckWindow: String = s"WINDOW w AS ($duckByEntity)"

  /** Twin of `running` + `last(_, ignoreNulls = true)`: `expr`'s last
    * non-null value up to and including this change. */
  def duckLast(expr: String): String =
    s"last_value($expr IGNORE NULLS) OVER ($duckRunning)"

  /** Twin of `snapshot`'s columns: `<prefix>c` per payload field. */
  def duckStates(payload: Seq[String], prefix: String = "state_"): String =
    payload.map(c => s"${duckLast(c)} AS $prefix$c").mkString(",\n    ")

  /** Twin of `latest`: 1 on each entity's last row. */
  val duckLatestRn: String = s"row_number() OVER ($duckByEntity DESC)"

  /** Twin of `snapshot`: the CTE `name` selecting `keep`, the payload's
    * states and any `extra` columns from `from`. */
  def duckSnapCte(name: String, keep: String, payload: Seq[String],
      from: String = "audit", extra: Seq[String] = Nil,
      prefix: String = "state_"): String =
    s"""$name AS (
       |  SELECT $keep,
       |    ${(duckStates(payload, prefix) +: extra).mkString(",\n    ")}
       |  FROM $from)""".stripMargin

  /** Twin of the old side of `delta` and `compare`: NULL on insert, else
    * the previous change's `c` over `w` ([[duckWindow]]). */
  def duckOld(c: String): String = s"CASE WHEN operation = 'I' THEN NULL ELSE lag($c) OVER w END"

  /** Twin of the new side of `compare`: NULL after a delete or truncate. */
  def duckNew(c: String): String =
    s"CASE WHEN operation IN (${AuditModel.terminalOps.map(o => s"'$o'").mkString(", ")})" +
      s" THEN NULL ELSE $c END"

  /** Twin of `delta`: `old_c`, `new_c` per payload field. */
  def duckDelta(payload: Seq[String]): String =
    payload.map(c => s"${duckOld(c)} AS old_$c,\n  $c AS new_$c").mkString(",\n  ")

  /** Twin of `compare` over `state_c` columns: `old_state_c`, `new_state_c`. */
  def duckCompare(payload: Seq[String]): String =
    payload.map { c =>
      s"${duckOld(s"state_$c")} AS old_state_$c,\n  ${duckNew(s"state_$c")} AS new_state_$c"
    }.mkString(",\n  ")

  // ------------------------------------------- statement-level truncate --

  /** Per-row table-wide truncation boundary + per-field raw state and the
    * seq of the change that set it — shared by the truncate-aware
    * reconstructions.
    *
    * A TRUNCATE is statement-level in the reference (its own trigger,
    * audit.go:854-951): ONE audit row, and the whole table is gone. T rows
    * are therefore rare and the full T-seq set aggregates into a single
    * broadcast row — the boundary lookup is an array scan per row, never a
    * global (unpartitioned) running window, which would serialize 100 TB
    * through one task. */
  private def truncStates(log: DataFrame, payload: Seq[String]): DataFrame = {
    val tset = log.filter(col("operation") === "T")
      .agg(sort_array(collect_list(col(seqCol))).as("__t_seqs"))
    // the latest T seq ≤ this row's seq: an O(log |T|) native binary
    // search per row (ArrayBucket counts the T seqs ≤ seq; `get` of
    // count - 1 is NULL when the count is 0) — the lambda-filter scan it
    // replaces was O(|T|) per row, and |T| grows with history length
    // (measured 48 s at sf1, |T| ≈ 3 000 × 1 M rows)
    val withB = log.crossJoin(broadcast(tset))
      .withColumn("__t_boundary", get(col("__t_seqs"),
        graft.GraftFunctions.graftArrayBucket(col("__t_seqs"), col(seqCol)) - 1))
      .drop("__t_seqs")
    withAll(withB, payload.flatMap { c =>
      Seq(s"__raw_$c" -> last(col(c), ignoreNulls = true).over(running),
        s"__src_$c" ->
          last(when(col(c).isNotNull, col(seqCol)), ignoreNulls = true).over(running))
    })
  }

  /** True iff a value whose source seq is `src` was wiped: a truncate
    * boundary exists and the value predates it (or never existed). */
  private def wiped(src: Column): Column =
    col("__t_boundary").isNotNull && (src.isNull || src <= col("__t_boundary"))

  private def dropTruncInternals(df: DataFrame, payload: Seq[String]): DataFrame =
    df.drop("__t_boundary" +: payload.flatMap(c => Seq(s"__raw_$c", s"__src_$c")): _*)

  /** Snapshot under statement-level TRUNCATE semantics (audit.go:854-951):
    * a T wipes the WHOLE table, so every entity's state is NULL between a
    * T and that entity's next value-bearing change — state survives only
    * if the change that set it is newer than the latest T boundary. */
  def snapshotTruncAware(log: DataFrame, payload: Seq[String]): DataFrame = {
    val st = truncStates(log, payload)
    dropTruncInternals(withAll(st, payload.map { c =>
      s"state_$c" -> when(wiped(col(s"__src_$c")), lit(null)).otherwise(col(s"__raw_$c"))
    }), payload)
  }

  /** Compare under statement-level TRUNCATE (audit.go:1362): old state is
    * NULL on insert OR when the prior value was wiped by a truncate at or
    * before this change; new state is NULL after delete/truncate. */
  def compareTruncAware(log: DataFrame, payload: Seq[String]): DataFrame = {
    val st = truncStates(log, payload)
    dropTruncInternals(withAll(st, payload.flatMap { c =>
      val pRaw = lag(col(s"__raw_$c"), 1).over(byEntity)
      val pSrc = lag(col(s"__src_$c"), 1).over(byEntity)
      val cur = when(wiped(col(s"__src_$c")), lit(null)).otherwise(col(s"__raw_$c"))
      Seq(s"state_$c" -> cur,
        s"old_state_$c" -> when(isInsert, lit(null)).when(wiped(pSrc), lit(null)).otherwise(pRaw),
        s"new_state_$c" -> when(isTerminal, lit(null)).otherwise(cur))
    }), payload)
  }

  // ----------------------------------------------- old-values (before_change) --

  /** Rows strictly after the current change, nearest last — the forward
    * scan the reference implements as a correlated `DISTINCT ON ... WHERE
    * spa.audit_id > audit_id ORDER BY audit_id` subquery per row
    * (audit.go:1051, audit.go:1262). Walked in descending seq order it is
    * a frame that grows one row at a time, so a running aggregate over it
    * is linear in an entity's history; the ascending
    * `rowsBetween(1, unboundedFollowing)` form re-aggregates the whole
    * tail for every row (quadratic). Same (pk) partitioning as every other
    * reconstruction, so no extra exchange. */
  private val later: WindowSpec =
    byEntityDesc.rowsBetween(Window.unboundedPreceding, -1)

  /** Joins the live table (pk + payload columns) and coalesces each
    * `state_c` with the live value — the reference's `row_to_json` lateral
    * fallback for fields never touched by any later change. */
  private def withLiveFallback(df: DataFrame, payload: Seq[String],
      live: Option[DataFrame]): DataFrame = live match {
    case None => df
    case Some(l) =>
      val lv = l.select(
        col(pkCol).as("__live_pk") +: payload.map(c => col(c).as(s"__live_$c")): _*)
      withAll(df.join(lv, col(pkCol) === col("__live_pk"), "left"),
        payload.map(c => s"state_$c" -> coalesce(col(s"state_$c"), col(s"__live_$c"))))
        .drop("__live_pk" +: payload.map(c => s"__live_$c"): _*)
  }

  /** Reconstruction for feeds that carry OLD values — the reference's
    * native capture format, where each audit row's `before_change` holds
    * the prior value of exactly the fields that change touched.
    *
    * The state of field c just after change i is the old value carried by
    * the NEXT change that touched c (first non-null `old_c` strictly after
    * i), falling back to the live row when no later change touched it.
    * Matches `createAuditSnapshotView`'s COALESCE chain (audit.go:1262). */
  def snapshotFromOld(log: DataFrame, payload: Seq[String],
      live: Option[DataFrame] = None): DataFrame = {
    val states = withAll(log,
      payload.map(c => s"state_$c" -> last(col(s"old_$c"), ignoreNulls = true).over(later)))
    withLiveFallback(states, payload, live)
  }

  /** Delta view over an old-values feed: `old_c` is the row's own
    * before_change (NULL on insert — nothing preceded it), `new_c` the
    * forward-reconstructed state (NULL on delete — the reference's change
    * payload is NULL for D). Matches `createAuditDeltaView`'s I-row
    * backfill (audit.go:1051). */
  def deltaFromOld(log: DataFrame, payload: Seq[String],
      live: Option[DataFrame] = None): DataFrame = {
    withAll(snapshotFromOld(log, payload, live), payload.flatMap { c =>
      Seq(s"old_$c" -> when(isInsert, lit(null)).otherwise(col(s"old_$c")),
        s"new_$c" -> when(isTerminal, lit(null)).otherwise(col(s"state_$c")))
    }).drop(payload.map(c => s"state_$c"): _*)
  }
}
