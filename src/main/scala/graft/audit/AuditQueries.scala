package graft.audit

import graft.{Det, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's audit-analytics surface over the `events` change feed.
  *
  * Mapping (see SURVEY.md §2A): `event_id` = monotonic audit id
  * (reference `<table>_audit_id`), `user_id` = entity primary key,
  * `event_type` → operation class over the full I/U/D/T domain
  * (AuditModel.operation — the reference's `substring(TG_OP,1,1)`,
  * audit.go:892, plus the statement-level truncate trigger,
  * audit.go:854), `props` = JSON change payload (reference `change`),
  * `value` = audited measure. Capture metadata (changed_by / db_user /
  * client_addr / client_port / client_query, audit.go:773-816) is
  * synthesized deterministically in AuditModel so both engines derive
  * identical values.
  *
  * Payload sparsity mirrors the reference trigger, which records a field
  * only when it actually changed (hstore OLD-NEW diff, audit.go:889): the
  * `k` payload field is carried only by U operations, `val` only by
  * 'purchase' changes — so snapshot/compare must genuinely scan for the
  * nearest non-null value per key, as the reference views do.
  */
object AuditQueries {

  private val alg = AuditLog("entity_id", "audit_id")
  private val TS = "yyyy-MM-dd HH:mm:ss"

  /** Normalized audit log (Spark side). */
  def log(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id").as("audit_id"),
      col("user_id").as("entity_id"),
      AuditModel.operation.as("operation"),
      col("ts"),
      get_json_object(col("props"), "$.k").cast("int").as("field_k"),
      col("value"),
      col("event_type"),
      AuditModel.changedBy.as("changed_by"),
      AuditModel.dbUser.as("db_user"),
      AuditModel.clientAddr.as("client_addr"),
      AuditModel.clientPort.as("client_port"),
      AuditModel.clientQuery.as("client_query"),
      AuditModel.changeReason.as("change_reason"))

  /** Adds the sparse payload columns used by snapshot/compare. */
  private def sparse(df: DataFrame): DataFrame = df.select(col("*"),
    when(col("operation") === "U", col("field_k")).as("k"),
    when(col("event_type") === "purchase", col("value")).as("val"))

  /** Adds `n_changes`, each entity's change count, as the ascending
    * position: on the last row — the one `current` keeps — it equals the
    * count, and it rides the snapshot's own sort. BIGINT, like the
    * oracle's `count(*)`. */
  private def withChangeCount(df: DataFrame): DataFrame =
    df.withColumn("n_changes", row_number().over(alg.byEntity).cast("long"))

  /** Gap sessions per entity: a change opens a new session when it is the
    * entity's first or comes more than 30 minutes after the previous one;
    * `session_id` is the running count of opened sessions. */
  private def withSessionId(df: DataFrame): DataFrame = {
    val secs = unix_timestamp(col("ts"))
    val opens = when(lag(col("audit_id"), 1).over(alg.byEntity).isNull, 1)
      .when(secs - lag(secs, 1).over(alg.byEntity) > 1800, 1)
      .otherwise(0)
    df.withColumn("__new_session", opens)
      .withColumn("session_id", sum("__new_session").over(alg.running))
      .drop("__new_session")
  }

  /** DuckDB twin of [[withSessionId]] over `audit`: the CTEs `marked` and
    * `sessions`, the latter with the `keep` columns (`entity_id` among
    * them) and the BIGINT `session_id`. */
  private def duckSessionCtes(keep: String): String =
    s"""marked AS (
       |  SELECT $keep, audit_id,
       |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
       |           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
       |         THEN 1
       |         WHEN lag(audit_id) OVER w IS NULL
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM audit ${alg.duckWindow}),
       |sessions AS (
       |  SELECT $keep,
       |    CAST(sum(new_session) OVER (${alg.duckRunning}) AS BIGINT) AS session_id
       |  FROM marked)""".stripMargin

  /** Oracle-side twin of `log` + `sparse` (DuckDB dialect). */
  private val auditCte =
    s"""WITH audit AS (
       |  SELECT event_id AS audit_id, user_id AS entity_id,
       |    ${AuditModel.operationSql} AS operation,
       |    ts,
       |    CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT) AS field_k,
       |    value, event_type,
       |    ${AuditModel.changedBySql} AS changed_by,
       |    ${AuditModel.dbUserSql} AS db_user,
       |    ${AuditModel.clientAddrSql} AS client_addr,
       |    ${AuditModel.clientPortSql} AS client_port,
       |    ${AuditModel.clientQuerySql} AS client_query,
       |    ${AuditModel.changeReasonSql} AS change_reason,
       |    CASE WHEN event_type NOT IN ('signup', 'error')
       |      THEN CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT) END AS k,
       |    CASE WHEN event_type = 'purchase' THEN value END AS val
       |  FROM events)
       |""".stripMargin

  /** The (k, val) snapshot CTE with `rn` = 1 on each entity's last row. */
  private def latestSnap(name: String, keep: String, from: String): String =
    alg.duckSnapCte(name, keep, Seq("k", "val"), from, Seq(s"${alg.duckLatestRn} AS rn"))

  /** `rn` = 1 on each entity's last row, plus its change count. */
  private val latestWithCount =
    Seq(s"${alg.duckLatestRn} AS rn", "count(*) OVER (PARTITION BY entity_id) AS n_changes")

  // ---------------------------------------------------------------- ops --

  /** Feed normalization — the reference's raw audit table projection. */
  val auditLog: Q = Q.sql(
    "audit_log",
    auditCte +
      """SELECT audit_id, entity_id, operation,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS changed_at, field_k, value
        |FROM audit ORDER BY audit_id""".stripMargin) { (s, d) =>
    log(s, d).select(
        col("audit_id"), col("entity_id"), col("operation"),
        date_format(col("ts"), TS).as("changed_at"), col("field_k"), col("value"))
      .orderBy("audit_id")
  }

  /** Reference `*_audit_delta` (audit.go:1051). */
  val auditDelta: Q = Q.sql(
    "audit_delta",
    auditCte +
      s"""SELECT audit_id, entity_id, operation,
        |  ${alg.duckDelta(Seq("field_k", "value"))}
        |FROM audit
        |${alg.duckWindow}
        |ORDER BY audit_id""".stripMargin) { (s, d) =>
    alg.delta(log(s, d), Seq("field_k", "value"))
      .select("audit_id", "entity_id", "operation",
        "old_field_k", "new_field_k", "old_value", "new_value")
      .orderBy("audit_id")
  }

  /** Reference delta over an OLD-values feed (`before_change` capture,
    * audit.go:1051): each audit row carries the value it overwrote; the
    * new value is reconstructed by scanning *forward* for the next
    * non-null before_change per key, falling back to the live row. The
    * old-values feed here is derived deterministically from the events
    * history (each change carries its predecessor's value), the live table
    * from each entity's final row — so the oracle can reproduce the exact
    * same reconstruction. */
  val auditDeltaOld: Q = Q.sql(
    "audit_delta_old",
    auditCte + s""", old_feed AS (
      |  SELECT audit_id, entity_id, operation, value,
      |    lag(value) OVER w AS old_value
      |  FROM audit ${alg.duckWindow}),
      |live AS (
      |  SELECT entity_id, value AS live_value
      |  FROM (SELECT entity_id, value,
      |          ${alg.duckLatestRn} AS rn
      |        FROM audit) WHERE rn = 1),
      |rec AS (
      |  SELECT audit_id, entity_id, operation,
      |    CASE WHEN operation = 'I' THEN NULL ELSE old_value END AS old_value,
      |    ${alg.duckNew(s"coalesce(${alg.duckNext("old_value")}, live_value)")} AS new_value
      |  FROM old_feed JOIN live USING (entity_id))
      |SELECT audit_id, entity_id, operation, old_value, new_value
      |FROM rec ORDER BY audit_id""".stripMargin) { (s, d) =>
    val base = log(s, d)
    val oldFeed = base.withColumn("old_value", lag("value", 1).over(alg.byEntity))
    val live = alg.latest(base).select(col("entity_id"), col("value"))
    alg.deltaFromOld(oldFeed, Seq("value"), Some(live))
      .select("audit_id", "entity_id", "operation", "old_value", "new_value")
      .orderBy("audit_id")
  }

  /** Reference `*_audit_snapshot` (audit.go:1262): state as of each change. */
  val auditSnapshot: Q = Q.sql(
    "audit_snapshot",
    auditCte +
      s"""SELECT audit_id, entity_id,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS changed_at,
         |  row_number() OVER w AS change_seq,
         |  ${alg.duckStates(Seq("k", "val"))}
         |FROM audit ${alg.duckWindow} ORDER BY audit_id""".stripMargin) { (s, d) =>
    alg.snapshot(sparse(log(s, d)), Seq("k", "val"))
      .select(
        col("audit_id"), col("entity_id"), date_format(col("ts"), TS).as("changed_at"),
        row_number().over(alg.byEntity).as("change_seq"),
        col("state_k"), col("state_val"))
      .orderBy("audit_id")
  }

  /** Reference `*_audit_compare` (audit.go:1362): old+new reconstructed. */
  val auditCompare: Q = Q.sql(
    "audit_compare",
    auditCte + s""", ${alg.duckSnapCte("snap", "audit_id, entity_id, operation", Seq("k", "val"))}
      |SELECT audit_id, entity_id, operation,
      |  ${alg.duckCompare(Seq("k", "val"))}
      |FROM snap
      |${alg.duckWindow}
      |ORDER BY audit_id""".stripMargin) { (s, d) =>
    alg.compare(sparse(log(s, d)), Seq("k", "val"))
      .select("audit_id", "entity_id", "operation",
        "old_state_k", "new_state_k", "old_state_val", "new_state_val")
      .orderBy("audit_id")
  }

  /** Reference views-only mode (`auditViewsOnly`, audit.go:516; flag
    * audit.go:34): regenerate the analytical views over an audit table
    * that already exists, capture untouched. The Spark side first
    * materializes the audit sink (bucketed+sorted by entity — the
    * btree-equivalent layout, AuditStorage), then AuditViews.rebuild
    * derives delta + snapshot + compare reading ONLY the written sink;
    * the bucketed scan satisfies the windows' distribution so the rebuild
    * itself plans zero data shuffles (pinned in PlanShapeSpec — the one
    * exchange in this op is the contractual output ORDER BY). The oracle
    * recomputes the same views from the raw feed, so the hash also proves
    * sink round-trip fidelity. */
  val auditViewsOnly: Q = Q.sql(
    "audit_views_only",
    auditCte + s""", ${alg.duckSnapCte("snap", "audit_id, entity_id, operation, k, val",
        Seq("k", "val"))}
      |SELECT audit_id, entity_id, operation, state_k, state_val,
      |  ${alg.duckCompare(Seq("k", "val"))},
      |  ${alg.duckDelta(Seq("k", "val"))}
      |FROM snap
      |${alg.duckWindow}
      |ORDER BY audit_id""".stripMargin) { (s, d) =>
    AuditStorage.rewriteBucketed(s,
      sparse(log(s, d)).select("audit_id", "entity_id", "operation", "k", "val"),
      table = "graft_audit_sink", buckets = 8)
    val cfg = AuditConfig.parse(
      """views_only: true
        |changed_by: app.changed_by""".stripMargin)
    AuditViews.rebuild(s, cfg, "graft_audit_sink")
      .select("audit_id", "entity_id", "operation", "state_k", "state_val",
        "old_state_k", "new_state_k", "old_state_val", "new_state_val",
        "old_k", "new_k", "old_val", "new_val")
      .orderBy("audit_id")
  }

  /** views_only at realistic table width and with real types — the
    * reference's RunAll loop regenerates views over ALL columns of each
    * audited table, each cast back to its source type (per-table column
    * discovery `tableColumns` audit.go:1208; typed view expressions
    * audit.go:1074/:1262/:1362). Here a SIX-field type-erased sink
    * (int / decimal / string / int / string / bigint payloads, stored as
    * strings — the audit table is JSON in the reference) is written
    * bucketed, the config's include-list admits it, and
    * AuditViews.rebuildTyped discovers the payload from the sink schema
    * and derives typed snapshot + compare columns reading only the sink —
    * still zero data shuffles (bucketed scan feeds every window;
    * PlanShapeSpec pin). The oracle recomputes from the raw feed, so the
    * hash also proves typed sink round-trip fidelity. */
  val auditViewsTyped: Q = {
    val sel = Seq("audit_id", "entity_id", "operation",
      "state_w_k", "state_w_val", "state_w_tag", "state_w_cnt",
      "state_w_who", "state_w_init",
      "old_state_w_val", "new_state_w_val",
      "old_state_w_cnt", "new_state_w_cnt")
    Q.sql(
      "audit_views_typed",
      auditCte + s""", typed AS (
        |  SELECT audit_id, entity_id, operation,
        |    CAST(k AS VARCHAR) AS w_k,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) END AS w_val,
        |    CASE WHEN event_type = 'view'
        |      THEN 'v' || CAST(audit_id % 10 AS VARCHAR) END AS w_tag,
        |    CASE WHEN event_type = 'click'
        |      THEN CAST(audit_id % 97 AS VARCHAR) END AS w_cnt,
        |    CASE WHEN event_type = 'signup' THEN changed_by END AS w_who,
        |    CASE WHEN event_type = 'signup'
        |      THEN CAST(CAST(floor(value * 100) AS BIGINT) % 1000 AS VARCHAR) END AS w_init
        |  FROM audit),
        |${alg.duckSnapCte("snap", "audit_id, entity_id, operation",
          Seq("w_k", "w_val", "w_tag", "w_cnt", "w_who", "w_init"), from = "typed",
          prefix = "s_")}
        |SELECT audit_id, entity_id, operation,
        |  CAST(s_w_k AS INT) AS state_w_k,
        |  CAST(CAST(s_w_val AS DECIMAL(12,2)) AS DOUBLE) AS state_w_val,
        |  s_w_tag AS state_w_tag,
        |  CAST(s_w_cnt AS INT) AS state_w_cnt,
        |  s_w_who AS state_w_who,
        |  CAST(s_w_init AS BIGINT) AS state_w_init,
        |  CAST(CAST(${alg.duckOld("s_w_val")} AS DECIMAL(12,2)) AS DOUBLE) AS old_state_w_val,
        |  CAST(CAST(${alg.duckNew("s_w_val")} AS DECIMAL(12,2)) AS DOUBLE) AS new_state_w_val,
        |  CAST(${alg.duckOld("s_w_cnt")} AS INT) AS old_state_w_cnt,
        |  CAST(${alg.duckNew("s_w_cnt")} AS INT) AS new_state_w_cnt
        |FROM snap
        |${alg.duckWindow}
        |ORDER BY audit_id""".stripMargin) { (s, d) =>
      val typed = sparse(log(s, d)).select(
        col("audit_id"), col("entity_id"), col("operation"),
        col("k").cast("string").as("w_k"),
        when(col("event_type") === "purchase",
          col("value").cast("decimal(12,2)").cast("string")).as("w_val"),
        when(col("event_type") === "view",
          concat(lit("v"), (col("audit_id") % 10).cast("string"))).as("w_tag"),
        when(col("event_type") === "click",
          (col("audit_id") % 97).cast("string")).as("w_cnt"),
        when(col("event_type") === "signup", col("changed_by")).as("w_who"),
        when(col("event_type") === "signup",
          (floor(col("value") * 100).cast("long") % 1000).cast("string")).as("w_init"))
      AuditStorage.rewriteBucketed(s, typed,
        table = "graft_audit_sink_typed", buckets = 8)
      val cfg = AuditConfig.parse(
        """views_only: true
          |changed_by: app.changed_by
          |included_tables:
          |  - graft_audit_sink_typed""".stripMargin)
      val fields = Seq(
        TypedField("w_k", "int"), TypedField("w_val", "decimal(12,2)"),
        TypedField("w_tag", "string"), TypedField("w_cnt", "int"),
        TypedField("w_who", "string"), TypedField("w_init", "bigint"))
      val rebuilt = AuditViews.rebuildTyped(s, cfg, "graft_audit_sink_typed", fields)
      rebuilt
        .select(sel.map {
          // decimal-typed reconstruction surfaced as DOUBLE (Det
          // convention: exact work in decimal space, float at the edge)
          case c if c.endsWith("w_val") => col(c).cast("double").as(c)
          case c => col(c)
        }: _*)
        .orderBy("audit_id")
    }
  }

  /** Typed payload reconstruction (audit.go:1074, :1262): the reference
    * stores change payloads as type-erased JSON and each generated view
    * casts every extracted value back to the source column's type —
    * `(before_change ->> '{col}')::{dataType}`. Here the feed carries an
    * INT, a DECIMAL(12,2) and a DATE field as extracted strings (the
    * `->>` form, built with cast/strftime arithmetic shared by both
    * engines), reconstruction runs on the strings, and the output select
    * casts back — delta old/new pairs plus a typed snapshot state column. */
  val auditTypedDelta: Q = Q.sql(
    "audit_typed_delta",
    auditCte + s""", typed AS (
      |  SELECT audit_id, entity_id, operation,
      |    CAST(k AS VARCHAR) AS k_s,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) END AS amount_s,
      |    CASE WHEN operation = 'I' THEN strftime(ts, '%Y-%m-%d') END AS day_s
      |  FROM audit)
      |SELECT audit_id, entity_id, operation,
      |  CAST(${alg.duckOld("k_s")} AS INT) AS old_k,
      |  CAST(k_s AS INT) AS new_k,
      |  CAST(CAST(${alg.duckOld("amount_s")}
      |    AS DECIMAL(12,2)) AS DOUBLE) AS old_amount,
      |  CAST(CAST(amount_s AS DECIMAL(12,2)) AS DOUBLE) AS new_amount,
      |  CAST(${alg.duckOld("day_s")} AS DATE) AS old_day,
      |  CAST(day_s AS DATE) AS new_day,
      |  CAST(CAST(${alg.duckLast("amount_s")}
      |    AS DECIMAL(12,2)) AS DOUBLE) AS state_amount
      |FROM typed
      |${alg.duckWindow}
      |ORDER BY audit_id""".stripMargin) { (s, d) =>
    val typed = sparse(log(s, d)).select(
      col("audit_id"), col("entity_id"), col("operation"),
      col("k").cast("string").as("k_s"),
      when(col("event_type") === "purchase",
        col("value").cast("decimal(12,2)").cast("string")).as("amount_s"),
      when(col("operation") === "I", date_format(col("ts"), "yyyy-MM-dd")).as("day_s"))
    // decimal-typed reconstruction surfaced as DOUBLE (Det convention:
    // exact work in decimal space; the harness compares float dtypes)
    def amount(c: String) = col(c).cast("decimal(12,2)").cast("double")
    alg.snapshot(alg.delta(typed, Seq("k_s", "amount_s", "day_s")), Seq("amount_s"))
      .select(
        col("audit_id"), col("entity_id"), col("operation"),
        col("old_k_s").cast("int").as("old_k"), col("new_k_s").cast("int").as("new_k"),
        amount("old_amount_s").as("old_amount"), amount("new_amount_s").as("new_amount"),
        col("old_day_s").cast("date").as("old_day"),
        col("new_day_s").cast("date").as("new_day"),
        amount("state_amount_s").as("state_amount"))
      .orderBy("audit_id")
  }

  /** Statement-level TRUNCATE semantics (audit.go:854-951, :1362): the
    * reference's truncate trigger fires once per STATEMENT and the views
    * treat it as a table-wide wipe — every entity's reconstructed state is
    * NULL between a T and that entity's next value-bearing change, not
    * just the entity that happened to carry the T row. The Spark side
    * broadcasts the tiny T-seq set (one row per truncate statement);
    * the oracle derives the same boundary with a global running max. */
  val auditTruncateReset: Q = Q.sql(
    "audit_truncate_reset",
    auditCte + s""", b AS (
      |  SELECT audit_id, entity_id, operation, k, val,
      |    max(CASE WHEN operation = 'T' THEN audit_id END) OVER
      |      (ORDER BY audit_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tb
      |  FROM audit),
      |s AS (
      |  SELECT audit_id, entity_id, operation, tb,
      |    ${alg.duckLast("k")} AS raw_k,
      |    ${alg.duckLast("CASE WHEN k IS NOT NULL THEN audit_id END")} AS src_k,
      |    ${alg.duckLast("val")} AS raw_val,
      |    ${alg.duckLast("CASE WHEN val IS NOT NULL THEN audit_id END")} AS src_val
      |  FROM b),
      |c AS (
      |  SELECT *,
      |    lag(raw_k) OVER w AS p_raw_k, lag(src_k) OVER w AS p_src_k,
      |    lag(raw_val) OVER w AS p_raw_val, lag(src_val) OVER w AS p_src_val
      |  FROM s ${alg.duckWindow})
      |SELECT audit_id, entity_id, operation,
      |  CASE WHEN tb IS NOT NULL AND (src_k IS NULL OR src_k <= tb)
      |    THEN NULL ELSE raw_k END AS state_k,
      |  CASE WHEN operation = 'I' THEN NULL
      |       WHEN tb IS NOT NULL AND (p_src_k IS NULL OR p_src_k <= tb) THEN NULL
      |       ELSE p_raw_k END AS old_state_k,
      |  CASE WHEN operation IN ('D', 'T') THEN NULL
      |       WHEN tb IS NOT NULL AND (src_k IS NULL OR src_k <= tb) THEN NULL
      |       ELSE raw_k END AS new_state_k,
      |  CASE WHEN tb IS NOT NULL AND (src_val IS NULL OR src_val <= tb)
      |    THEN NULL ELSE raw_val END AS state_val,
      |  CASE WHEN operation = 'I' THEN NULL
      |       WHEN tb IS NOT NULL AND (p_src_val IS NULL OR p_src_val <= tb) THEN NULL
      |       ELSE p_raw_val END AS old_state_val,
      |  CASE WHEN operation IN ('D', 'T') THEN NULL
      |       WHEN tb IS NOT NULL AND (src_val IS NULL OR src_val <= tb) THEN NULL
      |       ELSE raw_val END AS new_state_val
      |FROM c ORDER BY audit_id""".stripMargin) { (s, d) =>
    alg.compareTruncAware(sparse(log(s, d)), Seq("k", "val"))
      .select("audit_id", "entity_id", "operation",
        "state_k", "old_state_k", "new_state_k",
        "state_val", "old_state_val", "new_state_val")
      .orderBy("audit_id")
  }

  /** Wide-payload reconstruction — the algebra at realistic column width.
    * The reference reconstructs EVERY column of an arbitrary table from
    * the JSON payloads, driven by column introspection (audit.go:1051-1360,
    * :953-1010); payload fields appear only in the changes that touched
    * them. Here six fields, each carried by a different change class (so
    * each state column genuinely scans a different non-null pattern),
    * flow through the same one-shuffle snapshot that handles 2 fields —
    * width costs columns, not passes. */
  val auditWideSnapshot: Q = {
    val stateCols = Seq("w_k", "w_val", "w_tag", "w_cnt", "w_who", "w_init")
    Q.sql(
      "audit_wide_snapshot",
      auditCte + s""", wide AS (
        |  SELECT audit_id, entity_id, operation,
        |    k AS w_k,
        |    val AS w_val,
        |    CASE WHEN event_type = 'view' THEN 'v' || (audit_id % 10) END AS w_tag,
        |    CASE WHEN event_type = 'click' THEN audit_id % 97 END AS w_cnt,
        |    CASE WHEN event_type = 'signup' THEN changed_by END AS w_who,
        |    CASE WHEN event_type = 'signup'
        |      THEN CAST(floor(value * 100) AS BIGINT) % 1000 END AS w_init
        |  FROM audit)
        |SELECT audit_id, entity_id, operation,
        |  ${alg.duckStates(stateCols)}
        |FROM wide ORDER BY audit_id""".stripMargin) { (s, d) =>
      val wide = sparse(log(s, d))
        .withColumn("w_k", col("k"))
        .withColumn("w_val", col("val"))
        .withColumn("w_tag", when(col("event_type") === "view",
          concat(lit("v"), (col("audit_id") % 10).cast("string"))))
        .withColumn("w_cnt", when(col("event_type") === "click", col("audit_id") % 97))
        .withColumn("w_who", when(col("event_type") === "signup", col("changed_by")))
        .withColumn("w_init", when(col("event_type") === "signup",
          floor(col("value") * 100).cast("long") % 1000))
      alg.snapshot(wide, stateCols)
        .select(col("audit_id") +: col("entity_id") +: col("operation") +:
          stateCols.map(c => col(s"state_$c")): _*)
        .orderBy("audit_id")
    }
  }

  /** Incremental CDC compaction — the operation that makes a 100 TB audit
    * history tractable: closed history is collapsed to one state row per
    * entity, and new changes are merged onto the compacted base instead of
    * re-windowing the full log.
    *
    * The Spark side genuinely runs the two-phase path: it splits the feed
    * at the midpoint audit id (a one-row broadcast, no collect), compacts
    * the older half to per-entity state rows (each a pseudo-change carrying
    * the entity's full state at its last old-half seq, operation
    * preserved), unions the newer half on top, and reconstructs. The
    * oracle recomputes final state over the FULL feed in one pass — so the
    * driver's hash compare IS the proof that merge(compact(old), new) ==
    * recompute(all), the invariant that lets a cluster window over a day's
    * delta instead of the whole history. (History cardinality is
    * deliberately not preserved — compaction collapses it; state is.) */
  val auditCompact: Q = Q.sql(
    "audit_compact",
    auditCte + s""", ${latestSnap("snap", "audit_id, entity_id, operation, ts", "audit")}
      |SELECT entity_id, audit_id AS last_audit_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_changed_at,
      |  operation AS last_op, state_k, state_val
      |FROM snap WHERE rn = 1 ORDER BY entity_id""".stripMargin) { (s, d) =>
    val lg = sparse(log(s, d))
      .select("audit_id", "entity_id", "operation", "ts", "k", "val")
    val mid = lg.agg(floor(max("audit_id") / 2).cast("long").as("__mid"))
    val wm = lg.crossJoin(broadcast(mid))
    val oldHalf = wm.filter(col("audit_id") <= col("__mid")).drop("__mid")
    val newHalf = wm.filter(col("audit_id") > col("__mid")).drop("__mid")
    val compacted = alg.current(oldHalf, Seq("k", "val"))
      .select(col("audit_id"), col("entity_id"), col("operation"), col("ts"),
        col("state_k").as("k"), col("state_val").as("val"))
    alg.current(compacted.unionByName(newHalf), Seq("k", "val"))
      .select(col("entity_id"), col("audit_id").as("last_audit_id"),
        date_format(col("ts"), TS).as("last_changed_at"),
        col("operation").as("last_op"), col("state_k"), col("state_val"))
      .orderBy("entity_id")
  }

  /** Retention sweep — which day partitions of the audit sink are
    * archival-eligible under a hot-window cutoff, sized for the move (row
    * count, distinct entities, payload-byte estimate). Day is the
    * archival unit because it is the sink's physical partition key
    * (FeedSources day-partitioned layout): at 100 TB this query drives
    * moving cold partitions to cheaper storage. Here it runs over the
    * driver's FLAT events feed, so the ts cutoff is a data filter; over
    * the resting layout the same predicate on the `day` partition column
    * prunes at the scan and the hot window is never read —
    * FeedSourcesSpec asserts that PartitionFilters pruning. The
    * reference keeps audit rows forever (no retention machinery); this
    * is the operational complement a deployment needs. */
  val auditRetention: Q = Q.sql(
    "audit_retention",
    auditCte +
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_changes,
        |  count(DISTINCT entity_id) AS n_entities,
        |  CAST(sum(length(client_query)) AS BIGINT) AS est_payload_bytes
        |FROM audit
        |WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
    log(s, d)
      .filter(col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_changes"),
        count_distinct(col("entity_id")).as("n_entities"),
        sum(length(col("client_query"))).as("est_payload_bytes"))
      .orderBy("day")
  }

  /** Latest reconstructed state per entity (the live-table equivalent). */
  val auditCurrent: Q = Q.sql(
    "audit_current",
    auditCte + s""", ${alg.duckSnapCte("snap", "audit_id, entity_id, ts", Seq("k", "val"),
      extra = latestWithCount)}
      |SELECT entity_id, audit_id AS last_audit_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_changed_at,
      |  state_k, state_val, n_changes
      |FROM snap WHERE rn = 1 ORDER BY entity_id""".stripMargin) { (s, d) =>
    alg.current(withChangeCount(sparse(log(s, d))), Seq("k", "val"))
      .select(
        col("entity_id"), col("audit_id").as("last_audit_id"),
        date_format(col("ts"), TS).as("last_changed_at"),
        col("state_k"), col("state_val"), col("n_changes"))
      .orderBy("entity_id")
  }

  /** Reference sparse_time sampling: every 1000th audit id (audit.go:882). */
  val auditSparse: Q = Q.sql(
    "audit_sparse",
    auditCte +
      """SELECT audit_id, entity_id, operation,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS sparse_time
        |FROM audit WHERE audit_id % 1000 = 0 ORDER BY audit_id""".stripMargin) { (s, d) =>
    log(s, d).filter(col("audit_id") % 1000 === 0)
      .select(col("audit_id"), col("entity_id"), col("operation"),
        date_format(col("ts"), TS).as("sparse_time"))
      .orderBy("audit_id")
  }

  /** Reference audit.audit_history (audit.go:608): auditing ranges. */
  val auditHistory: Q = Q.sql(
    "audit_history",
    auditCte +
      """SELECT operation, count(*) AS n_changes,
        |  count(DISTINCT entity_id) AS n_entities,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_time,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_time
        |FROM audit GROUP BY operation ORDER BY operation""".stripMargin) { (s, d) =>
    log(s, d).groupBy("operation")
      .agg(
        count(lit(1)).as("n_changes"),
        countDistinct("entity_id").as("n_entities"),
        date_format(min("ts"), TS).as("start_time"),
        date_format(max("ts"), TS).as("end_time"))
      .orderBy("operation")
  }

  /** Change volume per operation per day. */
  val auditOpsRollup: Q = Q.sql(
    "audit_ops_rollup",
    auditCte +
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, operation,
         |  count(*) AS n_changes, ${Det.dsumRoundSql("value", 2)} AS total_value
         |FROM audit GROUP BY 1, 2 ORDER BY day, operation""".stripMargin) { (s, d) =>
    log(s, d)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"), col("operation"))
      .agg(count(lit(1)).as("n_changes"), Det.dsumRound(col("value"), 2).as("total_value"))
      .orderBy("day", "operation")
  }

  /** Changed-field value histogram (reference `change` JSON key analysis). */
  val auditFieldFreq: Q = Q.sql(
    "audit_field_freq",
    auditCte +
      """SELECT operation, coalesce(field_k // 10, -1) AS k_bucket,
        |  count(*) AS n
        |FROM audit GROUP BY 1, 2 ORDER BY operation, k_bucket""".stripMargin) { (s, d) =>
    log(s, d)
      .groupBy(col("operation"),
        coalesce(expr("field_k div 10"), lit(-1)).as("k_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("operation", "k_bucket")
  }

  /** Per-entity audit activity profile. */
  val auditEntityActivity: Q = Q.sql(
    "audit_entity_activity",
    auditCte +
      s"""SELECT entity_id, count(*) AS n_changes,
         |  CAST(sum(CASE WHEN operation = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
         |  CAST(sum(CASE WHEN operation = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
         |  CAST(sum(CASE WHEN operation = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
         |  CAST(sum(CASE WHEN operation = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS n_truncates,
         |  ${Det.dsumRoundSql("value", 2)} AS total_value,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_change,
         |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_change
         |FROM audit GROUP BY entity_id ORDER BY entity_id""".stripMargin) { (s, d) =>
    log(s, d).groupBy("entity_id")
      .agg(
        count(lit(1)).as("n_changes"),
        sum(when(col("operation") === "I", 1).otherwise(0)).as("n_inserts"),
        sum(when(col("operation") === "U", 1).otherwise(0)).as("n_updates"),
        sum(when(col("operation") === "D", 1).otherwise(0)).as("n_deletes"),
        sum(when(col("operation") === "T", 1).otherwise(0)).as("n_truncates"),
        Det.dsumRound(col("value"), 2).as("total_value"),
        date_format(min("ts"), TS).as("first_change"),
        date_format(max("ts"), TS).as("last_change"))
      .orderBy("entity_id")
  }

  /** Lost-change detection: audit-id gaps within each entity's stream. */
  val auditGapDetect: Q = Q.sql(
    "audit_gap_detect",
    auditCte + s""", gaps AS (
      |  SELECT entity_id, audit_id - lag(audit_id) OVER w AS gap
      |  FROM audit ${alg.duckWindow})
      |SELECT entity_id, count(*) AS n_changes,
      |  coalesce(max(gap), 0) AS max_id_gap
      |FROM gaps GROUP BY entity_id ORDER BY entity_id""".stripMargin) { (s, d) =>
    log(s, d)
      .withColumn("gap", col("audit_id") - lag("audit_id", 1).over(alg.byEntity))
      .groupBy("entity_id")
      .agg(count(lit(1)).as("n_changes"),
        coalesce(max("gap"), lit(0)).as("max_id_gap"))
      .orderBy("entity_id")
  }

  /** Hourly change rollup — the batch twin of `audit_stream`. */
  val auditHourly: Q = Q.sql(
    "audit_hourly",
    auditCte +
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  operation, count(*) AS n, ${Det.dsumRoundSql("value", 2)} AS total_value
         |FROM audit GROUP BY 1, 2 ORDER BY hour, operation""".stripMargin) { (s, d) =>
    log(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), TS).as("hour"), col("operation"))
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .orderBy("hour", "operation")
  }

  /** Change-burst sessionization: 30-min inactivity splits a session. */
  val auditSessionize: Q = Q.sql(
    "audit_sessionize",
    auditCte + s""", ${duckSessionCtes("entity_id, ts, value")}
      |SELECT entity_id, session_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events, """.stripMargin
      + Det.dsumRoundSql("value", 2) + """ AS session_value
      |FROM sessions GROUP BY entity_id, session_id
      |ORDER BY entity_id, session_id""".stripMargin) { (s, d) =>
    withSessionId(log(s, d))
      .groupBy("entity_id", "session_id")
      .agg(
        date_format(min("ts"), TS).as("session_start"),
        count(lit(1)).as("n_events"),
        Det.dsumRound(col("value"), 2).as("session_value"))
      .orderBy("entity_id", "session_id")
  }

  /** Declarative gap sessions via Spark's native `session_window` — the
    * engine-maintained form of audit_sessionize (which builds sessions by
    * hand with lag+cumsum): one groupBy, windows merged by the engine,
    * and in streaming the same expression is incrementally maintained
    * with watermark-bounded state. Semantics differ from the hand-rolled
    * op at the boundary — session_window closes at last_ts + gap
    * EXCLUSIVE (an event exactly 30 min later starts a new session) and
    * compares at microsecond precision — so the oracle mirrors those
    * rules exactly (>= gap at epoch-micros, ordered by event time). */
  val auditSessionWindow: Q = Q.sql(
    "audit_session_window",
    auditCte + """, marked AS (
      |  SELECT entity_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
      |           >= 1800000000 THEN 1 ELSE 0 END AS new_session
      |  FROM audit
      |  WINDOW w AS (PARTITION BY entity_id ORDER BY ts)),
      |sessions AS (
      |  SELECT entity_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY entity_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT entity_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  count(*) AS n_events, """.stripMargin
      + Det.dsumRoundSql("value", 2) + """ AS session_value
      |FROM sessions GROUP BY entity_id, sid
      |ORDER BY entity_id, session_start""".stripMargin) { (s, d) =>
    log(s, d)
      .groupBy(col("entity_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        Det.dsumRound(col("value"), 2).as("session_value"))
      .select(col("entity_id"),
        date_format(col("w.start"), TS).as("session_start"),
        date_format(col("w.end"), TS).as("session_end"),
        col("n_events"), col("session_value"))
      .orderBy("entity_id", "session_start")
  }

  /** Calendar-filled (day, operation, n) daily frame — zero-count days
    * INCLUDED (a silent feed is the anomaly the volume monitors exist to
    * catch). Shared by audit_daily_anomaly, audit_volume_mad,
    * audit_cusum and audit_seasonal_adjust; ≤ |ops|×|days| rows at any feed
    * size. */
  private val filledDailyCtes: String =
    """, d AS (
      |  SELECT CAST(ts AS DATE) AS day, operation, count(*) AS n
      |  FROM audit GROUP BY 1, 2),
      |bounds AS (
      |  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM audit),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
      |grid AS (
      |  SELECT day, operation
      |  FROM days CROSS JOIN (SELECT DISTINCT operation FROM audit)),
      |filled AS (
      |  SELECT grid.day, grid.operation, CAST(coalesce(d.n, 0) AS BIGINT) AS n
      |  FROM grid LEFT JOIN d ON grid.day = d.day AND grid.operation = d.operation)""".stripMargin

  /** Spark twin of [[filledDailyCtes]]. */
  private def filledDaily(s: SparkSession, d: String): DataFrame = {
    val counts = log(s, d)
      .groupBy(col("ts").cast("date").as("day"), col("operation"))
      .agg(count(lit(1)).as("n"))
    // full calendar range, so a day silent across EVERY op class still
    // appears (observed-days-only would drop it); sequence(date, date)
    // steps one day in both engines
    val days = counts.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    days.crossJoin(counts.select("operation").distinct())
      .join(counts, Seq("day", "operation"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)).cast("long"))
  }

  /** Capture-health monitoring: per-(day, operation) change volume versus
    * a trailing 7-calendar-day baseline; a day outside ±50% of its
    * baseline is flagged. The grid is a CALENDAR scaffold (generated
    * min..max day range × op classes, zero-filled) — without it a totally silent day
    * produces no group row at all and the headline scenario (trigger
    * fully down) could never flag, and gap days would stretch a
    * row-based frame past 7 calendar days. A zero-volume day flags
    * immediately (0 < 0.5·baseline). The scaffold cross join is
    * |days|×|ops| — trivially broadcastable at any scale. Baseline
    * arithmetic is exact-integer sums divided once — deterministic on
    * both engines; days with under 3 prior scaffold days carry no
    * verdict. Companion to audit_gap_detect, which sees lost ids only
    * after the fact. */
  val auditDailyAnomaly: Q = Q.sql(
    "audit_daily_anomaly",
    auditCte + filledDailyCtes + """,
      |w AS (
      |  SELECT day, operation, n,
      |    avg(n) OVER tw AS base, count(*) OVER tw AS n_hist
      |  FROM filled
      |  WINDOW tw AS (PARTITION BY operation ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT day, operation, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n_hist >= 3 THEN round(base, 2) END AS baseline,
      |  CASE WHEN n_hist >= 3 AND (n > 1.5 * base OR n < 0.5 * base)
      |    THEN 1 ELSE 0 END AS anomaly
      |FROM w ORDER BY operation, day""".stripMargin) { (s, d) =>
    val tw = Window.partitionBy("operation").orderBy("day").rowsBetween(-7, -1)
    filledDaily(s, d)
      .withColumn("base", avg("n").over(tw))
      .withColumn("n_hist", count(lit(1)).over(tw))
      .select(col("day"), col("operation"), col("n"),
        when(col("n_hist") >= 3, round(col("base"), 2)).as("baseline"),
        when(col("n_hist") >= 3 &&
          (col("n") > lit(1.5) * col("base") || col("n") < lit(0.5) * col("base")), 1)
          .otherwise(0).as("anomaly"))
      .orderBy("operation", "day")
  }

  /** Per-operation value quantiles (exact interpolated percentiles — both
    * engines implement the same (1-f)*a + f*b continuous quantile). */
  val auditValueQuantiles: Q = {
    // Linear-interpolated quantile with the interpolation expression
    // SHARED TEXTUALLY between engines. Native implementations
    // (Spark `percentile`, DuckDB `quantile_cont`) interpolate with
    // differently-ordered fp expressions; on a tie-adjacent value
    // (e.g. an exact .xx5 midpoint, first observed at sf1) the 1-ulp
    // difference flips round(·, 2). Running the identical IEEE
    // expression on both sides makes the double — and its rounding —
    // bit-equal, and the sorted-rank formulation is also explicitly
    // partition-independent.
    // floor(x*100 + 0.5)/100 instead of round(x, 2): Spark's round goes
    // through the double's SHORTEST decimal repr (BigDecimal.valueOf) while
    // DuckDB rounds the exact binary value — 34.92499…97 prints "34.925"
    // and the engines split. The floor form is pure IEEE arithmetic, so
    // identical text ⇒ bit-identical output (same trick as emb_quantize).
    def qexpr(f: String, name: String): String = {
      val lo = s"max(CASE WHEN rn = CAST(floor((n - 1) * $f) AS BIGINT) THEN value END)"
      val hi = s"max(CASE WHEN rn = CAST(floor((n - 1) * $f) AS BIGINT) + 1 THEN value END)"
      val frac = s"((max(n) - 1) * $f - CAST(floor((max(n) - 1) * $f) AS BIGINT))"
      s"floor(($lo + (coalesce($hi, $lo) - $lo) * $frac) * 100 + 0.5) / 100 AS $name"
    }
    // Final aggregation over per-row (operation, value, rn, n) — this text
    // is the part shared between engines (see scaladoc above).
    def finalSel(src: String): String =
      s"""SELECT operation,
         |  ${qexpr("0.5", "p50")},
         |  ${qexpr("0.9", "p90")},
         |  ${qexpr("0.99", "p99")}
         |FROM $src GROUP BY operation ORDER BY operation""".stripMargin
    // Oracle-side rank assignment: the textbook single window. Fine in
    // DuckDB (single node); NOT how the Spark side ranks — see below.
    val oracleRanks =
      """, o AS (
        |  SELECT operation, value,
        |    row_number() OVER (PARTITION BY operation ORDER BY value, audit_id) - 1 AS rn,
        |    count(*) OVER (PARTITION BY operation) AS n
        |  FROM audit WHERE value IS NOT NULL)
        |""".stripMargin
    Q.sql(
      "audit_value_quantiles",
      auditCte + oracleRanks + finalSel("o")) { (s, d) =>
      // scale-safe exact ranks: bucketed by learned value bounds, so no
      // window sorts a whole operation class (Bands.exactRanks)
      val base = log(s, d).filter(col("value").isNotNull)
        .select("audit_id", "operation", "value")
      graft.analytics.Bands.exactRanks(base, Seq("operation"), Seq("value", "audit_id"))
        .select("operation", "value", "rn", "n")
        .createOrReplaceTempView("graft_vq_o")
      s.sql(finalSel("graft_vq_o"))
    }
  }

  /** Mergeable sketch twin of audit_value_quantiles — the 100 TB default
    * path: one partial-aggregate pass (t-digest-style percentile_approx),
    * no ranks, no window, no full-feed shuffle. Rows-only by design
    * (sketch outputs are engine-specific); like audit_approx_entities the
    * output self-audits in RANK space — the space the sketch actually
    * makes a guarantee in (relative rank error ≤ 1/accuracy; a value-space
    * bound is unprovable: at small n a heavy tail puts the nearest-rank
    * sketch value arbitrarily far from the interpolated exact quantile).
    * A second mergeable pass counts each approx value's exact rank in the
    * feed; `within_bound` = every |rank/n − f| ≤ 2ε + 2/n (2× the
    * sketch's nominal ε=1e-4 plus discreteness slop, so a false alarm
    * means the sketch is actually broken). The exact interpolated
    * quantiles ride along for human diffing. SketchSpec enforces
    * within_bound for every operation. */
  val auditValueQuantilesApprox: Q =
    Q.rowsOnly("audit_value_quantiles_approx", "SketchSpec") { (s, d) =>
      val feed = log(s, d).filter(col("value").isNotNull)
        .select("operation", "value")
      val approx = feed.groupBy("operation")
        .agg(
          percentile_approx(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("q"),
          count(lit(1)).as("n_values"))
      // exact rank of each sketch value: one broadcast of the |ops|-row
      // sketch table back over the feed, partial-agg conditional counts
      val ranks = feed.join(broadcast(approx.select("operation", "q")), Seq("operation"))
        .groupBy("operation")
        .agg(
          sum(when(col("value") <= col("q")(0), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= col("q")(1), 1L).otherwise(0L)).as("r90"),
          sum(when(col("value") <= col("q")(2), 1L).otherwise(0L)).as("r99"))
      val exact = auditValueQuantiles.fn(s, d)
        .select(col("operation"), col("p50").as("exact_p50"),
          col("p90").as("exact_p90"), col("p99").as("exact_p99"))
      val n = col("n_values").cast("double")
      val slack = lit(2.0e-4) + lit(2.0) / n
      def ok(r: String, f: Double) = abs(col(r) / n - f) <= slack
      approx.join(ranks, Seq("operation")).join(exact, Seq("operation"))
        .select(col("operation"), col("n_values"),
          round(col("q")(0), 2).as("p50_approx"),
          round(col("q")(1), 2).as("p90_approx"),
          round(col("q")(2), 2).as("p99_approx"),
          col("exact_p50"), col("exact_p90"), col("exact_p99"),
          (ok("r50", 0.5) && ok("r90", 0.9) && ok("r99", 0.99))
            .as("within_bound"))
        .orderBy("operation")
    }

  /** Sketch-based distinct entities per day — the 100 TB path for entity
    * cardinality (HLL++, mergeable partial aggregates; no exact-distinct
    * shuffle). Rows-only: sketch estimates are engine-specific; the spec
    * bounds the error against the exact count. */
  val auditApproxEntities: Q = Q.rowsOnly("audit_approx_entities", "SketchSpec") { (s, d) =>
    // rows-only by design (HLL++ sketch values are engine-specific), but
    // the output carries its own semantic audit: exact distinct alongside
    // the sketch and `within_bound` = relative error ≤ 10% (5× the
    // configured 2% rsd — comfortably past the sketch's 3-sigma tail, so
    // a false alarm means the sketch is actually broken). The driver's
    // rows>0 check therefore lands on rows that each assert their own
    // invariant; SketchSpec enforces within_bound = true for every day.
    log(s, d)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(
        approx_count_distinct("entity_id", 0.02).as("approx_entities"),
        countDistinct("entity_id").as("exact_entities"),
        count(lit(1)).as("n_changes"))
      .withColumn("rel_err",
        round(abs(col("approx_entities") - col("exact_entities"))
          / col("exact_entities"), 4))
      .withColumn("within_bound", col("rel_err") <= 0.10)
      .orderBy("day")
  }

  /** The purchases of the change log `base` as (r_entity, r_ts, r_value):
    * the right side of an as-of lookup. */
  private[graft] def asofPurchases(base: DataFrame): DataFrame =
    base.filter(col("event_type") === "purchase")
      .select(col("entity_id").as("r_entity"), col("ts").as("r_ts"),
        col("value").as("r_value"))

  /** An as-of lookup's output row: the error change, and its purchase
    * match as `<label>_purchase_value` / `<label>_purchase_at`. */
  private[graft] def asofColumns(label: String): Seq[Column] = Seq(
    col("audit_id"), col("entity_id"), date_format(col("ts"), TS).as("err_at"),
    col("r_value").as(s"${label}_purchase_value"),
    date_format(col("r_ts"), TS).as(s"${label}_purchase_at"))

  /** Each error-class change of the change log (audit_id, entity_id, ts)
    * with the entity's latest purchase at or before it ([[asofPurchases]]),
    * a match older than `tolerance` micros left NULL — through the custom
    * AS-OF operator ([[graft.plans.AsOfJoinExec]]). */
  private def errorPurchases(s: SparkSession, d: String,
      tolerance: Option[Long] = None): DataFrame = {
    val base = log(s, d)
    graft.plans.AsOf.join(
      base.filter(col("event_type") === "error").select("audit_id", "entity_id", "ts"),
      asofPurchases(base), key = ("entity_id", "r_entity"), time = ("ts", "r_ts"),
      tolerance = tolerance)
  }

  /** DuckDB twin of [[errorPurchases]] without the tolerance: the audit
    * CTE with `l` and `r`, and the FROM clause of their ASOF join (a
    * SELECT list goes between the two). */
  private val duckAsofFrames: String =
    auditCte + """, l AS (
      |  SELECT audit_id, entity_id, ts FROM audit WHERE event_type = 'error'),
      |r AS (SELECT entity_id AS r_entity, ts AS r_ts, value AS r_value
      |      FROM audit WHERE event_type = 'purchase')""".stripMargin
  private val duckAsofFrom: String =
    """FROM l ASOF LEFT JOIN r
      |  ON l.entity_id = r.r_entity AND l.ts >= r.r_ts
      |ORDER BY l.audit_id""".stripMargin

  /** Point-in-time lookup via the engine's custom AS-OF JOIN operator
    * (graft.plans.AsOfJoinExec): for each delete-class change, the
    * entity's latest update-class value as of that moment — the
    * reference's lateral "nearest audit row per pk" scan (audit.go:1074)
    * as a single sort-merge pass. */
  val auditAsofState: Q = Q.sql(
    "audit_asof_state",
    duckAsofFrames + """
      |SELECT l.audit_id, l.entity_id,
      |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS err_at,
      |  r.r_value AS last_purchase_value,
      |  strftime(r.r_ts, '%Y-%m-%d %H:%M:%S') AS last_purchase_at
      |""".stripMargin + duckAsofFrom) { (s, d) =>
    errorPurchases(s, d)
      .select(asofColumns("last"): _*)
      .orderBy("audit_id")
  }

  /** As-of with a staleness bound: the last purchase within ONE HOUR
    * before each delete-class change — the AsOfJoinExec `tolerance`
    * parameter. A match older than the bound is NULL, not the next-older
    * row (as-of semantics: the latest match or nothing). The oracle
    * reproduces the bound by post-filtering DuckDB's unbounded ASOF match
    * at explicit microsecond precision. */
  val auditAsofTolerance: Q = Q.sql(
    "audit_asof_tolerance",
    duckAsofFrames + """
      |SELECT l.audit_id, l.entity_id,
      |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS err_at,
      |  CASE WHEN r.r_ts IS NOT NULL
      |         AND epoch_ns(l.ts) // 1000 - epoch_ns(r.r_ts) // 1000 <= 3600000000
      |    THEN r.r_value END AS recent_purchase_value,
      |  CASE WHEN r.r_ts IS NOT NULL
      |         AND epoch_ns(l.ts) // 1000 - epoch_ns(r.r_ts) // 1000 <= 3600000000
      |    THEN strftime(r.r_ts, '%Y-%m-%d %H:%M:%S') END AS recent_purchase_at
      |""".stripMargin + duckAsofFrom) { (s, d) =>
    errorPurchases(s, d, tolerance = Some(3600L * 1000000L))
      .select(asofColumns("recent"): _*)
      .orderBy("audit_id")
  }

  /** Who-changed-what: top change agents per operation per day — the #1
    * question asked of an audit system, over the reference's `changed_by`
    * capture column (audit.go:773). */
  val auditWhoChanged: Q = Q.sql(
    "audit_who_changed",
    auditCte + """, g AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, operation,
      |    changed_by, count(*) AS n_changes
      |  FROM audit GROUP BY 1, 2, 3)
      |SELECT day, operation, changed_by, n_changes, rk
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY day, operation
      |        ORDER BY n_changes DESC, changed_by) AS rk
      |      FROM g)
      |WHERE rk <= 3 ORDER BY day, operation, rk""".stripMargin) { (s, d) =>
    val g = log(s, d)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"),
        col("operation"), col("changed_by"))
      .agg(count(lit(1)).as("n_changes"))
    val w = Window.partitionBy("day", "operation")
      .orderBy(col("n_changes").desc, col("changed_by"))
    g.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("day", "operation", "changed_by", "n_changes", "rk")
      .orderBy("day", "operation", "rk")
  }

  /** Capture-session profile per database role: connection spread and the
    * reference's 1000-char client_query truncation bound, observable as
    * max_query_len (audit.go:930). */
  val auditClientSessions: Q = Q.sql(
    "audit_client_sessions",
    auditCte +
      """SELECT db_user,
        |  count(*) AS n_changes,
        |  count(DISTINCT client_addr) AS n_addrs,
        |  count(DISTINCT entity_id) AS n_entities,
        |  min(client_port) AS min_port,
        |  max(client_port) AS max_port,
        |  CAST(max(length(client_query)) AS BIGINT) AS max_query_len
        |FROM audit GROUP BY db_user ORDER BY db_user""".stripMargin) { (s, d) =>
    log(s, d).groupBy("db_user")
      .agg(
        count(lit(1)).as("n_changes"),
        countDistinct("client_addr").as("n_addrs"),
        countDistinct("entity_id").as("n_entities"),
        min("client_port").as("min_port"),
        max("client_port").as("max_port"),
        max(length(col("client_query"))).cast("long").as("max_query_len"))
      .orderBy("db_user")
  }

  /** Rollup over the `audit_star.change_reason` session parameter
    * (reference docs/deployment.md:17 — the documented companion to
    * `changed_by` that the capture schema records per change while a
    * session has it SET). Per (reason, op class): volume, acting-principal
    * breadth, entity breadth, and each reason's share of ALL changes —
    * with the NULL bucket surfaced as '(unset)' so unattributed-change
    * coverage (sessions that never SET the GUC) is a first-class row, the
    * number a compliance review asks for first.
    *
    * Scale: one partial-agg groupBy bounded at |reasons|×|ops| (≤ 15
    * rows); the global total is a 1-row broadcast. */
  val auditChangeReasons: Q = Q.sql(
    "audit_change_reasons",
    auditCte + """, g AS (
      |  SELECT coalesce(change_reason, '(unset)') AS reason, operation,
      |    CAST(count(*) AS BIGINT) AS n_changes,
      |    count(DISTINCT changed_by) AS n_actors,
      |    count(DISTINCT entity_id) AS n_entities
      |  FROM audit GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n_changes) AS BIGINT) AS total FROM g)
      |SELECT reason, operation, n_changes, n_actors, n_entities,
      |  round(CAST(n_changes AS DOUBLE) / total, 6) AS share
      |FROM g CROSS JOIN tot
      |ORDER BY reason, operation""".stripMargin) { (s, d) =>
    val g = log(s, d)
      .groupBy(coalesce(col("change_reason"), lit("(unset)")).as("reason"),
        col("operation"))
      .agg(count(lit(1)).as("n_changes"),
        countDistinct("changed_by").as("n_actors"),
        countDistinct("entity_id").as("n_entities"))
    // total via an unpartitioned window over the ≤15-row AGGREGATE — a
    // separate totals branch would re-scan the feed (the
    // corpus_temperature single-scan discipline)
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("total", sum("n_changes").over(w))
      .select(col("reason"), col("operation"), col("n_changes"),
        col("n_actors"), col("n_entities"),
        round(col("n_changes").cast("double") / col("total"), 6).as("share"))
      .orderBy("reason", "operation")
  }

  /** Day-partition layout health of the audit sink — the operational
    * analogue of the reference trigger's partition management
    * (docs/index.md: "the trigger also handles creating new audit table
    * partitions as needed"): before audit_retention/audit_compact move
    * anything, report per day partition its file count, footer row
    * totals, per-file min/max, and the two actionable flags (fragmented →
    * compact; oversized → split). The sink under audit is built from the
    * live feed with a deterministic replayed-batch append (every 97th
    * change re-appended, the at-least-once crash-replay shape), so
    * fragmentation is real and the oracle — which recomputes the expected
    * layout arithmetic from the raw feed — verifies the FOOTER row counts
    * file-for-file: any loss between write → partition layout → footer
    * metadata breaks the hash.
    *
    * Scale: see FeedSources.partitionHealth — metadata listing +
    * executor-side footer reads; no data pages are decoded. */
  /** The deterministically fragmented day-partitioned sink shared by
    * audit_partition_health and audit_compaction_plan: one base file per
    * day (one writer task per day via `repartition(to_date(ts))`),
    * then a replayed micro-batch (every 97th change, one file) — the
    * at-least-once crash-replay shape. The one-base-file-per-day
    * invariant the oracles' file-count arithmetic encodes is ASSERTED
    * between the appends (metadata-only walk): a configured
    * maxRecordsPerFile or future AQE rebalance splitting a day fails
    * loudly here instead of silently breaking the cross-engine hash. */
  private def healthSink(s: SparkSession, d: String): DataFrame =
    graft.sources.FeedSources.partitionHealth(s,
      graft.Scratch.cachedExport(s, "sink-health", d) { dir =>
        val base = log(s, d)
        graft.sources.FeedSources.appendPartitioned(
          base.repartition(to_date(col("ts"))), dir)
        graft.sources.FeedSources.assertMaxFilesPerPartition(s, dir, 1, "day=")
        graft.sources.FeedSources.appendPartitioned(
          base.filter(col("audit_id") % 97 === 0).repartition(1), dir)
      })

  /** DuckDB twin of [[healthSink]]'s two appends: rows per day of the base
    * write (`base`) and of the replayed batch (`rep`). */
  private val duckHealthSink: String =
    """base AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |rep AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events WHERE event_id % 97 = 0 GROUP BY 1)""".stripMargin

  val auditPartitionHealth: Q = Q.sql(
    "audit_partition_health",
    s"""WITH $duckHealthSink
      |SELECT b.day,
      |  CAST(CASE WHEN r.n IS NULL THEN 1 ELSE 2 END AS BIGINT) AS n_files,
      |  CAST(b.n + coalesce(r.n, 0) AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN r.n IS NULL THEN b.n ELSE least(b.n, r.n) END AS BIGINT)
      |    AS min_file_rows,
      |  CAST(CASE WHEN r.n IS NULL THEN b.n ELSE greatest(b.n, r.n) END AS BIGINT)
      |    AS max_file_rows,
      |  (r.n IS NOT NULL) AS needs_compact,
      |  (b.n + coalesce(r.n, 0) > 1000000) AS oversized
      |FROM base b LEFT JOIN rep r ON b.day = r.day
      |ORDER BY b.day""".stripMargin) { (s, d) =>
    healthSink(s, d)
      .select(col("day"), col("n_files"), col("n_rows"),
        col("min_file_rows"), col("max_file_rows"),
        (col("n_files") > 1).as("needs_compact"),
        (col("n_rows") > 1000000L).as("oversized"))
      .orderBy("day")
  }

  /** The compaction JOB PLAN over audit_partition_health's findings: the
    * fragmented day partitions (the replayed-append shape) are bin-packed
    * into 4 parallel compaction jobs by serpentine LPT over their rewrite
    * row counts — the ann_shard_plan discipline applied to the storage
    * plane, so the slowest job bounds the maintenance window and the skew
    * column says how tight that bound is. Per job: partitions, files
    * in/out (one file per day after compaction), rows to rewrite, load
    * share. Footer metadata supplies every weight (see
    * FeedSources.partitionHealth) — the planner never reads a data page,
    * which is what makes it runnable BEFORE the maintenance window at
    * 100 TB.
    *
    * Scale: candidates are ≤ |days| rows; the ranking window and the
    * 4-job rollup run on that bounded frame. */
  val auditCompactionPlan: Q = Q.sql(
    "audit_compaction_plan",
    s"""WITH $duckHealthSink,
      |cand AS (SELECT b.day, b.n + r.n AS n_rows, 2 AS n_files
      |         FROM base b JOIN rep r ON b.day = r.day),
      |rk AS (SELECT day, n_rows, n_files,
      |         row_number() OVER (ORDER BY n_rows DESC, day) - 1 AS rk
      |       FROM cand),
      |j AS (SELECT day, n_rows, n_files,
      |        CAST(CASE WHEN (rk // 4) % 2 = 0 THEN rk % 4
      |             ELSE 3 - rk % 4 END AS INT) AS job
      |      FROM rk),
      |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot FROM cand)
      |SELECT job, CAST(count(*) AS BIGINT) AS n_partitions,
      |  CAST(sum(n_files) AS BIGINT) AS files_in,
      |  CAST(count(*) AS BIGINT) AS files_out,
      |  CAST(sum(n_rows) AS BIGINT) AS rewrite_rows,
      |  round(CAST(sum(n_rows) AS DOUBLE) / t.tot, 4) AS load_share,
      |  round(CAST(sum(n_rows) AS DOUBLE) * 4 / t.tot, 4) AS skew
      |FROM j CROSS JOIN t GROUP BY job, t.tot
      |ORDER BY job""".stripMargin) { (s, d) =>
    val cand = healthSink(s, d)
      .filter(col("n_files") > 1)
      .select(col("day"), col("n_rows"), col("n_files"))
    val rk = cand.withColumn("rk",
      row_number().over(Window.orderBy(col("n_rows").desc, col("day"))) - 1)
    val j = rk.withColumn("job",
      when(expr("(rk div 4) % 2") === 0, col("rk") % 4)
        .otherwise(lit(3) - col("rk") % 4).cast("int"))
    // totals via an unpartitioned window over the ≤4-row job rollup (a
    // separate totals branch would re-list and re-read footers)
    val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    j.groupBy(col("job"))
      .agg(count(lit(1)).as("n_partitions"),
        sum("n_files").cast("long").as("files_in"),
        count(lit(1)).as("files_out"),
        sum("n_rows").cast("long").as("rewrite_rows"))
      .withColumn("tot", sum("rewrite_rows").over(allW))
      .select(col("job"), col("n_partitions"), col("files_in"),
        col("files_out"), col("rewrite_rows"),
        round(col("rewrite_rows").cast("double") / col("tot"), 4).as("load_share"),
        round(col("rewrite_rows").cast("double") * 4 / col("tot"), 4).as("skew"))
      .orderBy("job")
  }

  /** Changes per (operation, hour) of the change log (`hrs`: operation,
    * h, n), and the same hours with their island id `grp` (`isl`): the
    * consecutive hours of one operation share it, so an hour gap in the
    * capture stream starts a new island (gaps-and-islands). */
  private def hourIslands(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val hrs = log(s, d)
      .groupBy(col("operation"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    (hrs, hrs.withColumn("grp",
      expr("unix_timestamp(h) div 3600")
        - row_number().over(Window.partitionBy("operation").orderBy("h"))))
  }

  /** DuckDB twin of [[hourIslands]]: the audit CTE, then `hrs` and `isl`. */
  private val duckHourIslands: String =
    auditCte + """, hrs AS (
      |  SELECT operation, date_trunc('hour', ts) AS h, count(*) AS n
      |  FROM audit GROUP BY 1, 2),
      |isl AS (
      |  SELECT operation, h, n,
      |    CAST(floor(epoch(h)) AS BIGINT) // 3600
      |      - row_number() OVER (PARTITION BY operation ORDER BY h) AS grp
      |  FROM hrs)""".stripMargin

  /** Reference audit.audit_history true semantics (audit.go:608-625):
    * contiguous ranges during which auditing was live, derived from the
    * record itself as gaps-and-islands over covered hours per operation —
    * an hour gap in the capture stream ends a range, making coverage holes
    * visible instead of silent. */
  val auditEnabledRanges: Q = Q.sql(
    "audit_enabled_ranges",
    duckHourIslands + """
      |SELECT operation,
      |  strftime(min(h), '%Y-%m-%d %H:%M:%S') AS enabled_from,
      |  strftime(max(h), '%Y-%m-%d %H:%M:%S') AS enabled_to,
      |  count(*) AS n_hours, CAST(sum(n) AS BIGINT) AS n_changes
      |FROM isl GROUP BY operation, grp
      |ORDER BY operation, enabled_from""".stripMargin) { (s, d) =>
    val (_, isl) = hourIslands(s, d)
    isl.groupBy("operation", "grp")
      .agg(
        date_format(min("h"), TS).as("enabled_from"),
        date_format(max("h"), TS).as("enabled_to"),
        count(lit(1)).as("n_hours"),
        sum("n").as("n_changes"))
      .select("operation", "enabled_from", "enabled_to", "n_hours", "n_changes")
      .orderBy("operation", "enabled_from")
  }

  /** Reference `hasValidPrimaryKey` (audit.go:1173-1206) as a data-quality
    * operator: a column is a valid audit pk iff non-null on every row and
    * unique. Guards the algebra against feeds whose duplicate/NULL pks
    * would silently corrupt reconstructions. */
  val auditPkValidity: Q = {
    val candidates = Seq("audit_id", "entity_id", "field_k")
    val oracleArm = (c: String) =>
      s"""SELECT '$c' AS pk_candidate, count(*) AS n_rows,
         |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
         |  CASE WHEN count($c) = count(*) AND count(DISTINCT $c) = count(*)
         |    THEN 1 ELSE 0 END AS is_valid_pk
         |FROM audit""".stripMargin
    Q.sql(
      "audit_pk_validity",
      auditCte +
        s"""SELECT pk_candidate, n_rows, n_nonnull, n_distinct, is_valid_pk
           |FROM (${candidates.map(oracleArm).mkString("\nUNION ALL\n")})
           |ORDER BY pk_candidate""".stripMargin) { (s, d) =>
      val base = log(s, d)
      candidates.map { c =>
        base.agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"))
          .select(lit(c).as("pk_candidate"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"),
            when(col("n_nonnull") === col("n_rows") &&
              col("n_distinct") === col("n_rows"), 1).otherwise(0).as("is_valid_pk"))
      }.reduce(_ unionByName _)
        .orderBy("pk_candidate")
    }
  }

  /** SCD-2 materialization of the snapshot view: every change opens a
    * validity interval over the reconstructed state, closed (exclusive)
    * by the entity's next change; the open interval is the current row.
    * The reference's `*_audit_snapshot` view (audit.go:1262) reconstructs
    * state as-of each change per lookup — SCD-2 is the warehouse-standard
    * materialization of those as-of ranges, serving point-in-time equi
    * joins (`valid_from <= t < valid_to`) without re-scanning history.
    *
    * Scale shape: the state reconstruction and the `lead` both ride
    * [[AuditLog.byEntity]] — one (entity, audit_id) Exchange serves every
    * column; no second shuffle, no broadcast. */
  /** Capture-lag dashboard: how stale is each entity's last audited
    * change relative to the feed head — the first chart an on-call pager
    * for the capture path looks at (a trigger outage shows up as mass
    * migration into the old buckets long before anyone queries a view;
    * reference analog: the enable/disable capture toggles whose outages
    * audit_enabled_ranges reconstructs, audit.go:300-395).
    *
    * Shape: per-entity last-change is ONE partial-aggregating groupBy
    * bounded at |entities|; the feed head is a 1-row broadcast; the
    * bucket rollup and its share window run on the ≤ 5-row bucket
    * aggregate. Staleness is exact integer seconds on both engines
    * (unix_timestamp ↔ floor(epoch())). */
  val auditFreshness: Q = Q.sql(
    "audit_freshness",
    auditCte + """, le AS (SELECT entity_id, max(ts) AS last_ts
      |            FROM audit GROUP BY entity_id),
      |hd AS (SELECT max(ts) AS head_ts FROM audit),
      |st AS (SELECT entity_id,
      |         CAST(floor(epoch((SELECT head_ts FROM hd))) AS BIGINT)
      |           - CAST(floor(epoch(last_ts)) AS BIGINT) AS staleness_s
      |       FROM le),
      |b AS (SELECT CASE WHEN staleness_s < 3600 THEN '0_lt_1h'
      |               WHEN staleness_s < 21600 THEN '1_1h_6h'
      |               WHEN staleness_s < 86400 THEN '2_6h_24h'
      |               WHEN staleness_s < 604800 THEN '3_1d_7d'
      |               ELSE '4_ge_7d' END AS bucket, staleness_s
      |      FROM st)
      |SELECT bucket, count(*) AS n_entities,
      |  min(staleness_s) AS min_s, max(staleness_s) AS max_s,
      |  round(1.0 * count(*) / sum(count(*)) OVER (), 4) AS share
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    val le = log(s, d).groupBy("entity_id").agg(max("ts").as("last_ts"))
    val hd = log(s, d).agg(max("ts").as("head_ts"))
    val st = le.crossJoin(broadcast(hd))
      .select((unix_timestamp(col("head_ts"))
        - unix_timestamp(col("last_ts"))).as("staleness_s"))
    val b = st.withColumn("bucket",
      when(col("staleness_s") < 3600, "0_lt_1h")
        .when(col("staleness_s") < 21600, "1_1h_6h")
        .when(col("staleness_s") < 86400, "2_6h_24h")
        .when(col("staleness_s") < 604800, "3_1d_7d")
        .otherwise("4_ge_7d"))
    b.groupBy("bucket")
      .agg(count(lit(1)).as("n_entities"),
        min("staleness_s").as("min_s"), max("staleness_s").as("max_s"))
      .withColumn("share",
        round(lit(1.0) * col("n_entities")
          / sum(col("n_entities")).over(Window.partitionBy()), 4))
      .orderBy("bucket")
  }

  val auditScd2: Q = Q.sql(
    "audit_scd2",
    auditCte + s""", ${alg.duckSnapCte("snap", "audit_id, entity_id, operation, ts",
      Seq("k", "val"))}
      |SELECT audit_id, entity_id, operation, state_k, state_val,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
      |  CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM snap ${alg.duckWindow} ORDER BY entity_id, audit_id""".stripMargin) { (s, d) =>
    alg.snapshot(sparse(log(s, d)), Seq("k", "val"))
      .withColumn("next_ts", lead(col("ts"), 1).over(alg.byEntity))
      .select(col("audit_id"), col("entity_id"), col("operation"),
        col("state_k"), col("state_val"),
        date_format(col("ts"), TS).as("valid_from"),
        date_format(col("next_ts"), TS).as("valid_to"),
        when(col("next_ts").isNull, 1).otherwise(0).as("is_current"))
      .orderBy("entity_id", "audit_id")
  }

  /** Deleted-entity forensics: entities with audit history whose live
    * dimension row is gone. After a hard delete the audit log is the only
    * surviving record — recovering the last known state from it is exactly
    * the use case the reference's reconstruction views exist for
    * (audit.go:1051-1362). The live set is simulated deterministically
    * (customer keys with `c_custkey % 7 <> 0`; every 7th row "deleted")
    * so both engines probe the identical dimension.
    *
    * Scale shape: current-state-per-entity rides the shared byEntity
    * window (output bounded at |entities|), then one LEFT ANTI equi-join
    * against the live key set — both sides hash-partition on the key; no
    * broadcast assumed (a real dimension can be billions of rows), no
    * all-pairs anywhere. */
  val auditOrphans: Q = Q.sql(
    "audit_orphans",
    auditCte + s""", ${alg.duckSnapCte("snap", "audit_id, entity_id, operation, ts",
      Seq("k", "val"), extra = latestWithCount)},
      |cur AS (SELECT * FROM snap WHERE rn = 1),
      |live AS (SELECT c_custkey AS entity_id FROM customer
      |         WHERE c_custkey % 7 <> 0)
      |SELECT cur.entity_id, audit_id AS last_audit_id,
      |  operation AS last_operation,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_changed_at,
      |  state_k, state_val, n_changes
      |FROM cur ANTI JOIN live ON cur.entity_id = live.entity_id
      |ORDER BY cur.entity_id""".stripMargin) { (s, d) =>
    val live = Tables.customer(s, d)
      .filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey").as("entity_id"))
    alg.current(withChangeCount(sparse(log(s, d))), Seq("k", "val"))
      .join(live, Seq("entity_id"), "left_anti")
      .select(col("entity_id"), col("audit_id").as("last_audit_id"),
        col("operation").as("last_operation"),
        date_format(col("ts"), TS).as("last_changed_at"),
        col("state_k"), col("state_val"), col("n_changes"))
      .orderBy("entity_id")
  }

  /** Lost-update risk audit: consecutive changes to the SAME entity from
    * DIFFERENT database sessions within 5 minutes — the write-write
    * conflict window the audit log's session-capture columns
    * (session_user / client metadata, audit.go:773-816) exist to make
    * visible (two sessions read-modify-writing one row; last write
    * silently wins). The session identity is `db_user`: `changed_by` is
    * the app-level agent, constant per entity in this feed, while the DB
    * role actually holding the write lock varies per statement. Each
    * reported row is one suspicious handoff with its gap and both
    * sessions; audit_who_changed shows who writes a lot, this shows who
    * writes OVER each other.
    *
    * Scale shape: ONE lag window on the shared (entity, audit_id)
    * distribution — the audit_gap_detect posture — then a per-row filter;
    * no joins, no second Exchange, output bounded by the conflict count. */
  val auditConcurrentWriters: Q = Q.sql(
    "audit_concurrent_writers",
    auditCte + s""", l AS (
      |  SELECT entity_id, audit_id, ts, changed_by, db_user,
      |    lag(audit_id) OVER w AS prev_audit_id,
      |    lag(ts) OVER w AS prev_ts,
      |    lag(db_user) OVER w AS prev_session
      |  FROM audit ${alg.duckWindow})
      |SELECT entity_id, audit_id, prev_audit_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT)
      |    AS gap_s,
      |  db_user, prev_session, changed_by
      |FROM l
      |WHERE prev_session IS NOT NULL AND prev_session <> db_user
      |  AND CAST(floor(epoch(ts)) AS BIGINT)
      |    - CAST(floor(epoch(prev_ts)) AS BIGINT) < 300
      |ORDER BY entity_id, audit_id""".stripMargin) { (s, d) =>
    log(s, d)
      .select(col("entity_id"), col("audit_id"), col("ts"),
        col("changed_by"), col("db_user"))
      .withColumn("prev_audit_id", lag("audit_id", 1).over(alg.byEntity))
      .withColumn("prev_ts", lag("ts", 1).over(alg.byEntity))
      .withColumn("prev_session", lag("db_user", 1).over(alg.byEntity))
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
      .filter(col("prev_session").isNotNull
        && col("prev_session") =!= col("db_user")
        && col("gap_s") < 300)
      .select("entity_id", "audit_id", "prev_audit_id", "gap_s",
        "db_user", "prev_session", "changed_by")
      .orderBy("entity_id", "audit_id")
  }

  /** Point-in-time recovery script — the operation the audit log exists
    * to make possible (the reference's reconstruction views, audit.go:
    * 1051-1362, are the read side of exactly this): for every entity
    * whose state moved after the rollback point T (midpoint audit_id,
    * the audit_compact split), emit the inverse action that restores its
    * T-state:
    *
    *   - `DELETE`   — entity created after T (no pre-T history), or
    *     deleted at T and resurrected after: remove it.
    *   - `REINSERT` — entity live at T but currently deleted: put the
    *     T-state row back.
    *   - `UPDATE`   — live both sides with drifted payload: set the
    *     T-state values.
    *
    * Entities untouched after T, whose post-T churn lands back on the
    * T-state (same liveness), or deleted on BOTH sides (payload drift on
    * a tombstone is not restorable state) produce no action — the script
    * is minimal. Liveness = "last operation is not a delete"; the payload
    * compare is null-safe on both engines.
    *
    * Scale shape: ONE 1-row cutoff broadcast; the snapshot window, both
    * rn=1 top-1 passes, the post-T count and all three self-joins key on
    * entity_id — one hash distribution end to end, every derived frame
    * bounded at |entities| rows. No broadcast of any entity-scale side. */
  val auditRollback: Q = Q.sql(
    "audit_rollback",
    auditCte + s""", cut AS (SELECT CAST(floor(max(audit_id) / 2) AS BIGINT) AS mid FROM audit),
      |${alg.duckSnapCte("snap", "audit_id, entity_id, operation, ts", Seq("k", "val"))},
      |pre AS (SELECT entity_id, operation AS pre_op,
      |          state_k AS restore_k, state_val AS restore_val
      |        FROM (SELECT snap.*, ${alg.duckLatestRn} AS rn
      |              FROM snap, cut WHERE audit_id <= mid) WHERE rn = 1),
      |cur AS (SELECT entity_id, operation AS cur_op,
      |          state_k AS cur_k, state_val AS cur_val
      |        FROM (SELECT snap.*, ${alg.duckLatestRn} AS rn
      |              FROM snap) WHERE rn = 1),
      |post AS (SELECT entity_id, count(*) AS n_changes_after
      |         FROM audit, cut WHERE audit_id > mid GROUP BY 1)
      |SELECT cur.entity_id,
      |  CASE WHEN pre.entity_id IS NULL THEN 'DELETE'
      |       WHEN pre_op = 'D' AND cur_op <> 'D' THEN 'DELETE'
      |       WHEN pre_op <> 'D' AND cur_op = 'D' THEN 'REINSERT'
      |       ELSE 'UPDATE' END AS action,
      |  cur_op, cur_k, cur_val, restore_k, restore_val, n_changes_after
      |FROM cur JOIN post ON cur.entity_id = post.entity_id
      |LEFT JOIN pre ON cur.entity_id = pre.entity_id
      |WHERE pre.entity_id IS NULL
      |   OR ((pre_op = 'D') <> (cur_op = 'D'))
      |   OR (pre_op <> 'D' AND cur_op <> 'D'
      |       AND (cur_k IS DISTINCT FROM restore_k
      |            OR cur_val IS DISTINCT FROM restore_val))
      |ORDER BY cur.entity_id""".stripMargin) { (s, d) =>
    val lg = sparse(log(s, d))
      .select("audit_id", "entity_id", "operation", "ts", "k", "val")
    val mid = lg.agg(floor(max("audit_id") / 2).cast("long").as("mid"))
    val snap = alg.snapshot(lg, Seq("k", "val")).crossJoin(broadcast(mid))
    val pre = alg.latest(snap.filter(col("audit_id") <= col("mid")))
      .select(col("entity_id"), col("operation").as("pre_op"),
        col("state_k").as("restore_k"), col("state_val").as("restore_val"))
    val cur = alg.latest(snap)
      .select(col("entity_id"), col("operation").as("cur_op"),
        col("state_k").as("cur_k"), col("state_val").as("cur_val"))
    val post = snap.filter(col("audit_id") > col("mid"))
      .groupBy("entity_id").agg(count(lit(1)).as("n_changes_after"))
    cur.join(post, Seq("entity_id"))
      .join(pre, Seq("entity_id"), "left")
      .filter(col("pre_op").isNull
        || ((col("pre_op") === "D") =!= (col("cur_op") === "D"))
        || (col("pre_op") =!= "D" && col("cur_op") =!= "D"
          && (!(col("cur_k") <=> col("restore_k"))
            || !(col("cur_val") <=> col("restore_val")))))
      .select(col("entity_id"),
        when(col("pre_op").isNull, "DELETE")
          .when(col("pre_op") === "D" && col("cur_op") =!= "D", "DELETE")
          .when(col("pre_op") =!= "D" && col("cur_op") === "D", "REINSERT")
          .otherwise("UPDATE").as("action"),
        col("cur_op"), col("cur_k"), col("cur_val"),
        col("restore_k"), col("restore_val"), col("n_changes_after"))
      .orderBy("entity_id")
  }

  /** Capture-schema drift: day-over-day evolution of the payload field
    * DOMAIN — the audit-feed analog of the reference's per-table column
    * discovery (`tableColumns`, audit.go:1208, re-run on every rebuild
    * precisely because audited schemas drift). A field id first seen
    * today means an app deploy widened the audited payload (views must be
    * rebuilt to expose it); a field carried yesterday but absent today is
    * either seasonal traffic or a capture regression — the count makes
    * both visible per day, with the cumulative domain size alongside.
    *
    * `n_vanished` compares against the previous OBSERVED day (lag over
    * the distinct-day frame), not calendar arithmetic — robust to feed
    * gaps, which audit_gap_detect owns.
    *
    * Scale shape: ONE distinct over (day, field) — a partial-agg shuffle
    * bounded at |days|×|fields| rows — then every frame (per-day counts,
    * per-field first-seen, carried-vs-today LEFT ANTI) is derived from
    * that bounded set; the two unpartitioned windows (prev-day lag,
    * cumulative sum) act on ≤ |days| aggregated rows, the
    * audit_daily_anomaly posture. */
  val auditSchemaDrift: Q = Q.sql(
    "audit_schema_drift",
    auditCte + s""", df AS (
      |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, field_k
      |  FROM audit WHERE field_k IS NOT NULL),
      |nf AS (SELECT day, count(*) AS n_fields FROM df GROUP BY 1),
      |nn AS (SELECT first_seen AS day, count(*) AS n_new
      |       FROM (SELECT field_k, min(day) AS first_seen FROM df GROUP BY 1)
      |       GROUP BY 1),
      |pd AS (SELECT day, lag(day) OVER (ORDER BY day) AS prev_day
      |       FROM (SELECT DISTINCT day FROM df)),
      |carried AS (SELECT pd.day, p.field_k
      |            FROM pd JOIN df p ON p.day = pd.prev_day),
      |nv AS (SELECT day, count(*) AS n_vanished FROM carried c
      |       WHERE NOT EXISTS (SELECT 1 FROM df
      |                         WHERE df.day = c.day AND df.field_k = c.field_k)
      |       GROUP BY 1)
      |SELECT nf.day, n_fields,
      |  coalesce(n_new, 0) AS n_new, coalesce(n_vanished, 0) AS n_vanished,
      |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY nf.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_cum
      |FROM nf LEFT JOIN nn ON nn.day = nf.day LEFT JOIN nv ON nv.day = nf.day
      |ORDER BY nf.day""".stripMargin) { (s, d) =>
    val df = log(s, d).filter(col("field_k").isNotNull)
      .select(to_date(date_trunc("day", col("ts"))).as("day"), col("field_k"))
      .distinct()
    val nf = df.groupBy("day").agg(count(lit(1)).as("n_fields"))
    val nn = df.groupBy("field_k").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val pd = df.select("day").distinct()
      .withColumn("prev_day", lag("day", 1).over(Window.orderBy("day")))
    val carried = pd.join(df.select(col("day").as("prev_day"), col("field_k")),
        Seq("prev_day"))
      .select("day", "field_k")
    val nv = carried.join(df, Seq("day", "field_k"), "left_anti")
      .groupBy("day").agg(count(lit(1)).as("n_vanished"))
    val cumW = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nf.join(nn, Seq("day"), "left").join(nv, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("n_vanished", coalesce(col("n_vanished"), lit(0L)))
      .withColumn("n_cum", sum("n_new").over(cumW).cast("long"))
      .orderBy("day")
  }

  /** Value-DISTRIBUTION drift per day — the monitor audit_daily_anomaly's
    * volume baseline cannot see (a broken price feed that doubles every
    * amount changes no row count): purchase values bucket into 10 fixed
    * bands; each day's bucket shares are compared against the pooled
    * first-7-days baseline by total-variation distance (TVD = ½ Σ|p−q|,
    * the largest share any event set can differ by) plus the worst single
    * bucket; `drifted` flags TVD > 0.1. TVD over rounded-decimal shares,
    * not a log divergence — exact, order-independent summation on both
    * engines (the hybrid_rrf decimal discipline).
    *
    * Scale shape: ONE corpus scan into a (day, bucket) partial agg
    * bounded at |days|×10; baseline is a 10-row broadcast, the day grid
    * |days|×10 rows, every later frame derived from those aggregates —
    * no window over raw data, no second feed scan. */
  val auditValueDrift: Q = Q.sql(
    "audit_value_drift",
    auditCte + s""", v AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    least(CAST(floor(val / 30) AS INT), 9) AS bucket
      |  FROM audit WHERE val IS NOT NULL),
      |db AS (SELECT day, bucket, count(*) AS n FROM v GROUP BY 1, 2),
      |md AS (SELECT min(day) AS min_day FROM v),
      |dt AS (SELECT day, CAST(sum(n) AS BIGINT) AS tot FROM db GROUP BY 1),
      |bs AS (SELECT bucket, count(*) AS bn FROM v, md
      |       WHERE day < min_day + 7 GROUP BY 1),
      |bt AS (SELECT CAST(sum(bn) AS BIGINT) AS btot FROM bs),
      |grid AS (SELECT day, unnest(range(0, 10)) AS bucket
      |         FROM (SELECT DISTINCT day FROM v)),
      |p AS (SELECT g.day, g.bucket,
      |        CAST(round(1.0 * coalesce(db.n, 0) / dt.tot, 6) AS DECIMAL(18,6)) AS p
      |      FROM grid g JOIN dt ON dt.day = g.day
      |           LEFT JOIN db ON db.day = g.day AND db.bucket = g.bucket),
      |q AS (SELECT bs.bucket, CAST(round(1.0 * bn / btot, 6) AS DECIMAL(18,6)) AS q
      |      FROM bs, bt),
      |dv AS (SELECT p.day, p.bucket,
      |         abs(p.p - coalesce(q.q, CAST(0 AS DECIMAL(18,6)))) AS dev
      |       FROM p LEFT JOIN q ON q.bucket = p.bucket)
      |SELECT dv.day, dt.tot AS n_values,
      |  CASE WHEN dv.day < min_day + 7 THEN 1 ELSE 0 END AS is_baseline,
      |  round(CAST(sum(dev) AS DOUBLE) / 2, 6) AS tvd,
      |  round(CAST(max(dev) AS DOUBLE), 6) AS max_bucket_dev,
      |  CASE WHEN round(CAST(sum(dev) AS DOUBLE) / 2, 6) > 0.1 THEN 1 ELSE 0 END
      |    AS drifted
      |FROM dv JOIN dt ON dt.day = dv.day CROSS JOIN md
      |GROUP BY dv.day, dt.tot, min_day
      |ORDER BY dv.day""".stripMargin) { (s, d) =>
    val v = sparse(log(s, d)).filter(col("val").isNotNull)
      .select(to_date(date_trunc("day", col("ts"))).as("day"),
        least(floor(col("val") / 30).cast("int"), lit(9)).as("bucket"))
    val db = v.groupBy("day", "bucket").agg(count(lit(1)).as("n"))
    val md = v.agg(min("day").as("min_day"))
    val dt = db.groupBy("day").agg(sum("n").cast("long").as("tot"))
    val bs = db.crossJoin(broadcast(md))
      .filter(col("day") < date_add(col("min_day"), 7))
      .groupBy("bucket").agg(sum("n").as("bn"))
    val bt = bs.agg(sum("bn").cast("long").as("btot"))
    val dec = "decimal(18,6)"
    val grid = db.select("day").distinct()
      .withColumn("bucket", explode(sequence(lit(0), lit(9))))
    val p = grid.join(dt, Seq("day"))
      .join(db, Seq("day", "bucket"), "left")
      .select(col("day"), col("bucket"),
        round(lit(1.0) * coalesce(col("n"), lit(0L)) / col("tot"), 6)
          .cast(dec).as("p"))
    val q = bs.crossJoin(broadcast(bt))
      .select(col("bucket"),
        round(lit(1.0) * col("bn") / col("btot"), 6).cast(dec).as("q"))
    p.join(broadcast(q), Seq("bucket"), "left")
      .select(col("day"),
        abs(col("p") - coalesce(col("q"), lit(0).cast(dec))).as("dev"))
      .groupBy("day")
      .agg(sum("dev").as("sum_dev"), max("dev").as("max_dev"))
      .join(dt, Seq("day"))
      .crossJoin(broadcast(md))
      .select(col("day"), col("tot").as("n_values"),
        when(col("day") < date_add(col("min_day"), 7), 1).otherwise(0)
          .as("is_baseline"),
        round(col("sum_dev").cast("double") / 2, 6).as("tvd"),
        round(col("max_dev").cast("double"), 6).as("max_bucket_dev"),
        when(round(col("sum_dev").cast("double") / 2, 6) > 0.1, 1).otherwise(0)
          .as("drifted"))
      .orderBy("day")
  }

  /** Operation-transition matrix: per-entity consecutive (prev_op → op)
    * pair counts over the whole feed, with share and a legality verdict —
    * the state-machine audit of the capture path itself. A trigger-based
    * log (audit.go:854-908) can only emit I as an entity's first row and
    * only U/D/T after a live state; `anomalous = 1` marks transitions a
    * correct capture cannot produce (change-after-delete with no
    * intervening insert, double insert, insert-after-update) — any
    * nonzero anomalous row is lost-capture evidence localized to a
    * transition class, sharper than audit_gap_detect's id holes.
    * TRUNCATE ('T') is statement-level and wipes every entity, so x→T is
    * always legal but only an insert may follow it for a given entity.
    * (This synthetic feed is NOT a legal trigger log — the op is the
    * detector, and the spec pins which cells it lights up on this feed.)
    *
    * Scale shape: one lag window on the shared (entity, audit_id)
    * distribution — the audit_gap_detect posture — then a partial-agg
    * groupBy bounded at the 5×5 op-pair domain; share math on that
    * bounded frame via one unpartitioned window over ≤ 25 rows. */
  val auditOpTransitions: Q = Q.sql(
    "audit_op_transitions",
    auditCte + s""", l AS (
      |  SELECT entity_id,
      |    coalesce(lag(operation) OVER w, '^') AS prev_op,
      |    operation AS op
      |  FROM audit ${alg.duckWindow}),
      |c AS (SELECT prev_op, op, count(*) AS n,
      |        count(DISTINCT entity_id) AS n_entities
      |      FROM l GROUP BY 1, 2)
      |SELECT prev_op, op, n, n_entities,
      |  round(1.0 * n / sum(n) OVER (), 6) AS share,
      |  CASE WHEN prev_op = '^' AND op <> 'I' THEN 1
      |       WHEN prev_op = 'I' AND op = 'I' THEN 1
      |       WHEN prev_op = 'U' AND op = 'I' THEN 1
      |       WHEN prev_op = 'D' AND op IN ('U', 'D') THEN 1
      |       WHEN prev_op = 'T' AND op IN ('U', 'D') THEN 1
      |       ELSE 0 END AS anomalous
      |FROM c ORDER BY prev_op, op""".stripMargin) { (s, d) =>
    val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    log(s, d)
      .select(col("entity_id"), col("audit_id"), col("operation"))
      .withColumn("prev_op", coalesce(lag("operation", 1).over(alg.byEntity), lit("^")))
      .groupBy(col("prev_op"), col("operation").as("op"))
      .agg(count(lit(1)).as("n"), countDistinct("entity_id").as("n_entities"))
      .withColumn("share", round(lit(1.0) * col("n") / sum("n").over(allW), 6))
      .withColumn("anomalous",
        when(col("prev_op") === "^" && col("op") =!= "I", 1)
          .when(col("prev_op") === "I" && col("op") === "I", 1)
          .when(col("prev_op") === "U" && col("op") === "I", 1)
          .when(col("prev_op") === "D" && col("op").isin("U", "D"), 1)
          .when(col("prev_op") === "T" && col("op").isin("U", "D"), 1)
          .otherwise(0))
      .select("prev_op", "op", "n", "n_entities", "share", "anomalous")
      .orderBy("prev_op", "op")
  }

  /** Per-entity lifetime card: first/last operation, change count, exact
    * lifespan, and a live/deleted verdict from the terminal operation —
    * the per-key summary the reference's per-table audit views leave to
    * the reader (it is the `GROUP BY pkey` rollup of the raw audit
    * projection, audit.go:1015-1051). first_op/last_op pick the
    * operation at the min/max audit id (unique ids → deterministic);
    * lifetime is the exact microsecond span between first and last
    * capture, integer math in both engines.
    *
    * Scale shape: ONE partial-agg groupBy on entity_id over the feed —
    * min/max/min_by/max_by/count all combine map-side, so the shuffle
    * carries |entities| pre-aggregated rows, never the raw history. */
  val auditEntityLifetime: Q = Q.sql(
    "audit_entity_lifetime",
    auditCte +
      """SELECT entity_id,
        |  min_by(operation, audit_id) AS first_op,
        |  max_by(operation, audit_id) AS last_op,
        |  count(*) AS n_changes,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_at,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_at,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS lifetime_us,
        |  CASE WHEN max_by(operation, audit_id) IN ('D', 'T')
        |    THEN 'deleted' ELSE 'live' END AS status
        |FROM audit GROUP BY entity_id ORDER BY entity_id""".stripMargin) { (s, d) =>
    log(s, d)
      .groupBy("entity_id")
      .agg(
        min_by(col("operation"), col("audit_id")).as("first_op"),
        max_by(col("operation"), col("audit_id")).as("last_op"),
        count(lit(1)).as("n_changes"),
        date_format(min(col("ts")), TS).as("first_at"),
        date_format(max(col("ts")), TS).as("last_at"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("lifetime_us"))
      .withColumn("status",
        when(col("last_op").isin(AuditModel.terminalOps: _*), "deleted")
          .otherwise("live"))
      .select("entity_id", "first_op", "last_op", "n_changes",
        "first_at", "last_at", "lifetime_us", "status")
      .orderBy("entity_id")
  }

  /** Day × operation pivot matrix — the wide-format daily ops dashboard
    * (audit_hourly's long format, pivoted the way the reference's
    * consumers chart it). The pivot uses an EXPLICIT operation-domain
    * list: Spark's value-less `pivot(col)` runs a whole extra job just to
    * discover the distinct values — with the I/U/D/T domain fixed by the
    * capture trigger (audit.go:892), that discovery scan is pure waste at
    * 100 TB. One partial-agg groupBy; output is |days| wide rows. */
  val auditOpPivot: Q = Q.sql(
    "audit_op_pivot",
    auditCte +
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN operation = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
        |  CAST(sum(CASE WHEN operation = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
        |  CAST(sum(CASE WHEN operation = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |  CAST(sum(CASE WHEN operation = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc,
        |  count(*) AS n_total
        |FROM audit GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
    log(s, d)
      .select(to_date(col("ts")).as("day"), col("operation"))
      .groupBy("day")
      .pivot("operation", Seq("I", "U", "D", "T"))
      .agg(count(lit(1)))
      .select(col("day"),
        coalesce(col("I"), lit(0L)).as("n_ins"),
        coalesce(col("U"), lit(0L)).as("n_upd"),
        coalesce(col("D"), lit(0L)).as("n_del"),
        coalesce(col("T"), lit(0L)).as("n_trunc"))
      .withColumn("n_total",
        col("n_ins") + col("n_upd") + col("n_del") + col("n_trunc"))
      .orderBy("day")
  }

  /** Rolling 7-day change-volume trend per operation class — the
    * smoothed load curve operations teams watch instead of the spiky
    * daily counts (audit_daily_anomaly flags days against a global mean;
    * this gives the trailing-window view). The RANGE frame is over the
    * integer day index, so a day with zero changes genuinely thins the
    * window rather than silently shifting it (ROWS BETWEEN would slide
    * over gaps as if they were days).
    *
    * Scale shape: the raw feed collapses to the |ops|×|days| daily grid
    * first (one partial-agg groupBy); the range window then runs on that
    * bounded aggregate — never on raw history. */
  /** Changes per (operation, day) of the change log, with the day's
    * integer index `day_num` (days since 1970-01-01) for RANGE frames and
    * day-offset joins: (operation, day, day_num, n_changes). */
  private def dailyChanges(s: SparkSession, d: String): DataFrame =
    log(s, d)
      .groupBy(col("operation"), to_date(col("ts")).as("day"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .as("day_num"))
      .agg(count(lit(1)).as("n_changes"))

  /** DuckDB twin of [[dailyChanges]]: the audit CTE, then `g`. */
  private val duckDailyChanges: String =
    auditCte + """, g AS (
      |  SELECT operation, CAST(ts AS DATE) AS day,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
      |    count(*) AS n_changes
      |  FROM audit GROUP BY 1, 2, 3)""".stripMargin

  val auditRollingVolume: Q = Q.sql(
    "audit_rolling_volume",
    duckDailyChanges + """
      |SELECT operation, day, n_changes,
      |  CAST(sum(n_changes) OVER w AS BIGINT) AS sum_7d,
      |  round(avg(n_changes) OVER w, 4) AS avg_7d
      |FROM g
      |WINDOW w AS (PARTITION BY operation ORDER BY day_num
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY operation, day""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("operation").orderBy("day_num")
      .rangeBetween(-6, Window.currentRow)
    dailyChanges(s, d)
      .select(col("operation"), col("day"), col("n_changes"),
        sum("n_changes").over(w).cast("long").as("sum_7d"),
        round(avg("n_changes").over(w), 4).as("avg_7d"))
      .orderBy("operation", "day")
  }

  /** Sliding-window change rate: 1-hour windows every 15 minutes — the
    * smooth rate curve a tumbling rollup (audit_hourly) quantizes away.
    * Spark's sliding `window()` expands each row into window/slide = 4
    * window assignments BEFORE the partial aggregate — a fixed 4× map-side
    * expansion (never data-dependent), after which the shuffle carries
    * only (window, partial) rows. Exact distinct entities per window costs
    * a (window, entity) partial grid — still window-bounded. */
  val auditSlidingRate: Q = Q.sql(
    "audit_sliding_rate",
    auditCte + """, x AS (
      |  SELECT entity_id, ts, unnest([0, 1, 2, 3]) AS k FROM audit),
      |w AS (SELECT entity_id,
      |        time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * k)
      |          AS win_start
      |      FROM x)
      |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
      |  count(*) AS n_changes,
      |  count(DISTINCT entity_id) AS n_entities,
      |  round(count(*) / 60.0, 4) AS rate_per_min
      |FROM w GROUP BY 1 ORDER BY win_start""".stripMargin) { (s, d) =>
    log(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_changes"),
        count_distinct(col("entity_id")).as("n_entities"))
      .select(date_format(col("window.start"), TS).as("win_start"),
        col("n_changes"), col("n_entities"),
        round(col("n_changes") / 60.0, 4).as("rate_per_min"))
      .orderBy("win_start")
  }

  /** Per-entity value outliers: purchase rows deviating more than 3σ from
    * their OWN entity's value history — the account-level anomaly the
    * global daily z-score (audit_daily_anomaly) averages away. The
    * aggregate-then-rejoin shape: per-entity moments first (shuffle
    * carries |entities| rows), rejoin entity-to-entity on the aligned
    * exchange. Moments are exact-decimal sums (order-free): squares at
    * DECIMAL(18,6)×DECIMAL(18,6) = exact (37,12) in BOTH engines (28,6
    * squares would overflow 38 digits and silently lose exactness), so
    * mean/variance — and therefore the 3σ cut — are bit-stable. Entities
    * need ≥ 12 purchases and positive variance (a constant history has no
    * outliers, and 0/0 would be NaN). */
  val auditValueOutliers: Q = Q.sql(
    "audit_value_outliers",
    auditCte + s""", p AS (
      |  SELECT audit_id, entity_id, value FROM audit
      |  WHERE event_type = 'purchase'),
      |st AS (
      |  SELECT entity_id, count(*) AS n,
      |    ${Det.dsumSql("value")} AS s1,
      |    CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
      |      AS DOUBLE) AS s2
      |  FROM p GROUP BY 1 HAVING count(*) >= 12),
      |z AS (
      |  SELECT p.audit_id, p.entity_id, p.value, st.n,
      |    (p.value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS zscore
      |  FROM p JOIN st USING (entity_id)
      |  WHERE s2 - s1 * s1 / n > 0)
      |SELECT audit_id, entity_id, CAST(n AS BIGINT) AS n_history,
      |  round(value, 2) AS value, round(zscore, 4) AS zscore
      |FROM z WHERE abs(zscore) > 3 ORDER BY audit_id""".stripMargin) { (s, d) =>
    val dec = "decimal(18,6)"
    val p = log(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("audit_id"), col("entity_id"), col("value"))
    val st = p.groupBy("entity_id")
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("value")).as("s1"),
        sum(col("value").cast(dec) * col("value").cast(dec)).cast("double")
          .as("s2"))
      .filter(col("n") >= 12)
    val variance = (col("s2") - col("s1") * col("s1") / col("n"))
    p.join(st, Seq("entity_id"))
      .filter(variance > 0)
      .withColumn("zscore",
        (col("value") - col("s1") / col("n"))
          / sqrt(variance / (col("n") - 1)))
      .filter(abs(col("zscore")) > 3)
      .select(col("audit_id"), col("entity_id"),
        col("n").cast("long").as("n_history"),
        round(col("value"), 2).as("value"),
        round(col("zscore"), 4).as("zscore"))
      .orderBy("audit_id")
  }

  /** Day-of-week × hour capture heat profile — the calendar fingerprint of
    * the change workload (a batch job writing Sunday 03:00, humans writing
    * weekday business hours; a flat profile on a human-driven table =
    * runaway automation). Engine-neutral weekday arithmetic: `dow` is
    * derived from the epoch-day count ((days + 3) mod 7 → 0 = Monday —
    * 1970-01-01 was a Thursday), NEVER from the engines' dayofweek()
    * functions, whose 0/1-base and week-start conventions differ. One
    * partial-agg groupBy bounded at 7×24 = 168 output rows at any feed
    * size; the share window runs over that bounded aggregate. */
  /** Exponentially-weighted (decay 0.7, 14-day horizon) daily change
    * volume per op class, with an anomaly verdict per day — the smoothed
    * trend audit_rolling_volume's flat 7-day mean can't give (a flat mean
    * reacts a week late; EWMA weights yesterday 10/7× over the day
    * before). The volume twin of audit_value_drift's distribution check.
    *
    * Exactness: the decay weights (7/10)^j are carried as EXACT integer
    * literals 7^j·10^(13−j) (one shared Scala constant emits both
    * dialects), numerator and denominator sum as DECIMAL — so the
    * weighted mean is a single double division of two exact decimals,
    * rounded once; engine summation order can never move it. Days absent
    * from the feed genuinely THIN the window (weights renormalize over
    * present days — the audit_rolling_volume RANGE discipline).
    *
    * Scale: the raw feed partial-aggregates to the ≤ |ops|×|days| daily
    * frame before anything else; the 14-day band join runs aggregate-to-
    * aggregate (both sides the SAME canonical plan — AQE's exchange reuse
    * materializes it once), output ≤ 14× the daily frame, re-aggregated
    * to |ops|×|days|. Nothing feed-sized is ever joined or windowed. */
  val auditEwmaVolume: Q = {
    // w_j = 7^j * 10^(13-j): EXACT integer encoding of decay^j at scale
    // 13 (7^13·10^0 through 10^13) — shared by both dialects
    val wCase = (0 to 13)
      .map(j => s"WHEN $j THEN ${BigInt(7).pow(j) * BigInt(10).pow(13 - j)}")
      .mkString("CASE a.day_num - b.day_num ", " ", " END")
    val ewmaExpr =
      s"""round(CAST(sum(CAST($wCase AS DECIMAL(20,0)) * b.n_changes) AS DOUBLE)
         |      / CAST(sum(CAST($wCase AS DECIMAL(20,0))) AS DOUBLE), 4)""".stripMargin
    Q.sql(
      "audit_ewma_volume",
      duckDailyChanges + s""",
        |e AS (
        |  SELECT a.operation, a.day, a.n_changes, $ewmaExpr AS ewma_14d
        |  FROM g a JOIN g b ON a.operation = b.operation
        |    AND b.day_num BETWEEN a.day_num - 13 AND a.day_num
        |  GROUP BY 1, 2, 3)
        |SELECT operation, day, n_changes, ewma_14d,
        |  round(n_changes / ewma_14d, 4) AS ratio,
        |  (round(n_changes / ewma_14d, 4) >= 2.0
        |   OR round(n_changes / ewma_14d, 4) <= 0.5) AS anomaly
        |FROM e ORDER BY operation, day""".stripMargin) { (s, d) =>
      val g = dailyChanges(s, d)
      val ratio = round(col("n_changes") / col("ewma_14d"), 4)
      g.as("a")
        .join(g.as("b"),
          col("a.operation") === col("b.operation") &&
            col("b.day_num") >= col("a.day_num") - 13 &&
            col("b.day_num") <= col("a.day_num"))
        .groupBy(col("a.operation").as("operation"), col("a.day").as("day"),
          col("a.n_changes").as("n_changes"))
        .agg(expr(ewmaExpr).as("ewma_14d"))
        .select(col("operation"), col("day"), col("n_changes"),
          col("ewma_14d"), ratio.as("ratio"),
          (ratio >= 2.0 || ratio <= 0.5).as("anomaly"))
        .orderBy("operation", "day")
    }
  }

  /** Lag-1 / lag-7 autocorrelation of daily change volume per op class —
    * the NUMERIC seasonality verdict behind audit_dow_profile's visual
    * heat map: r₇ ≫ r₁ is a weekly-batch workload, r₁ high is trending
    * drift, both ≈ 0 is memoryless noise (in which case
    * audit_daily_anomaly's trailing-mean baseline is trustworthy; strong
    * seasonality means it flags every Sunday). Pearson over the
    * (xₜ, xₜ₋L) pairs of the daily series.
    *
    * Exactness: all six sufficient statistics (k, Σx, Σy, Σxy, Σx², Σy²)
    * are exact decimal sums of integer counts — order-independent — and
    * the correlation is one shared double expression over them, rounded
    * once; zero-variance arms publish NULL, not a 0/0 artifact.
    *
    * Scale: the feed partial-aggregates to the ≤ |ops|×|days| daily frame
    * before anything else; each lag arm is an aggregate-to-aggregate
    * equi-join on (operation, shifted day) — bounded both sides. */
  val auditVolumeAutocorr: Q = {
    val dailySql =
      """g AS (
        |  SELECT operation,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
        |    count(*) AS n_changes
        |  FROM audit GROUP BY 1, 2)""".stripMargin
    def armSql(lag: Int) =
      s"""c$lag AS (
         |  SELECT a.operation, count(*) AS k,
         |    CAST(sum(CAST(a.n_changes AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(b.n_changes AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(a.n_changes AS DECIMAL(18,0)) * b.n_changes) AS DOUBLE) AS sxy,
         |    CAST(sum(CAST(a.n_changes AS DECIMAL(18,0)) * a.n_changes) AS DOUBLE) AS sxx,
         |    CAST(sum(CAST(b.n_changes AS DECIMAL(18,0)) * b.n_changes) AS DOUBLE) AS syy
         |  FROM g a JOIN g b ON a.operation = b.operation
         |    AND b.day_num = a.day_num - $lag
         |  GROUP BY 1),
         |r$lag AS (
         |  SELECT operation, CAST($lag AS INT) AS lag, k AS n_pairs,
         |    CASE WHEN (k * sxx - sx * sx) * (k * syy - sy * sy) > 0
         |      THEN round((k * sxy - sx * sy)
         |                 / sqrt((k * sxx - sx * sx) * (k * syy - sy * sy)), 4)
         |    END AS autocorr
         |  FROM c$lag)""".stripMargin
    Q.sql(
      "audit_volume_autocorr",
      auditCte + s""", $dailySql,
        |${armSql(1)},
        |${armSql(7)}
        |SELECT * FROM r1 UNION ALL SELECT * FROM r7
        |ORDER BY operation, lag""".stripMargin) { (s, d) =>
      val g = log(s, d)
        .groupBy(col("operation"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .as("day_num"))
        .agg(count(lit(1)).as("n_changes"))
      def arm(lag: Int): DataFrame = {
        val stats = g.as("a")
          .join(g.as("b"),
            col("a.operation") === col("b.operation") &&
              col("b.day_num") === col("a.day_num") - lag)
          .groupBy(col("a.operation").as("operation"))
          .agg(count(lit(1)).as("k"),
            sum(col("a.n_changes").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("b.n_changes").cast("decimal(38,0)")).cast("double").as("sy"),
            sum(col("a.n_changes").cast("decimal(18,0)") * col("b.n_changes"))
              .cast("double").as("sxy"),
            sum(col("a.n_changes").cast("decimal(18,0)") * col("a.n_changes"))
              .cast("double").as("sxx"),
            sum(col("b.n_changes").cast("decimal(18,0)") * col("b.n_changes"))
              .cast("double").as("syy"))
        val varProd = (col("k") * col("sxx") - col("sx") * col("sx")) *
          (col("k") * col("syy") - col("sy") * col("sy"))
        stats.select(col("operation"), lit(lag).as("lag"),
          col("k").as("n_pairs"),
          when(varProd > 0,
            round((col("k") * col("sxy") - col("sx") * col("sy"))
              / sqrt(varProd), 4)).as("autocorr"))
      }
      arm(1).unionByName(arm(7)).orderBy("operation", "lag")
    }
  }

  val auditDowProfile: Q = Q.sql(
    "audit_dow_profile",
    auditCte +
      s"""SELECT ((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7) AS dow,
        |  CAST(hour(ts) AS INT) AS hr,
        |  count(*) AS n_changes,
        |  count(DISTINCT entity_id) AS n_entities,
        |  CAST(((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7) >= 5 AS BOOLEAN) AS weekend,
        |  round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS share
        |FROM audit
        |GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin) { (s, d) =>
    val shareW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    log(s, d)
      .groupBy(
        ((datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) + 3) % 7)
          .cast("long").as("dow"),
        hour(col("ts")).cast("int").as("hr"))
      .agg(count(lit(1)).as("n_changes"),
        countDistinct(col("entity_id")).as("n_entities"))
      .withColumn("weekend", col("dow") >= 5)
      .withColumn("share",
        round(col("n_changes") * lit(1.0) / sum(col("n_changes")).over(shareW), 6))
      .select("dow", "hr", "n_changes", "n_entities", "weekend", "share")
      .orderBy("dow", "hr")
  }

  /** Payload-volume profile per operation class: how many bytes of change
    * payload the capture path writes, split into carried vs empty rows —
    * the sizing input for the audit sink's storage budget (the reference's
    * hstore diff records only changed fields, audit.go:889, so payload
    * mass concentrates in U rows; a fat D payload = a trigger bug).
    * Byte lengths are exact octet_length on the raw JSON string; ONE feed
    * scan (the payload column rides the same projection as the derived
    * op/sparse fields — no join back to the feed), one partial-agg groupBy
    * bounded at |op| output rows. */
  val auditPayloadBytes: Q = Q.sql(
    "audit_payload_bytes",
    s"""WITH payload AS (
      |  SELECT ${AuditModel.operationSql} AS operation,
      |    strlen(props) AS nbytes,
      |    CASE WHEN (event_type NOT IN ('signup', 'error')
      |          AND NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') IS NOT NULL)
      |        OR event_type = 'purchase' THEN 1 ELSE 0 END AS carrying
      |  FROM events)
      |SELECT operation, count(*) AS n_changes,
      |  CAST(sum(carrying) AS BIGINT) AS n_carrying,
      |  CAST(sum(nbytes) AS BIGINT) AS total_bytes,
      |  CAST(max(nbytes) AS INT) AS max_bytes,
      |  round(sum(nbytes) * 1.0 / count(*), 4) AS avg_bytes
      |FROM payload GROUP BY operation ORDER BY operation""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(AuditModel.operation.as("operation"),
        octet_length(col("props")).as("nbytes"),
        when((!col("event_type").isin("signup", "error") &&
            get_json_object(col("props"), "$.k").isNotNull) ||
            col("event_type") === "purchase", 1).otherwise(0).as("carrying"))
      .groupBy("operation")
      .agg(count(lit(1)).as("n_changes"),
        sum(col("carrying")).cast("long").as("n_carrying"),
        sum(col("nbytes")).cast("long").as("total_bytes"),
        max(col("nbytes")).cast("int").as("max_bytes"),
        round(sum(col("nbytes")) * lit(1.0) / count(lit(1)), 4).as("avg_bytes"))
      .orderBy("operation")
  }

  /** Tamper-evidence digest chain over the audit feed — the integrity
    * check an auditor runs to prove a history slice was not rewritten:
    * every record folds to an md5 over its identity + operation + capture
    * time + payload; records chain per (entity, day) in audit_id order;
    * day digests chain per entity in day order. Re-running the op over an
    * untouched feed reproduces every chain digest bit-for-bit; any
    * insertion, deletion, or edit flips the entity's digest (and only
    * that entity's).
    *
    * Two-level fold is the scale design: the per-day concat is bounded by
    * one entity-day's activity and the per-entity concat by |active
    * days| — no chain ever concatenates a full unbounded history (the
    * merkle-tree posture). Both groupBys key on entity (one exchange
    * family); collect_list is sorted in-group by audit_id / day, so the
    * fold order is total and engine-independent. */
  val auditChainDigest: Q = Q.sql(
    "audit_chain_digest",
    auditCte +
      """, rec AS (
        |  SELECT entity_id, CAST(ts AS DATE) AS day, audit_id,
        |    md5(concat_ws('|', audit_id, operation, event_type,
        |      strftime(ts, '%Y-%m-%d %H:%M:%S'),
        |      coalesce(field_k, -1))) AS rd
        |  FROM audit),
        |dd AS (SELECT entity_id, day, count(*) AS n_recs,
        |         md5(string_agg(rd, '' ORDER BY audit_id)) AS day_digest
        |       FROM rec GROUP BY 1, 2)
        |SELECT entity_id, count(*) AS n_days,
        |  CAST(sum(n_recs) AS BIGINT) AS n_records,
        |  md5(string_agg(day_digest, '' ORDER BY day)) AS chain_digest
        |FROM dd GROUP BY entity_id ORDER BY entity_id""".stripMargin) { (s, d) =>
    val rec = log(s, d).select(
      col("entity_id"), to_date(col("ts")).as("day"), col("audit_id"),
      md5(concat_ws("|", col("audit_id"), col("operation"), col("event_type"),
        date_format(col("ts"), TS),
        coalesce(col("field_k"), lit(-1)))).as("rd"))
    val dd = rec.groupBy("entity_id", "day")
      .agg(count(lit(1)).as("n_recs"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(struct(audit_id, rd))), x -> x.rd), '')"))
          .as("day_digest"))
    dd.groupBy("entity_id")
      .agg(count(lit(1)).as("n_days"), sum("n_recs").as("n_records"),
        md5(expr(
          "array_join(transform(array_sort(collect_list(struct(day, day_digest))), x -> x.day_digest), '')"))
          .as("chain_digest"))
      .orderBy("entity_id")
  }

  /** Robust daily-volume anomaly twin: median/MAD control limits where
    * audit_daily_anomaly uses a trailing mean — the robust-statistics
    * answer to the window poisoning a mean-based monitor suffers (one
    * burst day inflates the trailing mean and masks the NEXT anomaly;
    * the median barely moves). Modified z = 0.6745·(n − med)/MAD with
    * the Iglewicz-Hoaglin 3.5 cut; MAD = 0 degrades to "any deviation
    * from the constant median flags".
    *
    * Scale: the feed collapses to the calendar-filled ≤ |ops|×|days|
    * daily frame FIRST; both order statistics (median of counts, median
    * of absolute deviations) are rank picks via row_number on that
    * bounded frame — never on raw data — and the per-op medians join
    * back as a broadcast. All medians are exact integers (lower median:
    * rank (cnt+1)/2 under a (value, day) total order), so z is one
    * shared double expression over exact ints, rounded once. */
  val auditVolumeMad: Q = Q.sql(
    "audit_volume_mad",
    auditCte + filledDailyCtes + """,
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY operation ORDER BY n, day) AS rn,
      |    count(*) OVER (PARTITION BY operation) AS cnt
      |  FROM filled),
      |med AS (SELECT operation, n AS med FROM rk WHERE rn = (cnt + 1) // 2),
      |dev AS (
      |  SELECT f.day, f.operation, f.n, med.med, abs(f.n - med.med) AS ad
      |  FROM filled f JOIN med ON f.operation = med.operation),
      |rk2 AS (
      |  SELECT *, row_number() OVER (PARTITION BY operation ORDER BY ad, day) AS rn,
      |    count(*) OVER (PARTITION BY operation) AS cnt
      |  FROM dev),
      |mad AS (SELECT operation, ad AS mad FROM rk2 WHERE rn = (cnt + 1) // 2)
      |SELECT dev.day, dev.operation, dev.n, dev.med, mad.mad,
      |  CASE WHEN mad.mad > 0
      |    THEN round(0.6745 * (dev.n - dev.med) / mad.mad, 4) END AS robust_z,
      |  CASE WHEN mad.mad > 0
      |         AND abs(round(0.6745 * (dev.n - dev.med) / mad.mad, 4)) > 3.5 THEN 1
      |       WHEN mad.mad = 0 AND dev.n <> dev.med THEN 1
      |       ELSE 0 END AS anomaly
      |FROM dev JOIN mad ON dev.operation = mad.operation
      |ORDER BY dev.operation, dev.day""".stripMargin) { (s, d) =>
    val filled = filledDaily(s, d)
    def lowerMedian(df: DataFrame, value: String, out: String): DataFrame = {
      val byOp = Window.partitionBy("operation")
      df.withColumn("rn", row_number().over(byOp.orderBy(col(value), col("day"))))
        .withColumn("cnt", count(lit(1)).over(byOp))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("operation"), col(value).as(out))
    }
    val med = lowerMedian(filled, "n", "med")
    val dev = filled.join(broadcast(med), Seq("operation"))
      .withColumn("ad", abs(col("n") - col("med")))
    val mad = lowerMedian(dev, "ad", "mad")
    val z = round(lit(0.6745) * (col("n") - col("med")) / col("mad"), 4)
    dev.join(broadcast(mad), Seq("operation"))
      .select(col("day"), col("operation"), col("n"), col("med"), col("mad"),
        when(col("mad") > 0, z).as("robust_z"),
        when(col("mad") > 0 && abs(z) > 3.5, 1)
          .when(col("mad") === 0 && col("n") =!= col("med"), 1)
          .otherwise(0).as("anomaly"))
      .orderBy("operation", "day")
  }

  /** Two-sided CUSUM change-point monitor on daily change volume per op
    * class (Page 1954 — the sequential test that catches SMALL SUSTAINED
    * level shifts EWMA/MAD z-scores react to late or never: each day's
    * small excess accumulates until the sum crosses the decision
    * interval). Baseline μ = first-7-days mean per op (the
    * audit_value_drift convention); allowance k = μ/4, decision interval
    * h = 2μ. The recursion Cₜ = max(0, Cₜ₋₁ + (xₜ − μ − k)) is not a
    * windowed sum, but it has the closed form Cₜ = Sₜ − min(0, min_{j≤t}
    * Sⱼ) over the drift-adjusted cumsum Sₜ — two running windows, no
    * recursion. All arithmetic is EXACT 28-scaled integers (28 = lcm of
    * the /7 mean and /4 allowance): y⁺ = 28n − 5·s7, y⁻ = 3·s7 − 28n,
    * alarm ⇔ C·28 > 8·s7 — no float ever appears, so the published
    * `cusum_*_x28` columns are integer-exact in both engines.
    *
    * Scale: the feed collapses to the calendar-filled ≤ |ops|×|days|
    * daily frame FIRST ([[filledDailyCtes]]); both running windows and
    * the baseline join run on that bounded frame — never on raw data —
    * and the per-op baseline is a broadcast. */
  val auditCusum: Q = Q.sql(
    "audit_cusum",
    auditCte + filledDailyCtes + """,
      |b AS (
      |  SELECT operation, CAST(sum(n) AS BIGINT) AS s7
      |  FROM filled CROSS JOIN bounds WHERE day < d0 + 7 GROUP BY 1),
      |y AS (
      |  SELECT f.day, f.operation, f.n, b.s7,
      |    28 * f.n - 5 * b.s7 AS y_up, 3 * b.s7 - 28 * f.n AS y_dn
      |  FROM filled f JOIN b ON f.operation = b.operation),
      |cs AS (
      |  SELECT day, operation, n, s7,
      |    sum(y_up) OVER w AS cs_up, sum(y_dn) OVER w AS cs_dn
      |  FROM y
      |  WINDOW w AS (PARTITION BY operation ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (
      |  SELECT day, operation, n, s7,
      |    cs_up - least(0, min(cs_up) OVER w) AS c_up,
      |    cs_dn - least(0, min(cs_dn) OVER w) AS c_dn
      |  FROM cs
      |  WINDOW w AS (PARTITION BY operation ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT day, operation, n, s7 AS base7_total,
      |  CAST(c_up AS BIGINT) AS cusum_up_x28, CAST(c_dn AS BIGINT) AS cusum_dn_x28,
      |  CASE WHEN c_up > 8 * s7 THEN 1 ELSE 0 END AS alarm_up,
      |  CASE WHEN c_dn > 8 * s7 THEN 1 ELSE 0 END AS alarm_dn
      |FROM c ORDER BY operation, day""".stripMargin) { (s, d) =>
    val filled = filledDaily(s, d)
    val base = filled
      .crossJoin(broadcast(filled.agg(min("day").as("d0"))))
      .filter(datediff(col("day"), col("d0")) < 7)
      .groupBy("operation").agg(sum("n").cast("long").as("s7"))
    val w = Window.partitionBy("operation").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.join(broadcast(base), Seq("operation"))
      .withColumn("y_up", lit(28L) * col("n") - lit(5L) * col("s7"))
      .withColumn("y_dn", lit(3L) * col("s7") - lit(28L) * col("n"))
      .withColumn("cs_up", sum("y_up").over(w))
      .withColumn("cs_dn", sum("y_dn").over(w))
      .withColumn("c_up", col("cs_up") - least(lit(0L), min("cs_up").over(w)))
      .withColumn("c_dn", col("cs_dn") - least(lit(0L), min("cs_dn").over(w)))
      .select(col("day"), col("operation"), col("n"), col("s7").as("base7_total"),
        col("c_up").cast("long").as("cusum_up_x28"),
        col("c_dn").cast("long").as("cusum_dn_x28"),
        when(col("c_up") > lit(8L) * col("s7"), 1).otherwise(0).as("alarm_up"),
        when(col("c_dn") > lit(8L) * col("s7"), 1).otherwise(0).as("alarm_dn"))
      .orderBy("operation", "day")
  }

  /** Exact session-shape quantiles (p50/p90/p99/max of events-per-session
    * and session duration) — the distributional readout behind
    * audit_sessionize (which emits the sessions) and audit_session_window
    * (which bounds them): state-store sizing and timeout tuning read
    * p99 duration, not the mean. Exactness WITHOUT a global sort: both
    * metrics live on small-integer domains (events per session; whole
    * seconds under a 30-min-gap rule), so sessions collapse to a
    * (metric, value) histogram and quantiles are cumulative-rank picks —
    * the token_length_quantiles discipline on the session plane.
    *
    * Scale: sessionization is the ONE entity-partitioned window (shared
    * exchange family); per-session aggregates are a partial-agg groupBy;
    * the histogram/windows are bounded by the value domains. */
  val auditSessionQuantiles: Q = {
    def qSel(p: String, alias: String) =
      s"CAST(min(CASE WHEN cum >= CAST(ceil($p * nd) AS BIGINT) THEN v END) AS BIGINT) AS $alias"
    Q.sql(
      "audit_session_quantiles",
      auditCte + s""", ${duckSessionCtes("entity_id, ts")},
        |per AS (
        |  SELECT entity_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(floor(epoch(max(ts))) AS BIGINT)
        |      - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s
        |  FROM sessions GROUP BY 1, 2),
        |m AS (
        |  SELECT 'n_events' AS metric, n_events AS v FROM per
        |  UNION ALL
        |  SELECT 'duration_s' AS metric, duration_s AS v FROM per),
        |h AS (SELECT metric, v, CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY 1, 2),
        |t AS (
        |  SELECT metric, v, cnt,
        |    sum(cnt) OVER (PARTITION BY metric ORDER BY v) AS cum,
        |    sum(cnt) OVER (PARTITION BY metric) AS nd
        |  FROM h)
        |SELECT metric, CAST(max(nd) AS BIGINT) AS n_sessions,
        |  ${qSel("0.5", "p50")}, ${qSel("0.9", "p90")}, ${qSel("0.99", "p99")},
        |  CAST(max(v) AS BIGINT) AS max_v
        |FROM t GROUP BY metric ORDER BY metric""".stripMargin) { (s, d) =>
      val per = withSessionId(
          log(s, d).select(col("entity_id"), col("audit_id"), col("ts")))
        .groupBy("entity_id", "session_id")
        .agg(count(lit(1)).cast("long").as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_s"))
      val m = per.select(lit("n_events").as("metric"), col("n_events").as("v"))
        .unionByName(per.select(lit("duration_s").as("metric"),
          col("duration_s").as("v")))
      val byMetric = Window.partitionBy("metric")
      val t = m.groupBy("metric", "v").agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("cum", sum("cnt").over(byMetric.orderBy("v")))
        .withColumn("nd", sum("cnt").over(byMetric))
      def q(p: Double, alias: String) =
        min(when(col("cum") >= ceil(lit(p) * col("nd")).cast("long"), col("v")))
          .cast("long").as(alias)
      t.groupBy("metric")
        .agg(max("nd").cast("long").as("n_sessions"),
          q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"),
          max("v").cast("long").as("max_v"))
        .orderBy("metric")
    }
  }

  /** Benford's-law first-digit audit of the purchase values — the
    * classic fabricated-numbers screen (Benford 1938; invented amounts
    * cluster in mid digits, organic multi-scale amounts decay as
    * log10(1+1/d)): per digit 1-9, observed share vs the Benford
    * expectation with a binomial z-score and |z| > 3 flag. On THIS feed
    * the values are organically log-spread and CONFORM (spec-pinned) —
    * the baseline a fraud monitor alarms against. Sub-1 values carry no
    * leading digit and are excluded from the denominator (published in
    * n_subunit, no silent drop).
    *
    * Determinism: the 9 Benford constants are Scala-computed literals
    * emitted into BOTH dialects (no cross-engine log10); digit counts
    * are exact; z is one shared double expression over already-rounded
    * values. Scale: one feed scan → 9-row digit histogram; everything
    * after is on that frame. */
  val auditValueBenford: Q = {
    val benford: Seq[(Int, String)] = (1 to 9).map { dd =>
      dd -> BigDecimal(math.log10(1.0 + 1.0 / dd))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    }
    val duckBenford = benford.map { case (dd, p) => s"($dd, $p)" }.mkString(", ")
    val zF = "round((obs_share - benford_share) * sqrt(1.0 * n_total) " +
      "/ sqrt(benford_share * (1 - benford_share)), 4)"
    Q.sql(
      "audit_value_benford",
      auditCte + s""", pv AS (
        |  SELECT val FROM audit WHERE val IS NOT NULL),
        |tot AS (
        |  SELECT CAST(count(CASE WHEN val >= 1 THEN 1 END) AS BIGINT) AS n_total,
        |    CAST(count(CASE WHEN val < 1 THEN 1 END) AS BIGINT) AS n_subunit
        |  FROM pv),
        |dg AS (
        |  SELECT CAST(left(CAST(CAST(floor(val) AS BIGINT) AS VARCHAR), 1) AS INT)
        |      AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM pv WHERE val >= 1 GROUP BY 1),
        |bf(digit, benford_share) AS (VALUES $duckBenford),
        |g AS (
        |  SELECT bf.digit, coalesce(dg.n, 0) AS n,
        |    CAST(bf.benford_share AS DOUBLE) AS benford_share, n_total, n_subunit
        |  FROM bf LEFT JOIN dg ON bf.digit = dg.digit CROSS JOIN tot),
        |x AS (
        |  SELECT digit, n, n_total, n_subunit, benford_share,
        |    round(1.0 * n / n_total, 6) AS obs_share
        |  FROM g)
        |SELECT digit, n, n_total, n_subunit, obs_share, benford_share,
        |  $zF AS z,
        |  CASE WHEN abs($zF) > 3 THEN 1 ELSE 0 END AS flagged
        |FROM x ORDER BY digit""".stripMargin) { (s, d) =>
      import s.implicits._
      val pv = log(s, d)
        .withColumn("val", when(col("event_type") === "purchase", col("value")))
        .filter(col("val").isNotNull)
      val tot = pv.agg(
        count(when(col("val") >= 1, 1)).cast("long").as("n_total"),
        count(when(col("val") < 1, 1)).cast("long").as("n_subunit"))
      val dg = pv.filter(col("val") >= 1)
        .groupBy(expr("CAST(substring(CAST(CAST(floor(val) AS BIGINT) AS STRING), 1, 1) AS INT)")
          .as("digit"))
        .agg(count(lit(1)).cast("long").as("n"))
      val bf = benford.map { case (dd, p) => (dd, p.toDouble) }
        .toDF("digit", "benford_share")
      bf.join(dg, Seq("digit"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("obs_share", round(lit(1.0) * col("n") / col("n_total"), 6))
        .selectExpr("digit", "n", "n_total", "n_subunit", "obs_share",
          "benford_share", s"$zF AS z",
          s"CASE WHEN abs($zF) > 3 THEN 1 ELSE 0 END AS flagged")
        .orderBy("digit")
    }
  }

  /** Entity growth accounting per ISO-ish week: new entities (first
    * change that week), churned entities (last change that week), and
    * the net active base carried forward — the subscriber-ledger view
    * of the audit population (audit_entity_lifetime gives the per-entity
    * row; this is its time-series rollup, and the sweep-line trick makes
    * the "active" column exact without an entity×weeks explode). A week
    * is days-since-epoch div 7 (engine-neutral integer arithmetic, the
    * audit_dow_profile discipline), labeled by its Monday.
    *
    * Scale: first/last per entity is ONE entity-keyed partial aggregate
    * (the shared exchange family); new/churn collapse to two ≤ |weeks|
    * frames; active_eow = cum(new) − cum(churned) runs on the dense
    * bounded week grid. */
  val auditEntityChurn: Q = Q.sql(
    "audit_entity_churn",
    auditCte + """, fl AS (
      |  SELECT entity_id,
      |    (date_diff('day', DATE '1970-01-01', CAST(min(ts) AS DATE)) + 3) // 7
      |      AS first_wk,
      |    (date_diff('day', DATE '1970-01-01', CAST(max(ts) AS DATE)) + 3) // 7
      |      AS last_wk
      |  FROM audit GROUP BY 1),
      |b AS (SELECT min(first_wk) AS w0, max(last_wk) AS w1 FROM fl),
      |wks AS (
      |  SELECT CAST(unnest(generate_series(w0, w1)) AS BIGINT) AS wk FROM b),
      |nw AS (SELECT first_wk AS wk, CAST(count(*) AS BIGINT) AS new_entities
      |       FROM fl GROUP BY 1),
      |cw AS (SELECT last_wk AS wk, CAST(count(*) AS BIGINT) AS churned_entities
      |       FROM fl GROUP BY 1),
      |g AS (
      |  SELECT wks.wk, coalesce(nw.new_entities, 0) AS new_entities,
      |    coalesce(cw.churned_entities, 0) AS churned_entities
      |  FROM wks LEFT JOIN nw ON wks.wk = nw.wk
      |    LEFT JOIN cw ON wks.wk = cw.wk)
      |SELECT strftime(DATE '1970-01-01' + CAST(wk * 7 - 3 AS INT), '%Y-%m-%d')
      |    AS week_start,
      |  new_entities, churned_entities,
      |  CAST(sum(new_entities) OVER w AS BIGINT) AS cum_seen,
      |  CAST(sum(new_entities) OVER w - sum(churned_entities) OVER w AS BIGINT)
      |    AS active_eow
      |FROM g
      |WINDOW w AS (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY week_start""".stripMargin) { (s, d) =>
    val fl = log(s, d).groupBy("entity_id")
      .agg(expr("(datediff(CAST(min(ts) AS DATE), DATE '1970-01-01') + 3) div 7")
          .as("first_wk"),
        expr("(datediff(CAST(max(ts) AS DATE), DATE '1970-01-01') + 3) div 7")
          .as("last_wk"))
    val wks = fl.agg(min("first_wk").as("w0"), max("last_wk").as("w1"))
      .select(explode(sequence(col("w0"), col("w1"))).as("wk"))
    val nw = fl.groupBy(col("first_wk").as("wk"))
      .agg(count(lit(1)).cast("long").as("new_entities"))
    val cw = fl.groupBy(col("last_wk").as("wk"))
      .agg(count(lit(1)).cast("long").as("churned_entities"))
    val w = Window.orderBy("wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wks.join(nw, Seq("wk"), "left").join(cw, Seq("wk"), "left")
      .select(col("wk"),
        coalesce(col("new_entities"), lit(0L)).as("new_entities"),
        coalesce(col("churned_entities"), lit(0L)).as("churned_entities"))
      .withColumn("cum_seen", sum("new_entities").over(w).cast("long"))
      .withColumn("active_eow",
        (sum("new_entities").over(w) - sum("churned_entities").over(w)).cast("long"))
      .select(
        date_format(expr("date_add(DATE '1970-01-01', CAST(wk * 7 - 3 AS INT))"),
          "yyyy-MM-dd").as("week_start"),
        col("new_entities"), col("churned_entities"), col("cum_seen"),
        col("active_eow"))
      .orderBy("week_start")
  }

  /** Day-of-week seasonal adjustment of the daily volume series: each
    * (op, day) count is divided by its op's day-of-week factor (that
    * dow's mean volume over the op's overall mean — classical ratio-to-
    * moving-average deseasonalization), giving the series the volume
    * monitors SHOULD watch: audit_dow_profile proves weekly seasonality
    * exists, and an unadjusted threshold monitor either alarms every
    * quiet Sunday or sleeps through a weekday drop. adj_dev_share is the
    * deseasonalized deviation from the op's mean — residual signal after
    * the weekly pattern is removed.
    *
    * Determinism: the factor is ONE double division of two exact BIGINT
    * cross-products (S_dow·c_all)/(c_dow·S_all) rounded once; adjusted
    * divides the exact count by that published factor and rounds once —
    * no chained unrounded floats. A dow with zero volume publishes NULL
    * (no fictional 0/0).
    *
    * Scale: runs entirely on the calendar-filled ≤ |ops|×|days| frame
    * ([[filledDailyCtes]]); factors are a ≤ |ops|×7 aggregate broadcast
    * back. */
  val auditSeasonalAdjust: Q = Q.sql(
    "audit_seasonal_adjust",
    auditCte + filledDailyCtes + """,
      |fd AS (
      |  SELECT day, operation, n,
      |    (date_diff('day', DATE '1970-01-01', day) + 3) % 7 AS dow
      |  FROM filled),
      |f AS (
      |  SELECT operation, dow, CAST(sum(n) AS BIGINT) AS s_dow,
      |    CAST(count(*) AS BIGINT) AS c_dow
      |  FROM fd GROUP BY 1, 2),
      |o AS (
      |  SELECT operation, CAST(sum(s_dow) AS BIGINT) AS s_all,
      |    CAST(sum(c_dow) AS BIGINT) AS c_all
      |  FROM f GROUP BY 1),
      |x AS (
      |  SELECT fd.day, fd.operation, fd.n, fd.dow,
      |    CASE WHEN s_dow > 0
      |      THEN round(CAST(s_dow * c_all AS DOUBLE)
      |             / CAST(c_dow * s_all AS DOUBLE), 4) END AS factor,
      |    s_all, c_all
      |  FROM fd JOIN f ON fd.operation = f.operation AND fd.dow = f.dow
      |    JOIN o ON fd.operation = o.operation)
      |SELECT day, operation, n, CAST(dow AS BIGINT) AS dow, factor,
      |  CASE WHEN factor > 0 THEN round(CAST(n AS DOUBLE) / factor, 2) END
      |    AS adjusted,
      |  CASE WHEN factor > 0 THEN
      |    round(round(CAST(n AS DOUBLE) / factor, 2)
      |      / (CAST(s_all AS DOUBLE) / CAST(c_all AS DOUBLE)) - 1e0, 4) END
      |    AS adj_dev_share
      |FROM x ORDER BY operation, day""".stripMargin) { (s, d) =>
    val fd = filledDaily(s, d)
      .withColumn("dow",
        (datediff(col("day"), to_date(lit("1970-01-01"))) + 3) % 7)
    val f = fd.groupBy("operation", "dow")
      .agg(sum("n").cast("long").as("s_dow"), count(lit(1)).cast("long").as("c_dow"))
    val o = f.groupBy("operation")
      .agg(sum("s_dow").cast("long").as("s_all"), sum("c_dow").cast("long").as("c_all"))
    fd.join(broadcast(f), Seq("operation", "dow"))
      .join(broadcast(o), Seq("operation"))
      .withColumn("factor",
        when(col("s_dow") > 0,
          round(expr("CAST(s_dow * c_all AS DOUBLE)")
            / expr("CAST(c_dow * s_all AS DOUBLE)"), 4)))
      .select(col("day"), col("operation"), col("n"),
        col("dow").cast("long").as("dow"), col("factor"),
        when(col("factor") > 0,
          round(expr("CAST(n AS DOUBLE)") / col("factor"), 2)).as("adjusted"),
        when(col("factor") > 0,
          round(round(expr("CAST(n AS DOUBLE)") / col("factor"), 2)
            / expr("CAST(s_all AS DOUBLE) / CAST(c_all AS DOUBLE)") - lit(1.0), 4))
          .as("adj_dev_share"))
      .orderBy("operation", "day")
  }

  /** Actor-behavior profile over the capture metadata: per `changed_by`
    * principal, volume share, entity breadth, dominant operation, and the
    * total-variation distance of the actor's operation mix from the
    * global mix, with a skew flag — the insider-threat / runaway-service
    * smell (a credential that suddenly issues mostly DELETEs, a batch job
    * touching every entity once). audit_who_changed answers "who touched
    * THIS entity"; this op profiles each ACTOR's behavior corpus-wide —
    * the other direction of the same metadata.
    *
    * Scale: the feed partial-aggregates to the ≤ |actors|×|ops| mix grid
    * and a (actor, entity)-distinct breadth count (one exchange each);
    * every metric then lives on bounded frames with the global mix
    * broadcast. TVD over rounded-6 DECIMAL shares (the audit_value_drift
    * discipline — exact, order-free). Threshold 0.03 sits inside this
    * feed's observed spread (0.006-0.033). */
  val auditActorProfile: Q = Q.sql(
    "audit_actor_profile",
    auditCte + """, m AS (
      |  SELECT changed_by, operation, CAST(count(*) AS BIGINT) AS c
      |  FROM audit GROUP BY 1, 2),
      |t AS (SELECT changed_by, CAST(sum(c) AS BIGINT) AS n FROM m GROUP BY 1),
      |g AS (SELECT operation, CAST(sum(c) AS BIGINT) AS gc FROM m GROUP BY 1),
      |gt AS (SELECT CAST(sum(gc) AS BIGINT) AS gn FROM g),
      |ent AS (
      |  SELECT changed_by, CAST(count(*) AS BIGINT) AS n_entities
      |  FROM (SELECT DISTINCT changed_by, entity_id FROM audit) GROUP BY 1),
      |grid AS (
      |  SELECT t.changed_by, g.operation, t.n, g.gc, coalesce(m.c, 0) AS c
      |  FROM t CROSS JOIN g
      |  LEFT JOIN m ON m.changed_by = t.changed_by AND m.operation = g.operation),
      |dev AS (
      |  SELECT changed_by, operation, c, n, gc, gn,
      |    abs(CAST(round(1.0 * c / n, 6) AS DECIMAL(18, 6))
      |      - CAST(round(1.0 * gc / gn, 6) AS DECIMAL(18, 6))) AS d,
      |    row_number() OVER (PARTITION BY changed_by
      |      ORDER BY c DESC, operation) AS ork
      |  FROM grid CROSS JOIN gt),
      |prof AS (
      |  SELECT changed_by, max(n) AS n_changes,
      |    round(CAST(sum(d) AS DOUBLE) / 2, 6) AS tvd,
      |    min(CASE WHEN ork = 1 THEN operation END) AS dominant_op,
      |    round(1.0 * max(CASE WHEN ork = 1 THEN c END) / max(n), 4) AS dom_share
      |  FROM dev GROUP BY 1)
      |SELECT prof.changed_by, n_changes,
      |  round(1.0 * n_changes / gn, 4) AS vol_share,
      |  ent.n_entities, dominant_op, dom_share, tvd,
      |  CASE WHEN tvd > 0.03 THEN 1 ELSE 0 END AS flagged
      |FROM prof JOIN ent ON prof.changed_by = ent.changed_by CROSS JOIN gt
      |ORDER BY prof.changed_by""".stripMargin) { (s, d) =>
    val dec = "decimal(18,6)"
    val m = log(s, d).groupBy("changed_by", "operation")
      .agg(count(lit(1)).cast("long").as("c"))
    val t = m.groupBy("changed_by").agg(sum("c").cast("long").as("n"))
    val g = m.groupBy("operation").agg(sum("c").cast("long").as("gc"))
    val gt = g.agg(sum("gc").cast("long").as("gn"))
    val ent = log(s, d).select("changed_by", "entity_id").distinct()
      .groupBy("changed_by").agg(count(lit(1)).cast("long").as("n_entities"))
    val ork = Window.partitionBy("changed_by")
      .orderBy(col("c").desc, col("operation"))
    // full |actors|×|ops| grid: an op class an actor NEVER issues still
    // contributes its global share to the TVD (a missing cell is exactly
    // the anomaly the distance must see — spec-caught at sf0.001)
    val dev = t.crossJoin(broadcast(g))
      .join(m, Seq("changed_by", "operation"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(gt))
      .withColumn("d", abs(
        round(lit(1.0) * col("c") / col("n"), 6).cast(dec)
          - round(lit(1.0) * col("gc") / col("gn"), 6).cast(dec)))
      .withColumn("ork", row_number().over(ork))
    val prof = dev.groupBy("changed_by")
      .agg(max("n").as("n_changes"),
        round(sum("d").cast("double") / 2, 6).as("tvd"),
        min(when(col("ork") === 1, col("operation"))).as("dominant_op"),
        round(lit(1.0) * max(when(col("ork") === 1, col("c"))) / max("n"), 4)
          .as("dom_share"))
    prof.join(broadcast(ent), Seq("changed_by"))
      .crossJoin(broadcast(gt))
      .select(col("changed_by"), col("n_changes"),
        round(lit(1.0) * col("n_changes") / col("gn"), 4).as("vol_share"),
        col("n_entities"), col("dominant_op"), col("dom_share"), col("tvd"),
        when(col("tvd") > 0.03, 1).otherwise(0).as("flagged"))
      .orderBy("changed_by")
  }

  /** CDC MERGE plan + apply: split the feed at the id midpoint, treat the
    * ≤mid state as the base table and the >mid slice as the incoming
    * change batch, and emit the per-entity MERGE verdict a Delta-style
    * `MERGE INTO` executor would produce — matched-update /
    * matched-delete / unmatched-insert / insert_then_delete / unchanged —
    * together with the merged final state. The `reconciled` column proves
    * the algebra: last-non-null state composes associatively across the
    * split (merged ≡ coalesce(post-half state, pre-half state) ≡ full
    * replay), so a periodic MERGE apply and a from-scratch replay can
    * never diverge — the invariant that makes incremental materialization
    * of audit_current safe at 100 TB (replay the suffix, not the feed).
    * audit_compact answers "what state"; this op answers "what would the
    * writer DO" — the row-level action classification is what a MERGE
    * sink needs to plan upserts vs deletes.
    *
    * Scale: midpoint is a 1-row broadcast; each half runs the standard
    * entity-windowed top-1 over an id-PRUNED scan (the predicate reaches
    * parquet); halves meet in a full-outer entity-keyed join — the same
    * exchange family as the windows, so AQE aligns the partitioning. No
    * full-feed recompute for the check: reconciliation is algebraic
    * (coalesce of the two halves), not a third scan. */
  val auditMergeUpsert: Q = Q.sql(
    "audit_merge_upsert",
    auditCte + s""", m AS (SELECT CAST(floor(max(audit_id) / 2) AS BIGINT) AS mid FROM audit),
      |${latestSnap("pre", "entity_id, audit_id, operation",
        "audit CROSS JOIN m WHERE audit_id <= mid")},
      |${latestSnap("post", "entity_id, audit_id, operation",
        "audit CROSS JOIN m WHERE audit_id > mid")},
      |b AS (SELECT * FROM pre WHERE rn = 1),
      |dl AS (SELECT * FROM post WHERE rn = 1),
      |${latestSnap("full_rep", "entity_id, audit_id", "audit")},
      |f AS (SELECT * FROM full_rep WHERE rn = 1),
      |mg AS (
      |  SELECT coalesce(dl.entity_id, b.entity_id) AS entity_id,
      |    CASE
      |      WHEN dl.entity_id IS NULL THEN 'unchanged'
      |      WHEN b.entity_id IS NULL AND dl.operation IN ('D', 'T')
      |        THEN 'insert_then_delete'
      |      WHEN b.entity_id IS NULL THEN 'insert'
      |      WHEN dl.operation IN ('D', 'T') THEN 'delete'
      |      ELSE 'update' END AS merge_action,
      |    coalesce(dl.audit_id, b.audit_id) AS last_audit_id,
      |    coalesce(dl.state_k, b.state_k) AS state_k,
      |    coalesce(dl.state_val, b.state_val) AS state_val
      |  FROM b FULL OUTER JOIN dl ON b.entity_id = dl.entity_id)
      |SELECT mg.entity_id, mg.merge_action, mg.last_audit_id,
      |  mg.state_k, mg.state_val,
      |  (mg.last_audit_id = f.audit_id
      |    AND mg.state_k IS NOT DISTINCT FROM f.state_k
      |    AND mg.state_val IS NOT DISTINCT FROM f.state_val) AS reconciled
      |FROM mg JOIN f ON mg.entity_id = f.entity_id
      |ORDER BY mg.entity_id""".stripMargin) { (s, d) =>
    val lg = sparse(log(s, d))
      .select("audit_id", "entity_id", "operation", "k", "val")
    val mid = lg.agg(floor(max("audit_id") / 2).cast("long").as("__mid"))
    val wm = lg.crossJoin(broadcast(mid))
    def lastState(half: DataFrame): DataFrame =
      alg.current(half, Seq("k", "val"))
        .select(col("entity_id"), col("audit_id"), col("operation"),
          col("state_k"), col("state_val"))
    val base = lastState(wm.filter(col("audit_id") <= col("__mid")).drop("__mid"))
      .withColumnRenamed("audit_id", "b_id")
      .withColumnRenamed("operation", "b_op")
      .withColumnRenamed("state_k", "b_k")
      .withColumnRenamed("state_val", "b_val")
    val delta = lastState(wm.filter(col("audit_id") > col("__mid")).drop("__mid"))
      .withColumnRenamed("audit_id", "d_id")
      .withColumnRenamed("operation", "d_op")
      .withColumnRenamed("state_k", "d_k")
      .withColumnRenamed("state_val", "d_val")
    val full = lastState(lg)
      .select(col("entity_id"), col("audit_id").as("f_id"),
        col("state_k").as("f_k"), col("state_val").as("f_val"))
    val merged = base.join(delta, Seq("entity_id"), "full_outer")
      .select(col("entity_id"),
        when(col("d_id").isNull, "unchanged")
          .when(col("b_id").isNull && col("d_op").isin(AuditModel.terminalOps: _*),
            "insert_then_delete")
          .when(col("b_id").isNull, "insert")
          .when(col("d_op").isin(AuditModel.terminalOps: _*), "delete")
          .otherwise("update").as("merge_action"),
        coalesce(col("d_id"), col("b_id")).as("last_audit_id"),
        coalesce(col("d_k"), col("b_k")).as("state_k"),
        coalesce(col("d_val"), col("b_val")).as("state_val"))
    merged.join(full, Seq("entity_id"))
      .select(col("entity_id"), col("merge_action"), col("last_audit_id"),
        col("state_k"), col("state_val"),
        (col("last_audit_id") === col("f_id") &&
          col("state_k") <=> col("f_k") &&
          col("state_val") <=> col("f_val")).as("reconciled"))
      .orderBy("entity_id")
  }

  /** Entity lifecycle fingerprints: the top 20 leading operation
    * sequences (first 5 ops per entity, 'I>U>U>D>…') with entity counts
    * and share — the sequence-level complement of audit_op_transitions'
    * pairwise matrix (a Markov matrix can score I→U and U→D as common
    * yet never reveal that I>U>D *as a whole* dominates). Data-model
    * forensics: entities born before the capture window started surface
    * as U-leading paths; mass D-leading paths mean the feed is replaying
    * deletes of unseen entities.
    *
    * Scale: ONE entity-keyed window (row_number caps each entity at its
    * first 5 ops — state per entity is O(5)) + ONE entity groupBy on the
    * capped rows (sort-struct-collect of ≤5 elements per group); the
    * path rollup is a partial-agg groupBy bounded at |op|⁵ cells and the
    * share divisor is a 1-row broadcast. The feed never carries more
    * than 5 rows per entity past the first window. */
  val auditLifecyclePaths: Q = Q.sql(
    "audit_lifecycle_paths",
    auditCte + s""", capped AS (
      |  SELECT entity_id, operation, audit_id, row_number() OVER w AS rn
      |  FROM audit ${alg.duckWindow}),
      |paths AS (
      |  SELECT entity_id,
      |    string_agg(operation, '>' ORDER BY audit_id) AS path
      |  FROM capped WHERE rn <= 5 GROUP BY entity_id),
      |c AS (SELECT path, count(*) AS n_entities FROM paths GROUP BY 1),
      |t AS (SELECT count(*) AS total FROM paths)
      |SELECT path, n_entities,
      |  round(1.0 * n_entities / total, 4) AS entity_share
      |FROM c CROSS JOIN t
      |ORDER BY n_entities DESC, path LIMIT 20""".stripMargin) { (s, d) =>
    val capped = log(s, d)
      .select(col("entity_id"), col("operation"), col("audit_id"),
        row_number().over(alg.byEntity).as("rn"))
      .filter(col("rn") <= 5)
    val paths = capped.groupBy("entity_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("audit_id"), col("operation")))),
          x => x.getField("operation")), ">").as("path"))
    val counts = paths.groupBy("path").agg(count(lit(1)).as("n_entities"))
    val total = paths.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("path"), col("n_entities"),
        round(lit(1.0) * col("n_entities") / col("total"), 4).as("entity_share"))
      .orderBy(col("n_entities").desc, col("path"))
      .limit(20)
  }

  /** What happened while an operation's auditing was dark — the
    * compliance question behind the reference's trigger enable/disable
    * switch (`createAuditTrigger`'s enabled flag,
    * /root/reference/audit/audit.go:955-1049; `setAuditing`'s per-table
    * opt-out, audit.go:398-429): a disabled trigger leaves unaudited
    * windows, and the first forensic ask is what the REST of the system
    * did during them. Complements audit_enabled_ranges (which publishes
    * the islands): each gap between an operation's enabled islands
    * becomes a blind-spot window carrying its dark-hour count, the other
    * operation classes' change volume inside it, and how many of those
    * classes were active — a dark window with heavy concurrent DELETE
    * traffic is the one to escalate.
    *
    * Scale: the feed collapses to the (operation, hour) grid FIRST (one
    * partial-aggregating groupBy, the enabled_ranges exchange); islands,
    * gaps and the gap×hour interval join all run on bounded frames (gaps
    * ≤ |islands|, broadcast to the hour grid — the Bands range-join
    * posture, never against raw feed rows). */
  val auditBlindSpots: Q = Q.sql(
    "audit_blind_spots",
    duckHourIslands + """,
      |islands AS (
      |  SELECT operation, min(h) AS efrom, max(h) AS eto
      |  FROM isl GROUP BY operation, grp),
      |gaps AS (
      |  SELECT operation,
      |    eto + INTERVAL 1 HOUR AS gap_from,
      |    lead(efrom) OVER (PARTITION BY operation ORDER BY efrom)
      |      - INTERVAL 1 HOUR AS gap_to
      |  FROM islands
      |  QUALIFY lead(efrom) OVER (PARTITION BY operation ORDER BY efrom) IS NOT NULL),
      |dark AS (
      |  SELECT g.operation, g.gap_from, g.gap_to,
      |    (CAST(floor(epoch(g.gap_to)) AS BIGINT)
      |      - CAST(floor(epoch(g.gap_from)) AS BIGINT)) // 3600 + 1 AS n_hours_dark,
      |    CAST(coalesce(sum(x.n), 0) AS BIGINT) AS other_changes,
      |    CAST(count(DISTINCT x.operation) AS BIGINT) AS n_other_ops
      |  FROM gaps g LEFT JOIN hrs x
      |    ON x.h >= g.gap_from AND x.h <= g.gap_to AND x.operation <> g.operation
      |  GROUP BY 1, 2, 3)
      |SELECT operation, strftime(gap_from, '%Y-%m-%d %H:%M:%S') AS gap_from,
      |  strftime(gap_to, '%Y-%m-%d %H:%M:%S') AS gap_to,
      |  n_hours_dark, other_changes, n_other_ops
      |FROM dark ORDER BY operation, gap_from""".stripMargin) { (s, d) =>
    val (hrs, isl) = hourIslands(s, d)
    val islands = isl.groupBy("operation", "grp")
      .agg(min("h").as("efrom"), max("h").as("eto"))
    val w = Window.partitionBy("operation").orderBy("efrom")
    val gaps = islands
      .withColumn("next_from", lead(col("efrom"), 1).over(w))
      .filter(col("next_from").isNotNull)
      .select(col("operation"),
        (col("eto") + expr("INTERVAL 1 HOUR")).as("gap_from"),
        (col("next_from") - expr("INTERVAL 1 HOUR")).as("gap_to"))
    val dark = broadcast(gaps).as("g")
      .join(hrs.as("x"),
        col("x.h") >= col("g.gap_from") && col("x.h") <= col("g.gap_to") &&
          col("x.operation") =!= col("g.operation"),
        "left")
      .groupBy(col("g.operation").as("operation"), col("g.gap_from").as("gf"),
        col("g.gap_to").as("gt"))
      .agg(coalesce(sum("x.n"), lit(0L)).cast("long").as("other_changes"),
        countDistinct(col("x.operation")).cast("long").as("n_other_ops"))
    dark.select(col("operation"),
      date_format(col("gf"), TS).as("gap_from"),
      date_format(col("gt"), TS).as("gap_to"),
      (expr("unix_timestamp(gt) div 3600") - expr("unix_timestamp(gf) div 3600") + 1)
        .as("n_hours_dark"),
      col("other_changes"), col("n_other_ops"))
      .orderBy("operation", "gap_from")
  }

  /** Out-of-order ingestion audit. The driver feed is perfectly ordered,
    * so a deterministic lagging-shard model supplies the disorder (the
    * audit_stream_dedup trick): every 97th audit id lands 500 positions
    * late in the ingest sequence. An arrival is an inversion when its
    * event time precedes the running max event time of everything already
    * ingested FOR THAT ENTITY — the per-entity window keeps the running
    * max key-partitioned, so parallelism grows with |entities| (never a
    * global single-partition ordering). Backstep magnitudes are compared
    * in exact integer microseconds. */
  val auditOutOfOrder: Q = Q.sql(
    "audit_out_of_order",
    auditCte + """, lagged AS (
      |  SELECT entity_id, audit_id, ts,
      |    audit_id + CASE WHEN audit_id % 97 = 0 THEN 500 ELSE 0 END AS ingest_seq
      |  FROM audit),
      |w AS (SELECT entity_id, audit_id, ts,
      |        max(ts) OVER (PARTITION BY entity_id ORDER BY ingest_seq, audit_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |      FROM lagged)
      |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  CAST(count(*) AS BIGINT) AS n_changes,
      |  CAST(count(*) FILTER (WHERE ts < prev_max) AS BIGINT) AS n_inversions,
      |  CAST(count(DISTINCT CASE WHEN ts < prev_max THEN entity_id END) AS BIGINT)
      |    AS n_entities_affected,
      |  coalesce(max(CASE WHEN ts < prev_max
      |    THEN (epoch_us(prev_max) - epoch_us(ts)) // 1000000 END), 0) AS max_backstep_s
      |FROM w GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
    val lagged = log(s, d).select(col("entity_id"), col("audit_id"), col("ts"))
      .withColumn("ingest_seq",
        col("audit_id") + when(col("audit_id") % 97 === 0, 500).otherwise(0))
    val w = Window.partitionBy("entity_id").orderBy("ingest_seq", "audit_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inv = lagged.withColumn("prev_max", max(col("ts")).over(w))
      .withColumn("is_inv", col("ts") < col("prev_max"))
    inv.groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_changes"),
        count(when(col("is_inv"), 1)).as("n_inversions"),
        countDistinct(when(col("is_inv"), col("entity_id"))).as("n_entities_affected"),
        coalesce(max(when(col("is_inv"),
          expr("(unix_micros(prev_max) - unix_micros(ts)) div 1000000"))),
          lit(0L)).as("max_backstep_s"))
      .orderBy("day")
  }

  /** Capture-role handoff matrix: within each entity's change history
    * (audit-id order), count consecutive-change transitions between
    * DIFFERENT capturing db roles (audit.go:783 session_user). changed_by
    * is constant per entity by construction, so the varying db_user is the
    * actor axis. `lag` rides the standard per-entity window; the matrix is
    * bounded at |roles|² rows. */
  val auditHandoff: Q = Q.sql(
    "audit_handoff",
    auditCte + s""", t AS (
      |  SELECT entity_id, db_user, lag(db_user) OVER w AS prev_user
      |  FROM audit ${alg.duckWindow})
      |SELECT prev_user AS from_role, db_user AS to_role,
      |  CAST(count(*) AS BIGINT) AS n_handoffs,
      |  CAST(count(DISTINCT entity_id) AS BIGINT) AS n_entities
      |FROM t WHERE prev_user IS NOT NULL AND prev_user <> db_user
      |GROUP BY 1, 2 ORDER BY n_handoffs DESC, from_role, to_role""".stripMargin) { (s, d) =>
    val t = log(s, d).select(col("entity_id"), col("audit_id"), col("db_user"))
      .withColumn("prev_user", lag(col("db_user"), 1).over(alg.byEntity))
    t.filter(col("prev_user").isNotNull && col("prev_user") =!= col("db_user"))
      .groupBy(col("prev_user").as("from_role"), col("db_user").as("to_role"))
      .agg(count(lit(1)).as("n_handoffs"),
        countDistinct(col("entity_id")).as("n_entities"))
      .orderBy(col("n_handoffs").desc, col("from_role"), col("to_role"))
  }

  /** End-to-end proof of the custom `.gfc` DataSource V2 path
    * (GraftFeedSource): the feed is exported executor-side into chunked
    * binary (one file per partition, min/max-id chunk headers), read back
    * through the DSv2 reader — id-range predicate pushed down for chunk
    * skipping, projection pruned at the decoder — normalized, and rolled
    * up. The oracle recomputes from the parquet feed, so ANY fidelity
    * loss in write → chunk → skip → decode → normalize breaks the hash.
    * The `event_id > 500` filter is part of the contract: it exercises
    * the pushdown path inside the oracled query (stats can only skip
    * chunks, never change results — pushFilters keeps all residual). */
  val auditFeedV2: Q = Q.sql(
    "audit_feed_v2",
    s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       |  CAST(count(*) AS BIGINT) AS n, ${Det.dsumRoundSql("value", 2)} AS total_value
       |FROM events WHERE event_id > 500
       |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
    // export memoized per dataset path and file listing (pure function of
    // the feed) and shutdown-hook cleaned — repeated bench runs reuse one
    // export instead of leaking a fresh full feed copy per invocation
    val tmp = graft.Scratch.cachedExport(s, "gfc", d) { dir =>
      graft.sources.GraftFeedFormat.write(Tables.events(s, d), dir)
    }
    val fd = graft.sources.FeedSources.normalize(
      s.read.format("graft.sources.GraftFeedSource").load(tmp))
    fd.filter(col("event_id") > lit(500L))
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsumRound(col("value"), 2).as("total_value"))
      .orderBy("day", "event_type")
  }

  /** Right-to-be-forgotten cost manifest: entities whose FINAL operation
    * is terminal (D/T — erased in the source, audit.go:1362) still have
    * history resting in the audit log; an erasure pass must rewrite every
    * day partition that carries their rows. Per day: total rows, rows to
    * erase, erased entities, and the rewrite share — the number that
    * decides whether erasure is a surgical rewrite or a full-table pass
    * at 100 TB. One entity-partitioned window derives the final op; the
    * day rollup is a partial agg (day partitions ARE the sink layout, so
    * this table maps 1:1 onto files to rewrite). */
  val auditGdprErasure: Q = Q.sql(
    "audit_gdpr_erasure",
    auditCte + s""", lo AS (
      |  SELECT entity_id, audit_id, ts,
      |    last_value(operation) OVER (${alg.duckByEntity}
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_op
      |  FROM audit)
      |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(*) FILTER (WHERE last_op IN ('D', 'T')) AS BIGINT)
      |    AS n_rows_to_erase,
      |  CAST(count(DISTINCT CASE WHEN last_op IN ('D', 'T') THEN entity_id END)
      |    AS BIGINT) AS n_entities_erased,
      |  round(1.0 * count(*) FILTER (WHERE last_op IN ('D', 'T')) / count(*), 4)
      |    AS rewrite_share
      |FROM lo GROUP BY 1 ORDER BY day""".stripMargin) { (s, d) =>
    val w = alg.byEntity.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lo = log(s, d).select(col("entity_id"), col("audit_id"), col("ts"),
        col("operation"))
      .withColumn("last_op", last(col("operation")).over(w))
      .withColumn("erased", col("last_op").isin(AuditModel.terminalOps: _*))
    lo.groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("erased"), 1)).as("n_rows_to_erase"),
        countDistinct(when(col("erased"), col("entity_id")))
          .as("n_entities_erased"),
        round(lit(1.0) * count(when(col("erased"), 1)) / count(lit(1)), 4)
          .as("rewrite_share"))
      .orderBy("day")
  }

  /** Deploy-time grant manifest — the reference's privilege/ownership
    * plumbing (setOwnerRole audit.go:201-215; grantUsageOnSchemas
    * :720-731; grantSelectOnTable :733-747 called per raw audit table
    * :457-460; per-view GRANT SELECT inline in the view DDL :1116/:1334;
    * SECURITY DEFINER|INVOKER on the trigger function :926) re-expressed
    * as a config-derived TABLE: for every table the config admits, the
    * exact grants setup would execute — SELECT on the raw audit table and
    * the three generated views, USAGE on each distinct raw-audit schema —
    * each row carrying the grantee, the owner role (`set_role`) and the
    * trigger security mode. The candidate universe derives from the data
    * (one logical table per event_type, with 'view' homed in schema `tmp`
    * so the schema-prefix exclusion rule is exercised alongside the
    * table exclusion), and scoping runs through AuditScope.apply — the
    * same predicate the capture path uses (include-list wins, then
    * table/schema-prefix exclusions, audit.go:300-395).
    *
    * Scale: the universe is a |event_types|-row distinct over one pruned
    * column; everything after is constant fan-out (4 grants/table + 1
    * usage row/schema). The manifest is deploy metadata — bounded output
    * at any corpus size. */
  val auditGrants: Q = Q.sql(
    "audit_grants",
    """WITH u AS (SELECT DISTINCT event_type AS t FROM events),
      |n AS (SELECT CASE WHEN t = 'view' THEN 'tmp' ELSE 'app' END AS sch, t,
      |        (CASE WHEN t = 'view' THEN 'tmp' ELSE 'app' END) || '.' || t AS st
      |      FROM u),
      |adm AS (SELECT * FROM n
      |        WHERE st <> 'app.click' AND st NOT LIKE 'tmp.%'),
      |per_table AS (
      |  SELECT st AS schema_table, k.kind AS grant_kind,
      |    'SELECT' AS privilege,
      |    CASE k.kind
      |      WHEN 'select_raw' THEN sch || '_audit_raw.' || t || '_audit'
      |      WHEN 'select_delta' THEN sch || '_audit.' || t || '_audit_delta'
      |      WHEN 'select_snapshot' THEN sch || '_audit.' || t || '_audit_snapshot'
      |      ELSE sch || '_audit.' || t || '_audit_compare' END AS object_name
      |  FROM adm CROSS JOIN (SELECT unnest(['select_raw', 'select_delta',
      |    'select_snapshot', 'select_compare']) AS kind) k),
      |usage_rows AS (
      |  SELECT DISTINCT sch || '.*' AS schema_table,
      |    'usage_schema' AS grant_kind, 'USAGE' AS privilege,
      |    sch || '_audit_raw' AS object_name
      |  FROM adm)
      |SELECT schema_table, grant_kind, privilege, object_name,
      |  'analytics_ro' AS grantee, 'audit_owner' AS owner_role,
      |  'definer' AS security_mode
      |FROM (SELECT * FROM per_table UNION ALL SELECT * FROM usage_rows)
      |ORDER BY grant_kind, object_name""".stripMargin) { (s, d) =>
    val cfg = AuditConfig.parse(
      """security: definer
        |owner: audit_owner
        |set_role: audit_owner
        |grantee: analytics_ro
        |changed_by: app.changed_by
        |excluded_tables:
        |  - app.click
        |excluded_schemas:
        |  - tmp.""".stripMargin)
    val universe = graft.Tables.events(s, d)
      .select(col("event_type").as("t")).distinct()
      .select(when(col("t") === "view", lit("tmp")).otherwise(lit("app")).as("sch"),
        col("t"))
      .withColumn("schema_table", concat_ws(".", col("sch"), col("t")))
    val adm = cfg.scope(universe, "schema_table")
    def g(kind: String, obj: org.apache.spark.sql.Column) =
      struct(lit(kind).as("grant_kind"), lit("SELECT").as("privilege"),
        obj.as("object_name"))
    val perTable = adm.select(col("schema_table"),
      explode(array(
        g("select_raw", concat(col("sch"), lit("_audit_raw."), col("t"), lit("_audit"))),
        g("select_delta", concat(col("sch"), lit("_audit."), col("t"), lit("_audit_delta"))),
        g("select_snapshot", concat(col("sch"), lit("_audit."), col("t"), lit("_audit_snapshot"))),
        g("select_compare", concat(col("sch"), lit("_audit."), col("t"), lit("_audit_compare")))
      )).as("gr"))
      .select(col("schema_table"), col("gr.grant_kind"), col("gr.privilege"),
        col("gr.object_name"))
    val usage = adm.select(col("sch")).distinct()
      .select(concat(col("sch"), lit(".*")).as("schema_table"),
        lit("usage_schema").as("grant_kind"), lit("USAGE").as("privilege"),
        concat(col("sch"), lit("_audit_raw")).as("object_name"))
    perTable.unionByName(usage)
      .withColumn("grantee", lit(cfg.settings.getOrElse("grantee", "(none)")))
      .withColumn("owner_role", lit(cfg.settings.getOrElse("set_role", "(session)")))
      .withColumn("security_mode", lit(cfg.security))
      .orderBy("grant_kind", "object_name")
  }

  val all: Seq[Q] = Seq(
    auditGrants,
    auditOutOfOrder, auditHandoff, auditFeedV2, auditGdprErasure,
    auditBlindSpots,
    auditChainDigest,
    auditLog, auditDelta, auditDeltaOld, auditTypedDelta, auditViewsOnly,
    auditViewsTyped, auditSnapshot, auditCompare,
    auditCurrent, auditSparse, auditHistory, auditOpsRollup, auditFieldFreq,
    auditEntityActivity, auditGapDetect, auditHourly, auditSessionize,
    auditValueQuantiles, auditValueQuantilesApprox, auditApproxEntities,
    auditAsofState,
    auditAsofTolerance, auditWhoChanged, auditClientSessions,
    auditChangeReasons, auditPartitionHealth, auditCompactionPlan,
    auditEnabledRanges, auditPkValidity, auditTruncateReset, auditWideSnapshot,
    auditCompact, auditRetention, auditSessionWindow, auditDailyAnomaly,
    auditScd2, auditOrphans, auditFreshness, auditRollback,
    auditConcurrentWriters, auditSchemaDrift, auditValueDrift,
    auditOpTransitions, auditEntityLifetime, auditOpPivot,
    auditRollingVolume, auditSlidingRate, auditValueOutliers,
    auditDowProfile, auditPayloadBytes, auditEwmaVolume,
    auditVolumeAutocorr, auditMergeUpsert, auditLifecyclePaths,
    auditVolumeMad, auditCusum, auditActorProfile, auditSeasonalAdjust,
    auditEntityChurn, auditValueBenford, auditSessionQuantiles)
}
