package graft.audit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's views-only mode (`auditViewsOnly`, audit/audit.go:516;
  * config flag `views_only`, audit.go:34): regenerate every analytical
  * view over an audit table that ALREADY EXISTS, without touching capture.
  * The reference uses it to upgrade view definitions in place against the
  * accumulated audit history, looping every in-scope table (`RunAll`,
  * audit.go:127-199) and discovering each table's columns from the
  * catalog (`tableColumns`, audit.go:1208) — the views always cover ALL
  * payload columns, whatever the table's width.
  *
  * Spark-native form: the "existing audit table" is a bucketed,
  * sort-ordered parquet sink (AuditStorage — the btree-equivalent access
  * path), and the rebuild derives delta + snapshot + compare columns by
  * reading ONLY that sink. Column discovery is the sink's own schema:
  * every column that is not the pk / seq / operation key is payload, the
  * direct analog of the reference's catalog lookup. Because the scan's
  * bucketing already satisfies the windows' required distribution, the
  * whole rebuild plans with zero data shuffles — the only exchange in the
  * oracled ops is the contractual output ORDER BY. At 100 TB that means
  * re-deriving every view over the full history costs one pass over the
  * sink, no redistribution.
  */
object AuditViews {

  /** Payload discovery (reference `tableColumns`, audit.go:1208): every
    * sink column that is not part of the audit key is a reconstructed
    * payload column. */
  def payloadColumns(sink: DataFrame, pkCol: String, seqCol: String): Seq[String] =
    sink.columns.filterNot(Set(pkCol, seqCol, "operation")).toSeq

  private def checked(cfg: AuditConfig, table: String): Unit = {
    require(cfg.viewsOnly,
      "AuditViews.rebuild requires views_only: true (audit.go:516 contract)")
    AuditConfig.validateCapture(cfg)
    // per-table scoping: the reference only (re)generates views for tables
    // its include/exclude rules admit (isIncludedTable, audit.go:300-395)
    require(cfg.admits(table),
      s"table '$table' is outside the configured audit scope")
    ()
  }

  /** The checked sink's payload columns and every reconstruction column
    * over them: compare() derives state_* (snapshot) and old_/new_state_*
    * (compare) in one stacked window pass; delta old/new of the raw
    * payload rides the same partitioning. */
  private def reconstruct(spark: SparkSession, cfg: AuditConfig, table: String,
      pkCol: String, seqCol: String): (Seq[String], DataFrame) = {
    checked(cfg, table)
    val alg = AuditLog(pkCol, seqCol)
    val sink = AuditStorage.read(spark, table)
    val payload = payloadColumns(sink, pkCol, seqCol)
    (payload, alg.delta(alg.compare(sink, payload), payload))
  }

  /** Rebuilds the reconstruction views over the written sink `table`.
    * Reads nothing but the sink; capture is untouched (the views_only
    * contract). The config must opt in via `views_only: true`, pass
    * required-capture-settings validation (audit.go:559-581), and admit
    * the table under its scope rules. Payload columns are discovered from
    * the sink schema — a 2-column and a 60-column sink both rebuild in
    * full, like the reference's all-columns views. */
  def rebuild(spark: SparkSession, cfg: AuditConfig, table: String,
      pkCol: String = "entity_id", seqCol: String = "audit_id"): DataFrame =
    reconstruct(spark, cfg, table, pkCol, seqCol)._2

  /** Typed rebuild: the sink stores payloads type-erased (the reference's
    * JSON audit table — strings), reconstruction runs on the strings, and
    * every derived column is cast back to the declared source type at the
    * OUTPUT edge — the reference's `(… ->> '{col}')::{dataType}` view
    * expressions (audit.go:1074, :1262, :1362) over however many columns
    * the table has. */
  def rebuildTyped(spark: SparkSession, cfg: AuditConfig, table: String,
      payload: Seq[TypedField],
      pkCol: String = "entity_id", seqCol: String = "audit_id"): DataFrame = {
    // discovered = sink column order, like the reference's views
    val (discovered, rebuilt) = reconstruct(spark, cfg, table, pkCol, seqCol)
    val declared = payload.map(_.name).toSet
    require(declared == discovered.toSet,
      s"typed payload $declared does not match sink columns $discovered")
    val types = payload.map(f => f.name -> f.sqlType).toMap
    discovered.foldLeft(rebuilt) { (df, c) =>
      Seq(c, s"state_$c", s"old_state_$c", s"new_state_$c", s"old_$c", s"new_$c")
        .foldLeft(df)((d, n) => d.withColumn(n, col(n).cast(types(c))))
    }
  }

  /** The RunAll loop (audit.go:127-199): rebuild every sink the config's
    * scope admits, skipping the rest — one pass per admitted table. */
  def rebuildAll(spark: SparkSession, cfg: AuditConfig, tables: Seq[String],
      pkCol: String = "entity_id", seqCol: String = "audit_id")
      : Map[String, DataFrame] =
    tables.filter(cfg.admits)
      .map(t => t -> rebuild(spark, cfg, t, pkCol, seqCol)).toMap
}
