package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the operator inventory; each
  * inventory row is one `queries` key.
  *
  * Every op expects a session built by [[GraftSession.build]], or any
  * session created with `spark.sql.extensions=graft.GraftExtensions`: the
  * ops call the `graft_*` functions and plan AS-OF joins through
  * [[GraftExtensions]], and none of them changes the session to add it. */
object SparkEntry {

  private def registry: Seq[Q] =
    graft.analytics.Relational.all ++
      graft.analytics.EventAnalytics.all ++
      graft.analytics.Layout.all ++
      graft.analytics.DataQuality.all ++
      graft.audit.AuditQueries.all ++
      graft.streaming.EventStream.all ++
      graft.text.TextOps.all ++
      graft.text.TokenizerOps.all ++
      graft.text.SpanDedup.all ++
      graft.text.CorpusOps.all ++
      graft.text.Retrieval.all ++
      graft.text.Privacy.all ++
      graft.vector.Similarity.all ++
      graft.vector.Pca.all ++
      graft.multimodal.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    analytics.Relational.q1Pricing.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** For each rows-only (no-oracle) key in queries, the ScalaTest suite
    * that verifies its semantics — dumped by Verify as spec_refs.json so
    * correctness artifacts carry the verification pointer. */
  def specRefs: Map[String, String] =
    registry.flatMap(q => q.spec.map(sp => q.name -> sp)).toMap

  /** Collapsed-formulation oracle twins for the replicated scale gates
    * (see [[Q.scaleOracle]]) — dumped by Verify as oracle_sql_scale.json
    * and overlaid by tools/check.py --scale-oracles. */
  def scaleOracleSql: Map[String, String] =
    registry.flatMap(q => q.scaleOracle.map(o => q.name -> o)).toMap
}
