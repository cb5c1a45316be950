package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the package-private Dataset factory so graft's custom
  * logical operators can be wrapped as public DataFrames. Standard pattern
  * for Spark extension libraries (cf. the DatasetFactory shims used by
  * open-source Spark storage/index layers). */
object GraftPlanFactory {
  def ofRows(spark: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed
}
