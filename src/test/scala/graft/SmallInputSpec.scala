package graft

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** The small-input path ([[graft.plans.SmallInputSinglePartition]]): a
  * query over less than AQE's partition floor runs as one stage, and gives
  * the rows the exchange-planned query (the scale path, the same query
  * with the floor at 1 byte) gives. */
class SmallInputSpec extends AnyFunSuite {
  import TestSession._

  private def op(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Rows of `name`, with nothing persisted by an earlier run: an op that
    * persists a frame builds it under the current settings, so each path
    * reads its own frames. */
  private def freshRows(name: String): Seq[String] = {
    spark.catalog.clearCache()
    rows(op(name))
  }

  /** Rows of `name` built and run with the floor at 1 byte. */
  private def scaleRows(name: String): Seq[String] =
    withConf(MinPartitionSize, "1b")(freshRows(name))

  private def executed(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The benchmark's audit view family. */
  private val views = Seq("audit_log", "audit_delta", "audit_snapshot", "audit_compare",
    "audit_current", "audit_truncate_reset", "audit_delta_old", "audit_asof_state")

  Seq("audit_compare", "audit_current").foreach { name =>
    test(s"$name runs as one job with no exchange at sf0.001") {
      val df = op(name)
      val (_, jobs) = Jobs.during(spark.sparkContext)(df.collect())
      assert(shuffleCount(executed(df)) === 0, executed(df).toString)
      assert(jobs === 1)
    }
  }

  test("the 8 audit views give the scale path's rows") {
    views.foreach(n => assert(freshRows(n) === scaleRows(n), n))
  }

  /** The benchmark's three corpus ops, then the ops whose plan before
    * execution at sf0.01 changes with the join-size guard
    * (`spark.sql.maxSinglePartitionBytes`, see
    * [[GraftSession.maxSinglePartitionBytes]]) lifted; the last four only in
    * the order of their `Expand` projections, which follows expression ids. */
  private val guarded = Seq("dedup_minhash", "ann_ivf_kmeans", "ann_topk",
    "ann_ndcg", "ann_recall", "contamination_sources", "dedup_incremental", "sample_stratified",
    "ann_query_skew", "heaps_fit", "quality_source_matrix", "zipf_fit",
    "audit_client_sessions", "dq_profile", "pii_pseudonymize", "q_supplier_wait")

  test("the ops the join-size guard re-planned give the scale path's rows") {
    guarded.foreach(n => assert(freshRows(n) === scaleRows(n), n))
  }

  /** Hash exchanges in the plan `df` ran. */
  private def hashShuffles(df: DataFrame): Int =
    shuffles(executed(df)).count(_.outputPartitioning.isInstanceOf[HashPartitioning])

  /** The second `dedup_minhash` call, served from the frames the first one
    * persisted (under the caller's settings, see [[freshRows]]): collected,
    * with the jobs it ran. */
  private def warmDedup(): (DataFrame, Int) = {
    freshRows("dedup_minhash")
    val df = op("dedup_minhash")
    (df, Jobs.during(spark.sparkContext)(df.collect())._2)
  }

  test("a warm dedup_minhash joins in one stage at sf0.001") {
    val (df, jobs) = warmDedup()
    assert(hashShuffles(df) === 0, executed(df).toString)
    assert(jobs <= 4)
  }

  test("under Spark's 128 MB single-partition guard the warm dedup_minhash re-shuffles") {
    withConf("spark.sql.maxSinglePartitionBytes", "128m") {
      val (df, _) = warmDedup()
      assert(hashShuffles(df) > 0, executed(df).toString)
    }
  }

  test("with the floor at 1 byte a window query keeps its exchange") {
    withConf(MinPartitionSize, "1b") {
      val df = op("audit_current")
      df.collect()
      assert(shuffleCount(executed(df)) >= 1)
    }
  }

  test("each scan is coalesced once, above its pruned columns and pushed filters") {
    val df = op("audit_current")
    val scans = df.queryExecution.optimizedPlan.collectLeaves().size
    assert(df.queryExecution.optimizedPlan.collect { case r: Repartition => r }.size === scans)
    def scanShape(d: DataFrame) = {
      d.collect()
      executed(d).collect { case s: FileSourceScanExec =>
        (s.requiredSchema, s.dataFilters.map(_.sql))
      }
    }
    assert(scanShape(df) === withConf(MinPartitionSize, "1b")(scanShape(op("audit_current"))))
  }

  test("audit_stream gives the same rows on both paths") {
    assert(freshRows("audit_stream") === scaleRows("audit_stream"))
  }
}
