package graft

import org.apache.spark.graft.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
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

  /** Rows of `name` built and run with the floor at 1 byte. */
  private def scaleRows(name: String): Seq[String] =
    withConf(MinPartitionSize, "1b")(rows(op(name)))

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
    views.foreach(n => assert(rows(op(n)) === scaleRows(n), n))
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
    assert(rows(op("audit_stream")) === scaleRows("audit_stream"))
  }
}
