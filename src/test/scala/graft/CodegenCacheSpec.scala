package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The generated-class cache holds the audit view family's working set
  * ([[GraftSession.codegenCacheEntries]]), so a second pass compiles
  * nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSession._

  private val views = Seq("audit_log", "audit_delta", "audit_snapshot", "audit_compare",
    "audit_current", "audit_truncate_reset", "audit_delta_old", "audit_asof_state")

  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    views.foreach(v => SparkEntry.queries(v)(spark, sfDir)
      .write.mode("overwrite").format("noop").save())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("the audit view family compiles no class on its second pass") {
    pass()
    assert(pass() === 0)
  }
}
