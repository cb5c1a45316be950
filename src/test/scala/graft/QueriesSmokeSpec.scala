package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-${sys.props("user.name")}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.codegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Counts data shuffles in a (possibly adaptively executed) plan. Under
    * AQE, exchanges hide inside ShuffleQueryStageExec LEAF nodes, so a
    * plain `collect { case e: ShuffleExchangeExec => }` sees nothing and
    * every `=== 0` assertion passes vacuously — this walker descends into
    * query stages. ReusedExchange is deliberately not counted (a reused
    * exchange is the sharing we want to reward). */
  def shuffleCount(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    var n = 0
    def walk(x: SparkPlan): Unit = x match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeLike => n += 1; e.children.foreach(walk)
      case o => o.children.foreach(walk)
    }
    walk(p); n
  }
}

/** Every registered operator must build a plan and execute at sf0.001.
  * (Value-level correctness is gated by the DuckDB oracle compare —
  * tools/check.py — which hash-matches each query at sf0.01.) */
class QueriesSmokeSpec extends AnyFunSuite {
  import TestSession._

  test("registry is consistent: every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Built ONCE per suite and shared by every generated test below: some
  // operator fns are side-effecting at construction (the streaming ops run
  // their full capture pipeline, dedup_components its propagation rounds),
  // so building per-test would re-run those pipelines per assertion family.
  private lazy val dfs: Map[String, org.apache.spark.sql.DataFrame] =
    SparkEntry.queries.map { case (n, fn) => n -> fn(spark, sfDir) }

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name executes at sf0.001 and returns rows") {
      val df = dfs(name)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  // Two contracts per oracled query, checked on the shared plan:
  // 1. No complex-typed output columns — the downstream pandas-based hash
  //    compare cannot hash ndarray cells (the r02 emb_quantize crash).
  // 2. No CartesianProduct node — the shape that turns a 100 TB input
  //    into an unbounded pair space. The deliberate small-side products
  //    (1-row midpoint/T-set, codebook/query-set broadcasts) plan as
  //    BroadcastNestedLoopJoin over a bounded build side.
  SparkEntry.oracleSql.keySet.toSeq.sorted.foreach { name =>
    test(s"$name emits scalar columns and plans without CartesianProduct") {
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
      val df = dfs(name)
      val complex = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType]
          || f.dataType.isInstanceOf[StructType] => f.name
      }
      assert(complex.isEmpty, s"$name emits complex columns: ${complex.mkString(",")}")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plan:\n$plan")
    }
  }
}
