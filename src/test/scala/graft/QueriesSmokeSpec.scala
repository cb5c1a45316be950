package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status, Suite}
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  /** The engine's own session recipe at 4 cores. */
  lazy val spark: SparkSession = GraftSession.build("graft-test", "4")
  val sfDir = "/root/testdata/sf0.001"

  /** Counts data shuffles in a (possibly adaptively executed) plan. Under
    * AQE, exchanges hide inside ShuffleQueryStageExec LEAF nodes, so a
    * plain `collect { case e: ShuffleExchangeExec => }` sees nothing and
    * every `=== 0` assertion passes vacuously — this walker descends into
    * query stages. ReusedExchange is deliberately not counted (a reused
    * exchange is the sharing we want to reward). */
  def shuffleCount(p: org.apache.spark.sql.execution.SparkPlan): Int = shuffles(p).size

  /** The shuffles [[shuffleCount]] counts. */
  def shuffles(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(x: SparkPlan): Seq[ShuffleExchangeLike] = x match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeLike => e +: e.children.flatMap(walk)
      case o => o.children.flatMap(walk)
    }
    walk(p)
  }

  /** AQE's partition floor, which is also the small-input threshold of
    * [[graft.plans.SmallInputSinglePartition]]. */
  val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** `body` with the session's `key` set to `value`, restored after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

/** Runs a suite on the plans a large input gets: with
  * [[TestSession.MinPartitionSize]] at 1 byte the sf0.001 test data is over
  * the small-input threshold, so its queries keep their exchanges. Set
  * for the whole suite and restored after it. */
trait ScalePath extends Suite {
  override def run(testName: Option[String], args: Args): Status =
    TestSession.withConf(TestSession.MinPartitionSize, "1b")(super.run(testName, args))
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

  /** `body`'s result and the messages `logger` logged while it ran. */
  private def logged[T](logger: String)(body: => T): (T, List[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("log-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = log.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val l = LogManager.getLogger(logger).asInstanceOf[Logger]
    l.addAppender(probe)
    val r = try body finally { l.removeAppender(probe); probe.stop() }
    (r, log.asScala.toList)
  }

  // Built ONCE per suite and shared by every generated test below: some
  // operator fns are side-effecting at construction (the streaming ops run
  // their full capture pipeline, dedup_components its propagation rounds),
  // so building per-test would re-run those pipelines per assertion family.
  // The build also records what it did to the session's function registry:
  // the names it added, and the registry's log lines (one "replaced a
  // previously registered function" warning per re-registered name).
  private lazy val (dfs, registryLog, functionsAdded) = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val (built, log) = logged(
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry") {
      SparkEntry.queries.map { case (n, fn) => n -> fn(spark, sfDir) }
    }
    (built, log, registry.listFunction().toSet -- before)
  }

  test("building every op leaves the session's function registry unchanged") {
    assert(registryLog.isEmpty,
      s"${registryLog.size} registry log lines, first: ${registryLog.headOption}")
    assert(functionsAdded.isEmpty, functionsAdded.mkString(", "))
  }

  // A broadcast hint on the preserved side of an outer join cannot be
  // honoured: Spark plans the join as if unhinted and logs why.
  test("the spine-first left-join ops run without an unsupported-hint warning") {
    val ops = Seq("corpus_novelty_curve", "ann_query_skew", "dedup_threshold_curve")
    val (_, log) = logged("org.apache.spark.sql.catalyst.analysis.HintErrorLogger") {
      ops.foreach(n => SparkEntry.queries(n)(spark, sfDir).collect())
    }
    val unsupported = log.filter(_.contains("is not supported in the query"))
    assert(unsupported.size === 0, unsupported.headOption.getOrElse(""))
  }

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
