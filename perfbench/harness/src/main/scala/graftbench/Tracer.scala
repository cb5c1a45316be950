package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the engine. `trace` is the id of
  * the op the span belongs to (0 outside ops); `parent` is 0 at the root. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    startNs: Long, endNs: Long)

/** Spark's own counters for one op, summed over every job the op ran. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var runMs, bytesRead, shuffleRead, shuffleWrite, spill = 0L
  var planMs = 0.0
  var queries, files, scanRows = 0L
  var batches, triggerMs, addBatchMs, walCommitMs = 0L
  val taskMs = mutable.Map[Int, ArrayBuffer[Long]]()

  /** Largest max/median task-duration ratio over the op's multi-task
    * stages (1.0 when no stage ran more than one task). */
  def skew: Double = {
    val r = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (r.isEmpty) 1.0 else r.max
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_ms" -> runMs, "bytes_read" -> bytesRead,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "plan_ms" -> planMs, "queries" -> queries,
    "files_read" -> files, "scan_rows" -> scanRows, "skew" -> skew,
    "stream_batches" -> batches, "trigger_ms" -> triggerMs,
    "add_batch_ms" -> addBatchMs, "wal_commit_ms" -> walCommitMs)
}

/** Benchmark-side tracing: spans recorded around the harness's calls into
  * the engine, plus Spark listener counters attributed to the op that is
  * running. The client is a single closed loop, so exactly one op runs at
  * a time; after each op the listener bus is drained, so every event of
  * the op has been counted before the next op starts. Spans and counters
  * stay in memory until the run ends. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var nextId = 1
  private var stack: List[(Int, Int)] = Nil // (span id, trace id)
  @volatile private var current: OpCounters = null

  def span[T](name: String, newTrace: Boolean = false)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val trace = if (newTrace) id else stack.headOption.map(_._2).getOrElse(0)
    stack = (id, trace) :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, trace, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Counts every Spark event raised while `body` runs into `c`, until
    * [[settle]] is called. Jobs run under the op's job group. */
  def counting[T](spark: SparkSession, group: String, c: OpCounters)(body: => T): T = {
    val sc = spark.sparkContext
    current = c
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Waits until the listeners have seen every event of the op that just
    * ran (outside the op's timing), then stops attributing to it. */
  def settle(spark: SparkSession): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    current = null
  }

  private object Plans extends AdaptiveSparkPlanHelper

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val c = current
        if (c != null) c.synchronized { c.jobs += 1 }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val c = current
        if (c != null) c.synchronized { c.stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val c = current
        val m = e.taskMetrics
        if (c != null && m != null) c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.bytesRead += m.inputMetrics.bytesRead
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += e.taskInfo.duration
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val c = current
        if (c == null) return
        val phases = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum.toDouble
        val scans = Plans.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s
        }
        def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        c.synchronized {
          c.queries += 1
          c.planMs += planMs
          scans.foreach { s =>
            c.files += metric(s, "numFiles")
            c.scanRows += metric(s, "numOutputRows")
          }
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val c = current
        if (c == null) return
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        c.synchronized {
          c.batches += 1
          c.triggerMs += ms("triggerExecution")
          c.addBatchMs += ms("addBatch")
          c.walCommitMs += ms("walCommit")
        }
      }
    })
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.sortBy(_.startNs).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
