package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM:
  *
  *  1. set-up, done [[Setups]] times: build the session, run the
  *     workload's own set-up, run one untimed warm-up pass. The first
  *     repetition is timed from JVM start; later ones rebuild the session
  *     in the warm JVM.
  *  2. measurement: one closed-loop client runs `--iterations` whole
  *     iterations, timing every op. With `--trace 1`, odd
  *     iterations are traced (spans + Spark listener counters) and even
  *     ones are not, so the same run also measures the tracing overhead.
  *  3. checks, untimed: the manifest of every op's output for the
  *     checker (perfbench/checks.py).
  *
  * Everything measured goes to `--out` as JSON; perfbench/run.py turns it
  * into metrics.
  *
  * usage: graftbench.Main --workload W --data DIR --work DIR --iterations N
  *          --trace 0|1 --out FILE --props k=v,k=v
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 2

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val data = args("data")
    val work = args("work")
    val iterations = args("iterations").toInt
    val traced = args("trace") == "1"
    val props = args.getOrElse("props", "").split(",").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

    // every file the engine writes stays inside the run's work directory
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    System.setProperty("spark.local.dir", s"$work/spark-local")

    val wl = Workload(workload, data, work, props)
    val tracer = if (traced) Some(new Tracer) else None
    def ctxOf(s: SparkSession, on: Boolean) = new Ctx(s, if (on) tracer else None)
    def spanned[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))

    // ---- set-up -------------------------------------------------------
    var spark: SparkSession = null
    val setups = (1 to Setups).map { rep =>
      val t0 = if (rep == 1) jvmStartMs * 1000000L - System.currentTimeMillis() * 1000000L + System.nanoTime()
               else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val tb = System.nanoTime()
      spark = spanned("session.build")(GraftSession.build("graft-perfbench", cpus))
      val tp = System.nanoTime()
      val ctx = ctxOf(spark, on = true)
      wl.prepare(ctx)
      val tw = System.nanoTime()
      spanned("session.warmup")(wl.warmup.foreach(_.run(ctx)))
      val te = System.nanoTime()
      Map("setup_s" -> (te - t0) / 1e9, "build_s" -> (tp - tb) / 1e9,
        "prepare_s" -> (tw - tp) / 1e9, "warmup_s" -> (te - tw) / 1e9)
    }
    tracer.foreach(_.attach(spark))

    // ---- measurement --------------------------------------------------
    val ops = ArrayBuffer[Map[String, Any]]()
    val failures = ArrayBuffer[String]()
    val start = System.nanoTime()
    var opId = 0
    for (it <- 0 until iterations) {
      val tracedIt = traced && it % 2 == 1
      val ctx = ctxOf(spark, tracedIt)
      def body(): Unit = wl.iteration(it).foreach { op =>
        opId += 1
        val c = new OpCounters
        val gc0 = gcMs
        val t0 = System.nanoTime()
        var rowsOut = 0L
        val err = try {
          rowsOut = tracer.filter(_ => tracedIt) match {
            case Some(t) => t.span(s"op.${op.name}", newTrace = true) {
              t.counting(spark, s"op-$opId", c)(op.run(ctx))
            }
            case None => op.run(ctx)
          }
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] op ${op.name} failed: $e")
            Some(e.toString)
        }
        val t1 = System.nanoTime()
        val gc = gcMs - gc0
        if (tracedIt) tracer.get.settle(spark)
        err.foreach(e => failures += s"${op.name}: $e")
        ops += Map("id" -> opId, "iteration" -> it, "name" -> op.name, "layer" -> op.layer,
          "traced" -> tracedIt, "ok" -> err.isEmpty, "error" -> err,
          "start_s" -> (t0 - start) / 1e9, "seconds" -> (t1 - t0) / 1e9,
          "rows_in" -> op.rowsIn, "rows_out" -> rowsOut, "gc_ms" -> gc) ++
          (if (tracedIt) c.toMap else Map.empty)
      }
      if (tracedIt) tracer.get.span("iteration")(body()) else body()
    }
    val measureS = (System.nanoTime() - start) / 1e9
    val rss = peakRssMb

    // ---- checks (untimed) --------------------------------------------
    val checks = try wl.check(ctxOf(spark, on = false))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check failed: $e")
          Seq(Map("kind" -> "error", "error" -> e.toString))
      }

    Json.writeFile(args("out"), Map(
      "workload" -> workload, "cpus" -> cpus.toInt,
      "traced" -> traced, "setups" -> setups, "ops" -> ops.toSeq,
      "iterations" -> iterations, "measure_wall_s" -> measureS, "peak_rss_mb" -> rss,
      "failures" -> failures.toSeq, "checks" -> checks,
      "spans" -> tracer.map(_.spansJson).getOrElse(Seq.empty)))
    spark.stop()
  }
}
