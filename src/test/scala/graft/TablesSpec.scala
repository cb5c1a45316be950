package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graft.Jobs
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextOps

/** Table reads through [[Tables.apply]]. */
class TablesSpec extends AnyFunSuite {
  import TestSession._

  test("a table rewritten outside Spark is not served from a stale cached plan") {
    val root = Files.createTempDirectory("graft-tables")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.parquet(s"$root/documents.parquet")
    docs.filter(col("doc_id") < 250).write.parquet(s"$root/half.parquet")
    // dedup_minhash persists its signature frame: the second call finds
    // the cached plan over documents.parquet by path
    assert(TextOps.dedupMinhash.fn(spark, root.toString).count() === 500)
    // an outside writer swaps the directory (no Spark write, so no
    // invalidation by path)
    val target = root.resolve("documents.parquet")
    Files.walk(target).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    Files.move(root.resolve("half.parquet"), target)
    assert(spark.read.parquet(target.toString).count() === 250)
    assert(TextOps.dedupMinhash.fn(spark, root.toString).count() === 250)
    spark.catalog.clearCache()
  }

  /** Replaces directory `target` by `from` without going through Spark. */
  private def swap(from: Path, target: Path): Unit = {
    Files.walk(target).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    Files.move(from, target)
  }

  test("a second read of an unchanged table runs no job and plans the same result") {
    val root = Files.createTempDirectory("graft-tables").toString
    spark.read.parquet(s"$sfDir/orders.parquet").write.parquet(s"$root/orders.parquet")
    val (first, inferJobs) = Jobs.during(spark.sparkContext)(Tables(spark, root, "orders"))
    val (second, jobs) = Jobs.during(spark.sparkContext)(Tables(spark, root, "orders"))
    assert(inferJobs > 0)
    assert(jobs === 0)
    assert(second.schema === first.schema)
    assert(second.queryExecution.analyzed.sameResult(first.queryExecution.analyzed))
    assert(second.count() === first.count())
  }

  test("a table rewritten outside Spark with an extra column is re-inferred") {
    val root = Files.createTempDirectory("graft-tables")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.write.parquet(s"$root/orders.parquet")
    orders.withColumn("extra", lit(7L)).write.parquet(s"$root/wide.parquet")
    assert(!Tables(spark, root.toString, "orders").columns.contains("extra"))
    swap(root.resolve("wide.parquet"), root.resolve("orders.parquet"))
    val wide = Tables(spark, root.toString, "orders")
    assert(wide.columns.last === "extra")
    assert(wide.filter(col("extra") === 7L).count() === orders.count())
  }

  test("reading events after changing an inference setting re-infers the ts type") {
    val root = Files.createTempDirectory("graft-tables").toString
    // ts as a TIMESTAMP(NANOS) feed export stores it, plus a local (not
    // UTC-adjusted) micros timestamp whose type another setting picks
    val schema = MessageTypeParser.parseMessageType(
      """message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 local_ts (TIMESTAMP(MICROS,false)); }""".stripMargin)
    val w = ExampleParquetWriter.builder(new HPath(s"$root/events.parquet/part-0.parquet"))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L)
      .append("ts", 1704067200123456789L).append("local_ts", 1704067200123456L))
    w.close()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = Seq(nanos, ntz).map(k => k -> spark.conf.getOption(k))
    def typeOf(c: String) = Tables(spark, root, "events").schema(c).dataType
    try {
      assert(Tables.events(spark, root).schema("ts").dataType === TimestampType)
      assert(typeOf("ts") === LongType)
      assert(typeOf("local_ts") === TimestampNTZType)
      spark.conf.set(ntz, "false")
      assert(typeOf("local_ts") === TimestampType)
      // the stored LongType ts is not served once nanosAsLong is off: the
      // schema is inferred again, and Spark rejects TIMESTAMP(NANOS)
      spark.conf.set(nanos, "false")
      intercept[AnalysisException](Tables(spark, root, "events"))
      spark.conf.set(nanos, "true")
      assert(typeOf("ts") === LongType)
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
