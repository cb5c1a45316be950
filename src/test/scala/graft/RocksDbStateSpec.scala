package graft

import org.scalatest.funsuite.AnyFunSuite

/** Provider-parity pin for the streaming state store.
  *
  * `spark.sql.streaming.stateStore.providerClass` is a deploy-time key
  * (a `-Dspark.…` property overrides GraftSession's default) because the
  * 100 TB posture for stateful streaming is the RocksDB provider (per-executor
  * off-heap/on-disk state, heap bounded regardless of watermark horizon ×
  * key cardinality), while the sandbox default stays the in-memory
  * HDFS-backed provider. A provider swap must be a pure KV-layout change:
  * this spec runs the two state-heaviest shapes — the
  * flatMapGroupsWithState sessionizer and dropDuplicatesWithinWatermark —
  * under BOTH providers and requires byte-identical output (schema +
  * every row), so the knob can be flipped at deploy time without a
  * re-validation cycle.
  */
class RocksDbStateSpec extends AnyFunSuite {
  import TestSession._

  private val Key = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `q` under the session-default provider and under RocksDB (each
    * start uses fresh sinks/checkpoints via Scratch, so the runs are
    * independent streams) and asserts identical schema and rows. */
  private def parity(q: Q): Unit = {
    val prev = spark.conf.getOption(Key)
    val base =
      try { q.fn(spark, sfDir).collect() }
      finally {}
    spark.conf.set(Key, RocksDb)
    try {
      val viaRocks = q.fn(spark, sfDir)
      val rows = viaRocks.collect()
      assert(rows.length === base.length, s"${q.name}: row count differs")
      base.zip(rows).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a === b, s"${q.name}: row $i differs under RocksDB")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(Key, v)
        case None => spark.conf.unset(Key)
      }
    }
  }

  test("flatMapGroupsWithState sessionizer is byte-identical under RocksDB") {
    parity(graft.streaming.EventStream.auditSessionizeStream)
  }

  test("dropDuplicatesWithinWatermark dedup is byte-identical under RocksDB") {
    parity(graft.streaming.EventStream.auditStreamDedup)
  }

  test("the RocksDB provider actually engaged (not a silently ignored conf)") {
    // guard against the parity tests passing vacuously because the conf
    // key stopped being read: a query started with the RocksDB provider
    // must surface RocksDB state-store metrics in its progress.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption(Key)
    spark.conf.set(Key, RocksDb)
    try {
      val tmp = graft.Scratch.dir("graft-rocksdb-probe-")
      val feed = graft.Tables.events(spark, sfDir)
      feed.write.parquet(s"$tmp/feed")
      val query = spark.readStream.schema(feed.schema).parquet(s"$tmp/feed")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      val progress = query.lastProgress
      assert(progress != null && progress.stateOperators.nonEmpty)
      val mem = progress.stateOperators(0).customMetrics
      // RocksDB publishes provider-specific metrics (rocksdbGet* family);
      // the HDFS-backed provider publishes loadedMapCache* instead
      assert(mem.keySet.toArray.exists(_.toString.startsWith("rocksdb")),
        s"no rocksdb metrics in ${mem.keySet}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(Key, v)
        case None => spark.conf.unset(Key)
      }
    }
  }
}
