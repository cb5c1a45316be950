package graft

import org.apache.spark.sql.SparkSession

/** Central session construction: one place for the engine's scale tunables.
  *
  * local[N] here; on a cluster the same settings apply per-executor. AQE
  * handles runtime re-planning (partition coalescing, skew-join splitting),
  * which is the scale path for the audit feed's hot entities and for
  * dedup blocks of uneven size.
  *
  * Below AQE's partition floor (`coalescePartitions.minPartitionSize`,
  * Spark's default 1 MB, left unset here) a query's input takes the other
  * path: [[graft.plans.SmallInputSinglePartition]] coalesces each scan to
  * one partition, so the query plans no exchange (on the benchmark's audit
  * ops, 5 jobs per op before and 1.67 after; six of its eight views now
  * run as 1 job). The floor is compared with file bytes, while AQE sizes
  * post-shuffle partitions on the larger shuffle bytes, so such a query
  * gives up the few post-shuffle tasks it could have had: a net gain at
  * sf0.01 (summed op time -6%), but 37 of the 255 ops it changes run more
  * than 10% slower (measurements in the rule's Scaladoc).
  */
object GraftSession {
  /** Size of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100). Sized from measured working sets, counted as compiles
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`) under a cache too large to
    * evict anything, so each compile is a distinct class:
    *  - one iteration of the benchmark's `audit_rebuild_capture` (8 audit
    *    views + capture) generates 163 classes, 7 of them new on every
    *    capture call; with 100 entries a second pass of the 8 views
    *    recompiled 101 classes (sf0.001 test data);
    *  - one iteration of `corpus_dedup` generates 119, and 12 more once its
    *    persisted frames serve from the cache;
    *  - one `graft.Verify` pass over all 308 ops at sf0.01 generates 5508.
    * 1000 holds the largest repeated working set six times over, so a
    * repeated op family compiles nothing after its first pass. It does not
    * hold the whole op surface, which Verify runs once per op.
    *
    * The cache is one per JVM and takes its size from the session that
    * first generates code, so this setting holds only when that session is
    * built here; a later session in the same JVM shares the cache as it is. */
  val codegenCacheEntries = 1000

  def build(appName: String, cpus: String): SparkSession = {
    // shuffle partitions default to the core count (local mode: one
    // healthy partition per core; AQE coalesces below that). The env
    // override exists for scale-leg experiments — e.g. probing whether a
    // 10x-data one-box run is partition-count-bound — without forking
    // the session recipe.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // Streaming state store provider. The deployment posture for a
    // 100 TB horizon is RocksDB (state lives off-heap/on-disk per
    // executor, bounded heap regardless of watermark horizon × key
    // cardinality); the local default stays Spark's in-memory
    // HDFS-backed provider so sandbox runs don't pay RocksDB's
    // per-micro-batch checkpoint overhead on tiny state. Output is
    // byte-identical either way (RocksDbStateSpec pins it for the
    // flatMapGroupsWithState sessionizer and
    // dropDuplicatesWithinWatermark — a provider is a KV layout, never
    // semantics).
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    // Input-split size — the second determinism axis (shuffle width is
    // the first): how many partitions a parquet SCAN fans out to, which
    // moves partial-agg grouping and scan-side merge order. The
    // determinism sweep runs Verify under 16m vs the 128m default and
    // diffs every op's result multiset (tools/determinism.py). A scan
    // under the small-input floor is coalesced to one partition whatever
    // its split size, so below it that sweep also needs
    // -Dspark.sql.adaptive.coalescePartitions.minPartitionSize=1b.
    val maxSplit = sys.env.getOrElse("SPARK_GRAFT_MAX_SPLIT", "128m")
    // Managed tables (`saveAsTable`) go to a scratch dir deleted at JVM
    // exit, not to a `spark-warehouse/` under the launch directory; a JVM
    // that sets the property keeps its own.
    val warehouse = sys.props.getOrElse("spark.sql.warehouse.dir",
      Scratch.dir("graft-warehouse-"))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.files.maxPartitionBytes", maxSplit)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.streaming.stateStore.providerClass", stateStore)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
