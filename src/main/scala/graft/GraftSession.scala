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

  /** Spark's `spark.sql.maxSinglePartitionBytes` (default 128 MB), set to
    * its maximum. `EnsureRequirements` leaves a join's inputs unshuffled
    * only when every input is `SinglePartition` and the estimated logical
    * size of each is at most this; otherwise it hash-shuffles each input
    * into `spark.sql.shuffle.partitions` partitions. Without CBO Spark
    * estimates a join's size as the product of its inputs' sizes, and a
    * product of sizes is not a size: `dedup_minhash`'s band self-join over
    * its two cached one-partition frames (16,368 B each) is estimated at
    * about 268 MB, so at the default its small-input plan re-shuffled
    * (sf0.01, cold: 3 hash exchanges planned, 2 still run after AQE's
    * re-plans). A join input is `SinglePartition` where
    * [[graft.plans.SmallInputSinglePartition]] made it so, that is when the
    * query's files fit under the 1 MB floor, or above a global aggregate;
    * above the floor the joins plan as before.
    *
    * Measured on the benchmark's `corpus_dedup` (10 pairs of runs at the
    * 128 MB default and lifted, seeds 1-10, alternating which side ran
    * first, 4 vCPUs):
    * `op_kind_p50_s` 0.740 -> 0.467 s (-37%, lower in 10 of 10 pairs) and
    * `rows_per_s` 663 -> 827; in a traced pair the text layer ran 4 jobs
    * instead of 9 and wrote no shuffle (28,312 B before).
    * `audit_rebuild_capture` held (0.312 -> 0.306 s). At sf0.01, timed in
    * one JVM with the setting alternated, cold: `dedup_minhash` 0.444 ->
    * 0.325 s (median of 5); the executed plans of 29 of 308 ops change,
    * and none is more than 10% slower (re-timed at a median of 11).
    *
    * The guard reads only this conf and Spark's estimate, so the conf is
    * the one place to lift it: capping the estimate per query would also
    * mislead the broadcast planner. */
  val maxSinglePartitionBytes: String = Long.MaxValue.toString

  /** The session at `local[cpus]` with graft's settings. Each setting is a
    * default: a key the JVM carries as a system property (`-Dspark.…`,
    * e.g. from `tools/run_graft.sh`) keeps the JVM's value. */
  def build(appName: String, cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
    def default(key: String, value: => String): Unit =
      b.config(key, sys.props.getOrElse(key, value))
    // one shuffle partition per core (AQE coalesces below that)
    default("spark.sql.shuffle.partitions", cpus)
    default("spark.sql.adaptive.enabled", "true")
    default("spark.sql.adaptive.coalescePartitions.enabled", "true")
    default("spark.sql.adaptive.skewJoin.enabled", "true")
    default("spark.sql.session.timeZone", "UTC")
    default("spark.sql.parquet.compression.codec", "snappy")
    // input-split size, the second determinism axis after shuffle width
    // (tools/determinism.py); below the small-input floor a scan is one
    // partition whatever its split size, so a sweep of this key there
    // also needs -Dspark.sql.adaptive.coalescePartitions.minPartitionSize=1b
    default("spark.sql.files.maxPartitionBytes", "128m")
    // managed tables (`saveAsTable`) go to a scratch dir deleted at JVM
    // exit, not to a `spark-warehouse/` under the launch directory
    default("spark.sql.warehouse.dir", Scratch.dir("graft-warehouse-"))
    // Spark's in-memory HDFS-backed state store: sandbox runs do not pay
    // RocksDB's per-batch checkpoint cost on tiny state. RocksDB is the
    // deployment posture for large state, and output is identical under
    // either provider (RocksDbStateSpec)
    default("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    default("spark.ui.enabled", "false")
    default("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
    default("spark.sql.maxSinglePartitionBytes", maxSinglePartitionBytes)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
