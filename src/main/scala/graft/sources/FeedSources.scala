package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-feed sources and the audit-log sink.
  *
  * The reference captures changes in-database (trigger → audit table); a
  * Spark deployment receives the same feed as files (parquet / csv / json
  * exports, or a stream — see graft.streaming.EventStream). One canonical
  * schema, three formats, all reading into the same normalized feed.
  *
  * The sink is the audit log's resting layout: day-partitioned parquet,
  * append-only (the no-DML guarantee, audit.go:627, expressed as storage
  * discipline: `mode("append")`, no overwrite API exposed). Day partitions
  * give time-range queries partition pruning — at 100 TB a "last 7 days of
  * changes" query touches 7 directories, not the table. For entity-keyed
  * access co-location, see AuditStorage.writeBucketed.
  */
object FeedSources {

  /** Canonical raw feed schema (ts in epoch nanos, as exported). */
  val feedSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Canonical ts normalization to the engine-native instant-micros
    * TIMESTAMP, tolerant of the feed's physical encoding:
    *   - LONG epoch nanos (the driver's TIMESTAMP(NANOS) read via
    *     nanosAsLong): integer-divide to micros — a double round-trip
    *     loses precision above 2^53 ns;
    *   - TIMESTAMP_NTZ micros (re-materialized feeds, e.g. the
    *     gen_scale.py replicas): cast — the session runs pinned to UTC,
    *     so the wall-clock reading is the same instant;
    *   - TIMESTAMP: already native. */
  def normalize(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _ => raw
  }

  /** [[feedSchema]] with ts matching the actual file encoding — file
    * streaming sources require an explicit schema, and a LongType ts over
    * a TIMESTAMP-encoded file (or vice versa) mis-reads. One batch footer
    * peek decides. */
  def feedSchemaFor(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val actual = spark.read.option("pathGlobFilter", "events.parquet")
      .parquet(dir).schema("ts").dataType
    StructType(feedSchema.map(f => if (f.name == "ts") f.copy(dataType = actual) else f))
  }

  def parquetFeed(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // parquet is self-describing: honor the file's ts encoding and let
    // normalize converge it (a forced LongType over a TIMESTAMP file
    // mis-reads)
    normalize(spark.read.parquet(path))
  }

  def csvFeed(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(feedSchema).option("header", "true").csv(path))

  def jsonFeed(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(feedSchema).json(path))

  def orcFeed(spark: SparkSession, path: String): DataFrame =
    normalize(spark.read.schema(feedSchema).orc(path))

  /** True iff the sink path already holds captured data. */
  def sinkExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** ENFORCED immutability — the Spark analogue of the reference's no-DML
    * trigger, which RAISES on any UPDATE/DELETE/TRUNCATE of an audit table
    * (audit.go:627-645). Once a sink path holds captured history, append
    * is the only write it admits; an overwrite (or any other destructive
    * mode) is refused before a single byte moves. */
  def writeGuarded(log: DataFrame, path: String,
      mode: SaveMode = SaveMode.Append): Unit =
    writeGuardedBy(log.withColumn("day", to_date(col("ts"))), path,
      Seq("day"), mode)

  /** [[writeGuarded]] generalized to any partition layout — the same
    * append-only enforcement for sinks that are not day-keyed (the
    * corpus_export split/lang release layout). */
  def writeGuardedBy(df: DataFrame, path: String, partCols: Seq[String],
      mode: SaveMode = SaveMode.Append): Unit = {
    if (mode != SaveMode.Append && sinkExists(df.sparkSession, path))
      throw new UnsupportedOperationException(
        s"audit sink '$path' is append-only; SaveMode.$mode would destroy " +
          "captured history (the reference raises on UPDATE/DELETE/TRUNCATE " +
          "of audit tables, audit.go:627)")
    df.write.mode(mode)
      .partitionBy(partCols: _*)
      .parquet(path)
  }

  /** Appends an audit log to its day-partitioned resting layout. */
  def appendPartitioned(log: DataFrame, path: String): Unit =
    writeGuarded(log, path, SaveMode.Append)

  /** Reads a partitioned sink; a re-read of an unchanged sink reuses its
    * schema and runs no inference job ([[graft.Tables.parquet]]). */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path)

  /** Exactly-once view over the at-least-once capture sink: replayed
    * micro-batches (crash between write and checkpoint commit) appear as
    * duplicate audit ids; keeping the first occurrence per id restores
    * exactly-once semantics at read time.
    *
    * Deduping on (day, id) rather than the id alone keeps the shuffle
    * partition-local at scale: a replayed row carries the same event time,
    * so its duplicate lands in the *same* day partition — a day-pruned
    * read ("last 7 days") dedups only the partitions it touches instead of
    * shuffling the id across the whole table's history. */
  def exactlyOnceView(spark: SparkSession, path: String,
      idCol: String = "event_id"): DataFrame =
    readPartitioned(spark, path).dropDuplicates("day", idCol)

  /** Fail-loud check that every `<partitionPrefix>` partition of `path`
    * (a Hive-layout `k=` prefix, e.g. `"day="`) currently holds at most
    * `maxFiles` parquet files — a pure filesystem-metadata walk (no
    * footer, no data). Oracles that encode expected file counts
    * arithmetically (audit_partition_health's 1-base-file-per-day shape)
    * depend on the writer having emitted exactly one file per partition;
    * a configured `spark.sql.files.maxRecordsPerFile` or a future AQE
    * rebalance on the exchange would silently split a day and break the
    * cross-engine hash gate — this assertion turns that silent drift into
    * an immediate error at build time. The caller names the layout it
    * expects: if NO directory matches the prefix the check also throws
    * (a mis-stated layout must not pass vacuously). */
  def assertMaxFilesPerPartition(spark: SparkSession, path: String,
      maxFiles: Int, partitionPrefix: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partitionPrefix))
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"audit sink '$path' has no '$partitionPrefix' partition " +
          "directories — the layout this assertion was asked to check " +
          "does not exist (wrong prefix or wrong sink)")
    val over = dirs
      .map { dirSt =>
        val n = fs.listStatus(dirSt.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        (dirSt.getPath.getName, n)
      }
      .filter(_._2 > maxFiles)
    if (over.nonEmpty)
      throw new IllegalStateException(
        s"audit sink '$path' layout invariant violated: expected <= " +
          s"$maxFiles parquet file(s) per '$partitionPrefix' partition, " +
          "found " +
          over.map { case (d, n) => s"$d:$n" }.mkString(", ") +
          " (a maxRecordsPerFile/AQE setting split a writer task's " +
          "output; the partition-health oracle's file-count arithmetic " +
          "would silently diverge)")
  }

  /** Per-day-partition layout health of an audit sink, computed from
    * METADATA only — the reference's trigger manages audit partitions as
    * it writes (docs/index.md: "the trigger also handles creating new
    * audit table partitions as needed"); the Spark sink's analogue is
    * this health scan an operator runs before compaction/retention moves
    * anything.
    *
    * Scale shape: the partition *listing* is a filesystem metadata walk,
    * O(|day dirs| + |files|) — the same operation a metastore performs,
    * never touching a data byte. Per-file row counts come from parquet
    * FOOTERS read executor-side (the file list is parallelized and each
    * task opens only footers — `ParquetFileReader` reads the tail block
    * index; no column pages are decoded, asserted in FeedSourcesSpec).
    * At 100 TB this costs one ~KB footer read per file, embarrassingly
    * parallel, while a naive `count per input_file_name` would scan the
    * table. */
  def partitionHealth(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files: Seq[(String, String, Long)] = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .flatMap { dirSt =>
        val day = dirSt.getPath.getName.stripPrefix("day=")
        fs.listStatus(dirSt.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => (day, f.getPath.toString, f.getLen))
      }
    import spark.implicits._
    // the session's Hadoop configuration must travel to the executors —
    // a default `new Configuration()` there would drop spark.hadoop.*
    // settings (object-store credentials, custom filesystems) and footer
    // reads would fail or mis-resolve on any non-local sink path
    val hadoopConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val fileRows = spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 32)))
      .mapPartitions { it =>
        val conf = hadoopConf.value.value
        it.map { case (day, file, bytes) =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new Path(file), conf))
          try {
            import scala.jdk.CollectionConverters._
            val rows = rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
            (day, file, bytes, rows)
          } finally rd.close()
        }
      }.toDF("day", "file", "bytes", "rows")
    fileRows.groupBy(col("day").cast("date").as("day"))
      .agg(count(lit(1)).as("n_files"),
        sum("rows").cast("long").as("n_rows"),
        min("rows").cast("long").as("min_file_rows"),
        max("rows").cast("long").as("max_file_rows"))
  }
}
