package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the graft engine.
  *
  * All operators are pure plan builders over these tables; every filter /
  * projection stays declarative so Catalyst pushes it into the parquet scan
  * (verify with `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What a path was last read with: its files' (path, size, mtime), the
    * values of [[inferenceConfs]] in force, and the schema inferred there. */
  private final case class Seen(files: Seq[(String, Long, Long)], confs: Seq[Option[String]],
      schema: StructType)
  private val seen = new ConcurrentHashMap[String, Seen]()

  /** SQL settings that change the schema a parquet read infers: the
    * footer type mapping (`Tables.events` sets nanosAsLong), schema merging
    * and partition-value inference. */
  private val inferenceConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_FIELD_ID_READ_ENABLED, SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION, SQLConf.VARIANT_ALLOW_READING_SHREDDED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED, SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES,
    SQLConf.CASE_SENSITIVE, SQLConf.PARTITION_COLUMN_TYPE_INFERENCE,
    SQLConf.SESSION_LOCAL_TIMEZONE).map(_.key)

  private def listing(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case LogicalRelation(HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _),
          _, _, _, _) => i.allFiles()
      case _ => Nil
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted

  /** Reads a parquet path, inferring its schema only when the files or the
    * [[inferenceConfs]] changed since the path was last read.
    *
    * Inference runs a footer-reading Spark job on every plain
    * `spark.read.parquet`. Here the read first lists the files (no job)
    * through a read with the last inferred schema; when the listing and
    * the settings match that read's, it is the answer. Otherwise the schema
    * is inferred again and stored.
    *
    * Spark finds a cached plan by path, not by file content, so a frame
    * persisted over a path rewritten outside this session would keep
    * serving the old rows. When the listing differs from the one the path
    * was last read with, every cached plan over the path is refreshed
    * before the frame is handed out. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val confs = inferenceConfs.map(spark.conf.getOption)
    val last = Option(seen.get(path))
    val reused = last.filter(_.confs == confs).flatMap { l =>
      Some(spark.read.schema(l.schema).parquet(path)).filter(listing(_) == l.files)
    }
    reused.getOrElse {
      val df = spark.read.parquet(path)
      val files = listing(df)
      seen.put(path, Seen(files, confs, df.schema))
      if (last.exists(_.files != files)) spark.catalog.refreshByPath(path)
      df
    }
  }

  /** Reads one table of a scale-factor directory. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.ts in the driver's data is parquet TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects; read it as raw long nanos and
    * truncate to microseconds (the engine's native timestamp precision).
    * Integer division — a double round-trip would lose precision above
    * 2^53 ns. Re-materialized feeds (e.g. the gen_scale.py sf1 replica)
    * carry ts already at micros; accept both encodings. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.FeedSources.normalize(apply(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
