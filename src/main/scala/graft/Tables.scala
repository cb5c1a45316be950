package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path
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
    * footer type mapping ([[rawEvents]] sets nanosAsLong), schema merging
    * and partition-value inference. */
  private val inferenceConfs = Seq(
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_FIELD_ID_READ_ENABLED, SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION, SQLConf.VARIANT_ALLOW_READING_SHREDDED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED, SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES,
    SQLConf.CASE_SENSITIVE, SQLConf.PARTITION_COLUMN_TYPE_INFERENCE,
    SQLConf.SESSION_LOCAL_TIMEZONE).map(_.key)

  /** The (path, size, mtime) of every data file under `path`, sorted;
    * empty for a missing path. Hidden names are skipped as a Spark read
    * skips them: a component starting with `.`, or with `_` unless it is a
    * `k=v` partition directory. A read of `path` and an export built from
    * it ([[Scratch.cachedExport]]) are keyed on this listing. */
  private[graft] def files(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val base = fs.makeQualified(root).toUri.getPath.length
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filterNot { f =>
        f.getPath.toUri.getPath.drop(base).split('/').exists(c =>
          c.startsWith(".") || (c.startsWith("_") && !c.contains("=")))
      }
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  /** Reads a parquet path, inferring its schema only when the files or the
    * [[inferenceConfs]] changed since the path was last read.
    *
    * Inference runs a footer-reading Spark job on every plain
    * `spark.read.parquet`. Here the read first lists the files ([[files]],
    * no job); when the listing and the settings match the last read's, a
    * read with the last inferred schema is the answer. Otherwise the
    * schema is inferred again and stored.
    *
    * Spark finds a cached plan by path, not by file content, so a frame
    * persisted over a path rewritten outside this session would keep
    * serving the old rows. When the listing differs from the one the path
    * was last read with, every cached plan over the path is refreshed
    * before the frame is handed out. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val confs = inferenceConfs.map(spark.conf.getOption)
    val listed = files(spark, path)
    val last = Option(seen.get(path))
    last.filter(l => l.confs == confs && l.files == listed)
      .map(l => spark.read.schema(l.schema).parquet(path))
      .getOrElse {
        val df = spark.read.parquet(path)
        seen.put(path, Seen(listed, confs, df.schema))
        if (last.exists(_.files != listed)) spark.catalog.refreshByPath(path)
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
  /** The raw read of an events feed at `path`. events.ts in the driver's
    * data is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects; this read takes it as raw long nanos, and
    * [[graft.sources.FeedSources.normalize]] truncates it to microseconds
    * (the engine's native timestamp precision). */
  def rawEvents(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(s, path)
  }

  /** The normalized events table: ts as instant-micros whether the file
    * stores nanos or, as re-materialized feeds (e.g. the gen_scale.py sf1
    * replica) do, micros. */
  def events(s: SparkSession, d: String): DataFrame =
    graft.sources.FeedSources.normalize(rawEvents(s, s"$d/events.parquet"))
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
