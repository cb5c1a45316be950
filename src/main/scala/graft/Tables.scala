package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

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

  /** (path, size, mtime) of the files each table path was last read with. */
  private val listings = new ConcurrentHashMap[String, Seq[(String, Long, Long)]]()

  /** Reads one table. Spark finds a cached plan by path, not by file
    * content, so a frame persisted over a table that was rewritten
    * outside this session would keep serving the old rows. The listing
    * the fresh read already holds (no job) is compared with the one this
    * path was last read with; when they differ, every cached plan over
    * the path is refreshed before the frame is handed out. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.parquet(path)
    val files = df.queryExecution.analyzed.collectLeaves().flatMap {
      case LogicalRelation(HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _),
          _, _, _, _) => i.allFiles()
      case _ => Nil
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    val last = listings.put(path, files)
    if (last != null && last != files) spark.catalog.refreshByPath(path)
    df
  }

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
