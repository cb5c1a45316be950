package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
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
}
