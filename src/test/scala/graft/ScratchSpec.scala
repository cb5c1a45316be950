package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scratch-directory registry semantics: fresh dirs are distinct,
  * memoized exports build once per (kind, dataset) key and file listing,
  * and distinct datasets never share an export. */
class ScratchSpec extends AnyFunSuite {
  import TestSession._

  test("dir returns a fresh existing directory every call") {
    val a = Scratch.dir("graft-spec-")
    val b = Scratch.dir("graft-spec-")
    assert(a !== b)
    assert(new java.io.File(a).isDirectory && new java.io.File(b).isDirectory)
  }

  test("cachedExport builds once per key and memoizes the path") {
    var builds = 0
    val key = s"spec-${System.nanoTime()}"
    def get() = Scratch.cachedExport(spark, key, sfDir) { dir =>
      builds += 1
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "marker"), "x")
    }
    val p1 = get()
    val p2 = get()
    assert(p1 === p2)
    assert(builds === 1, "build closure ran more than once for one key")
    assert(new java.io.File(p1, "marker").exists)
    // a different dataset path under the same kind is a different export
    val otherData = Files.createTempDirectory("graft-spec-data").toString
    val other = Scratch.cachedExport(spark, key, otherData)(_ => builds += 1)
    assert(other !== p1)
    assert(builds === 2)
  }

  test("an export follows its input: a feed rewritten in place is exported again") {
    val root = Files.createTempDirectory("graft-export")
    val raw = Tables.rawEvents(spark, s"$sfDir/events.parquet")
    raw.write.parquet(s"$root/events.parquet")
    raw.filter(col("event_id") % 2 === 0).write.parquet(s"$root/fewer.parquet")
    val feedV2 = SparkEntry.queries("audit_feed_v2")
    def total(): Long = feedV2(spark, root.toString).agg(sum("n")).head().getLong(0)
    val all = total()
    // an outside writer swaps the directory for one with fewer rows
    val target = root.resolve("events.parquet")
    Files.walk(target).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    Files.move(root.resolve("fewer.parquet"), target)
    val expected = Tables.events(spark, root.toString)
      .filter(col("event_id") > 500).count()
    assert(expected < all)
    assert(total() === expected)
  }
}
