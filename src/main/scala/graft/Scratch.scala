package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Session-scoped scratch-directory registry.
  *
  * Streaming ops and the feed-format round-trip need on-disk scratch
  * space (sinks, checkpoints, binary exports). Raw
  * `Files.createTempDirectory` per invocation leaks disk linearly with
  * repeated benchmark runs — a 258-query gauntlet re-exports the events
  * feed every round and nothing ever deletes it. Two remedies, both here:
  *
  *   - every scratch dir is registered and recursively deleted by ONE
  *     JVM shutdown hook (a long-lived bench session exits clean);
  *   - derived exports that are a pure function of their input dataset
  *     (the `.gfc` feed export) are memoized per (kind, dataset-path)
  *     key and the dataset's file listing, so a repeated run reuses the
  *     first export instead of stacking a fresh copy per invocation, and
  *     a dataset rewritten in place gets a fresh export.
  */
object Scratch {

  /** An export and the [[Tables.files]] listing of the input it was built from. */
  private final case class Export(files: Seq[(String, Long, Long)], dir: String)
  private val cached = new ConcurrentHashMap[String, Export]()
  private val live = ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      live.forEach { p => deleteRecursively(p) }
    }, "graft-scratch-cleanup"))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      try {
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { try Files.delete(f) catch { case _: Exception => () } })
      } catch { case _: Exception => () }
    }

  /** Fresh scratch dir, deleted at JVM exit. Use for per-run state that
    * must NOT be reused (streaming checkpoints, append sinks). */
  def dir(prefix: String): String = {
    hook
    val p = Files.createTempDirectory(prefix)
    live.add(p)
    p.toString
  }

  /** Memoized scratch dir keyed by (kind, source dataset path): `build`
    * runs once per key per JVM while the dataset's files (their path,
    * size and mtime, as [[Tables.files]] lists them) stay the same; later
    * callers reuse the materialized export. Only for builds that are a
    * deterministic pure function of the dataset. */
  def cachedExport(s: SparkSession, kind: String, sourcePath: String)
      (build: String => Unit): String = {
    val files = Tables.files(s, sourcePath)
    cached.compute(s"$kind|${Paths.get(sourcePath).toAbsolutePath}", { (_, last) =>
      if (last != null && last.files == files) last
      else {
        val d = dir(s"graft-$kind-")
        build(d)
        Export(files, d)
      }
    }).dir
  }
}
