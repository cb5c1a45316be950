package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing names restrict the dump (iteration speed);
    // oracle_sql.json is always written in full
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    val ops = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    val failed = ops.toSeq.flatMap { case (name, fn) =>
      val ok =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); true }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // operator-internal caches must not leak into the next op — but
      // most ops persist nothing, so only pay the unpersist walk when
      // something is actually cached
      if (!spark.sharedState.cacheManager.isEmpty) spark.catalog.clearCache()
      if (ok) None else Some(name)
    }
    // one closing line that names every failure, so a run's verdict is
    // not buried among Spark's WARN lines
    System.err.println(s"[verify] ${failed.size} of ${ops.size} ops failed: " +
      (if (failed.isEmpty) "none" else failed.sorted.mkString(", ")))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // collapsed-formulation twins for the replicated scale gates
    // (check.py --scale-oracles overlays these over oracle_sql.json)
    val scaleJson = SparkEntry.scaleOracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scale.json"), scaleJson)
    // rows-only ops: name → verifying ScalaTest suite, so a no-oracle
    // correctness entry carries its verification pointer (check.py merges
    // this into the report as `spec`)
    val specs = SparkEntry.specRefs
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/spec_refs.json"), specs)
    spark.stop()
  }
}
