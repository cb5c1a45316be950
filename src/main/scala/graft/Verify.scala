package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare (tools/check.py), and plans.json
  * (each op's optimized logical plan through [[normalizePlan]]) for a
  * same-plans compare of two commits with tools/same_outputs.py. */
object Verify {
  /** The optimized plan with the parts that move with what ran earlier in
    * the JVM blanked out: expression ids (`#123`, `#123L`), the plan,
    * codegen-stage and query-stage ids of a cached relation's physical
    * plan (`plan_id=42`, `*(7)`, `ShuffleQueryStage 13`), the counter
    * suffix of a lambda variable (`lambda x_12`), JVM closure or object
    * names (`$$Lambda/0x…@1a2b`) and the random part of a scratch
    * directory (`/tmp/graft-gfc-2946…`). */
  def normalizePlan(plan: String): String = plan
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("\\*\\(\\d+\\)", "*()")
    .replaceAll("QueryStage \\d+", "QueryStage")
    .replaceAll("(lambda [A-Za-z_]\\w*?)_\\d+\\b", "$1")
    .replaceAll("\\$\\$?Lambda[\\w$/]*", "\\$Lambda")
    .replaceAll("@[0-9a-f]{4,}\\b", "@")
    .replaceAll("(/graft-[^/\\s]*?)\\d{6,}", "$1")

  def main(args: Array[String]): Unit = {
    // optional trailing names restrict the dump (iteration speed);
    // oracle_sql.json is always written in full
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    val ops = SparkEntry.queries.filter { case (name, _) => only.isEmpty || only(name) }
    val plans = Seq.newBuilder[(String, String)]
    val failed = ops.toSeq.flatMap { case (name, fn) =>
      val ok =
        try {
          val df = fn(spark, sfDir)
          plans += name -> normalizePlan(df.queryExecution.optimizedPlan.toString)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          true
        }
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
    Files.writeString(Paths.get(s"$outDir/plans.json"), plans.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
