package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark.local(LocalSpark.cpus)
    new java.io.File(outDir).mkdirs()
    // plan audits live in a SIBLING of outDir: the external compare driver
    // globs outDir/* as parquet query results, so anything else in there
    // (even an underscore dir) shows up as a spurious failing row in
    // CORRECTNESS_r*.json (it did, in round 3). Keyed by the outDir name so
    // per-sf runs sharing a parent don't overwrite each other's audits.
    val outFile = new java.io.File(outDir).getAbsoluteFile
    val plansDir = new java.io.File(outFile.getParent, s"${outFile.getName}_verify_plans")
    plansDir.mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // physical-plan audit artifact next to the results (judge-readable)
        Files.writeString(Paths.get(s"$plansDir/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = Jsons.str(s)
    // doc-store oracles read the engine's own partitioned parquet store;
    // resolve the placeholder to this run's absolute store path
    val storeAbs = new java.io.File(
      graft.sources.DocStore.path(SparkEntry.sfOf(sfDir))).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__DOCSTORE__", storeAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
