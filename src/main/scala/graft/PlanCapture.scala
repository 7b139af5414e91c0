package graft

import org.apache.spark.sql.DataFrame

/** Env-gated physical-plan capture for the parity-harness queries, whose
  * returned DataFrame is often a LocalTableScan of pre-computed counts: the
  * plans that matter are the INTERNAL stats computations (`Parity.stats`),
  * dumped here as `.explain("formatted")` text when `SPARK_GRAFT_EXPLAIN_DIR`
  * is set (plans/r06 evidence). A no-op in every normal run — bench and
  * verify never set the variable, so the timed paths see one `Map.get` and
  * nothing else. */
object PlanCapture {
  def dump(name: String, df: DataFrame): Unit =
    sys.env.get("SPARK_GRAFT_EXPLAIN_DIR").foreach { d =>
      val f = java.nio.file.Paths.get(d, s"$name.txt")
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f,
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
}
