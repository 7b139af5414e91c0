package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for tests. `codegen.fallback=false` makes a
  * broken `doGenCode` fail the test instead of silently degrading to the
  * interpreted path. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSpark.local(4,
      "spark.app.name" -> "graft-test",
      "spark.sql.codegen.fallback" -> "false")
    graft.expr.gf.registerAll(s)
    s
  }
}
