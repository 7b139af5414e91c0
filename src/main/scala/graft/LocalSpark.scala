package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder of the mains: `local[cores]` with
  * `cores` shuffle partitions, UTC session time zone, UI off, AQE on and WARN
  * logging. `extra` confs are applied last, so they override these. */
object LocalSpark {

  /** Task slots: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
