package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every bench, dump and probe main runs on:
  * `local[cpus]` with `cpus` shuffle partitions, UTC session time zone, no
  * UI, and the given driver log level. `configure` adds a main's own
  * settings (extensions, a state-store provider, an app name) before
  * `getOrCreate`. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the main's own default. */
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  def apply(cpus: String, logLevel: String = "WARN",
      configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
