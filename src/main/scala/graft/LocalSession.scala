package graft

import org.apache.spark.sql.SparkSession

/** The session every main builds: `cpus` shuffle partitions, AQE on,
  * UTC, UI off, graft's SQL functions, WARN logging. */
object LocalSession {
  def apply(appName: String, master: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
