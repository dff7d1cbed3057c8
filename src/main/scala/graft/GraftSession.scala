package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder behind every `main` and the test suite. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, the [[graft.plans.GraftExtensions]]
    * plan rewrites, UTC session time, no UI, and WARN logging. Returns the
    * running session if one exists.
    */
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
