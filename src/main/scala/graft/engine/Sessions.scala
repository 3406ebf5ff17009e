package graft.engine

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its SparkSession. Every
  * session gets the UTC session time zone — a correctness condition,
  * not a preference: the events-time rows must read the same instants
  * as the DuckDB oracle on any host time zone — no UI, and WARN
  * logging. `conf` carries the caller's extras (shuffle partitions,
  * warehouse dir, memo budget, executor settings). */
object Sessions {
  def create(master: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `local[n]` with n = `SPARK_GRAFT_CPUS`, default every core. */
  def localCores: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
