package graft.engine

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its SparkSession. Every
  * session gets the UTC session time zone — a correctness condition,
  * not a preference: the events-time rows must read the same instants
  * as the DuckDB oracle on any host time zone — no UI, WARN logging,
  * and graft's planner strategies (`GraftStrategies.install`). `conf`
  * carries the caller's extras (shuffle partitions, warehouse dir,
  * memo budget, executor settings). */
object Sessions {
  def create(master: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftStrategies.install(spark)
    spark
  }

  /** Run `body` with `settings` set on `s`, then put every key back as
    * it was found: its earlier explicit value, or unset. `get(key,
    * null)` sees only explicit settings (`getOption` falls through to
    * the entry default), so a key the caller never set is unset after,
    * not pinned to a default they never chose. */
  def withConf[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val found = settings.map { case (k, _) => k -> Option(s.conf.get(k, null)) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally found.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** `local[n]` with n = `SPARK_GRAFT_CPUS`, default every core. */
  def localCores: String = sys.env.getOrElse(
    "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
}
