package graft

import org.apache.spark.sql.SparkSession

/** The session every scale-factor main runs under: `local[cpus]` with
  * one shuffle partition per core, UTC, no UI, and manifest-backed
  * catalog statistics reaching the planner (`cbo.planStats`). One
  * builder for Bench, Verify, PlanCheck, PlanDump and Profile, so plan
  * assertions hold under the same stats-aware planning the measured
  * runs use. `conf` adds a main's own settings. */
object LocalSession {
  def apply(cpus: String, logLevel: String,
      conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
