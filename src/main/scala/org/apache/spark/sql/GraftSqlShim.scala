package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Access shim for `private[sql]` constructors the public API does not
  * expose: building a DataFrame from a hand-constructed LogicalPlan.
  * Standard pattern for Spark extension libraries that add custom logical
  * operators (the plan node itself lives in `graft.plans`).
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A file-source relation WITH catalog statistics attached: the
    * `LogicalRelation(relation, catalogTable)` constructor Spark's own
    * catalog readers use — `computeStats` then serves
    * `Statistics(rowCount, attributeStats)` from `table.stats` (when
    * `spark.sql.cbo.planStats.enabled` or CBO is on) instead of the
    * stats-blind size-only estimate. The doorway a manifest-backed
    * table format needs to make its exact row counts and NDV sketches
    * visible to join planning. */
  def ofRowsWithStats(spark: SparkSession,
      relation: org.apache.spark.sql.sources.BaseRelation,
      table: org.apache.spark.sql.catalyst.catalog.CatalogTable): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        relation, table))

  /** A forked session sharing the SparkContext and a COPY of the
    * parent's session state (confs, temp views, extensions) — conf
    * writes on the fork never touch the parent. The isolation doorway
    * for builders that must plan under temporary conf overrides
    * (runtime-filter gates, broadcast thresholds) without leaking them
    * to queries planned concurrently on the shared session. */
  def forkSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
