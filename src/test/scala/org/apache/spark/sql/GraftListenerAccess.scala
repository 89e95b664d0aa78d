package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test doorway to `private[spark]` listener state: block until every
  * event posted so far reached the registered listeners, and read the
  * name and query execution a SQL execution's end event carries. */
object GraftListenerAccess {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName

  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
