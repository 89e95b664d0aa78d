package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{GraftListenerAccess, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark jobs a body starts, in job order, each as the id and name
  * of the SQL execution it ran under (`(-1, "none")` outside one). */
object JobLog {
  def apply(spark: SparkSession)(body: => Unit): Seq[(Long, String)] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[(Int, Long)]
    val names = mutable.Map.empty[Long, String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).fold(-1L)(_.toLong)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd => jobs.synchronized {
          names(end.executionId) = GraftListenerAccess.executionName(end).getOrElse("?")
        }
        case _ =>
      }
    }
    GraftListenerAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      GraftListenerAccess.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.synchronized {
      jobs.sortBy(_._1).map { case (_, id) => id -> names.getOrElse(id, "none") }.toSeq
    }
  }
}
