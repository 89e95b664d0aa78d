package graft.sources

import scala.collection.mutable

import graft.GraftSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._

/** Job shape of the per-file stats fold: inside a commit, for every
  * layout, no Spark job starts after the data write's jobs (the ones
  * of the SQL execution the write runs as, named `save`) — the stats
  * ride the write job and need no read-back of the batch — and
  * `analyze` is exactly one job. Observed with a `SparkListener`. */
class SnapshotCommitJobsSpec extends GraftSpec {
  import SnapshotCommitJobsSpec._

  /** Run `body`; return the jobs and data writes it ran. */
  private def run(body: => Unit): Run = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[Job]
    val ended = mutable.Set.empty[Int]
    val saves = mutable.Map.empty[Long, QueryExecution]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += Job(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        ended += e.jobId
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd
            if org.apache.spark.sql.GraftListenerAccess.executionName(end).contains("save") =>
          jobs.synchronized {
            saves(end.executionId) = org.apache.spark.sql.GraftListenerAccess.queryExecution(end)
          }
        case _ =>
      }
    }
    org.apache.spark.sql.GraftListenerAccess.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.GraftListenerAccess.drain(sc)
    } finally sc.removeSparkListener(l)
    jobs.synchronized {
      assert(jobs.forall(j => ended.contains(j.id)), "a job outlived its commit")
      Run(jobs.toSeq.sortBy(_.id), saves.toMap)
    }
  }

  /** `body` runs a write job, and every job it starts after the first
    * write job is a write job too. */
  private def assertNoJobAfterWrite(what: String)(body: => Unit): Unit = {
    val r = run(body)
    val writes = r.jobs.filter(r.isWrite)
    assert(writes.nonEmpty, s"$what: no write job among ${r.jobs}")
    val after = r.jobs.filter(j => j.id > writes.map(_.id).min && !r.isWrite(j))
    assert(after.isEmpty, s"$what: jobs after the write job: $after (all: ${r.jobs})")
  }

  private def batch(from: Long): DataFrame = spark.range(from, from + 240)
    .select(col("id"), concat(lit("n"), col("id") % 17).as("name"),
      (col("id") % 4).cast("int").as("day"),
      array(col("id"), col("id") * 2).as("refs"))

  private def table(): String =
    java.nio.file.Files.createTempDirectory("graft-jobs-").toString + "/tbl"

  test("flat, hive, bucketed, hive+bucketed and maxRecordsPerFile commits: no job after the write") {
    val layouts: Seq[(String, (String, DataFrame) => Unit)] = Seq(
      "flat" -> ((t, df) => SnapshotTable.commit(spark, t, df, overwrite = false)),
      "hive" -> ((t, df) => SnapshotTable.commitPartitionedBy(spark, t, df, Seq("day"))),
      "bucketed" -> ((t, df) =>
        SnapshotTable.commitBucketed(spark, t, df, overwrite = false, 3, "id")),
      "hive+bucketed" -> ((t, df) =>
        SnapshotTable.commitPartitionedBucketed(spark, t, df, Seq("day"), 3, "id")))
    for ((name, commitWith) <- layouts; maxRec <- Seq(None, Some(50L))) {
      val t = table()
      commitWith(t, batch(0))
      SnapshotTable.setBloomColumns(spark, t, Seq("name", "refs"))
      val key = "spark.sql.files.maxRecordsPerFile"
      maxRec.foreach(n => spark.conf.set(key, n))
      try assertNoJobAfterWrite(s"$name${maxRec.fold("")(n => s", maxRecordsPerFile=$n")}") {
        commitWith(t, batch(1000))
      } finally spark.conf.unset(key)
      val v = SnapshotTable.versions(spark, t).last
      assert(SnapshotTable.readAsOf(spark, t, v).count() == 480L)
    }
  }

  test("merge, deleteWhere, absorbDeletes and compact: no job after their data write") {
    val t = table()
    SnapshotTable.commitPartitionedBy(spark, t, batch(0), Seq("day"))
    SnapshotTable.commitPartitionedBy(spark, t, batch(1000), Seq("day"))
    assertNoJobAfterWrite("merge") {
      SnapshotTable.merge(spark, t, batch(100).limit(50),
        spark.range(0).select(col("id")), "id")
    }
    assertNoJobAfterWrite("deleteWhere") {
      SnapshotTable.deleteWhere(spark, t, col("id") % 7 === 0)
    }
    assertNoJobAfterWrite("absorbDeletes") {
      assert(SnapshotTable.absorbDeletes(spark, t).nonEmpty)
    }
    assertNoJobAfterWrite("compact") {
      assert(SnapshotTable.compact(spark, t, 64L * 1024 * 1024,
        128L * 1024 * 1024).nonEmpty)
    }
    val want = (0L until 240L) ++ (1000L until 1240L)
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() ==
      want.count(_ % 7 != 0))
  }

  test("a commit's data write reports Spark's write metrics") {
    val t = table()
    val r = run(SnapshotTable.commitPartitionedBy(spark, t, batch(0), Seq("day")))
    assert(r.saves.size == 1, s"${r.saves.keys}")
    val m = r.saves.values.head.executedPlan.metrics
    assert(m("numOutputRows").value == 240L, m)
    assert(m("numFiles").value >= 4L && m("numOutputBytes").value > 0L, m)
    assert(m("numParts").value == 4L, m)
  }

  test("analyze is exactly one job") {
    for (partBy <- Seq(Nil, Seq("day"))) {
      val t = table()
      if (partBy.isEmpty) SnapshotTable.commit(spark, t, batch(0), overwrite = false)
      else SnapshotTable.commitPartitionedBy(spark, t, batch(0), partBy)
      SnapshotTable.setBloomColumns(spark, t, Seq("name"))
      val jobs = run { assert(SnapshotTable.analyze(spark, t).nonEmpty) }.jobs
      assert(jobs.size == 1, s"analyze (partitioned by ${partBy.mkString(",")}) ran $jobs")
    }
  }
}

private object SnapshotCommitJobsSpec {
  final case class Job(id: Int, execution: Option[Long])

  /** What a body ran: its Spark jobs in submission order, and its SQL
    * executions named `save` (the data writes) by execution id. */
  final case class Run(jobs: Seq[Job], saves: Map[Long, QueryExecution]) {
    def isWrite(j: Job): Boolean = j.execution.exists(saves.contains)
  }
}
