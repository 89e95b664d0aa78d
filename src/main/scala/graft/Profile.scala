package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.ConcurrentHashMap

/** Job-level profiler (optimization-round measurement infra, guide §1):
  * runs the queries named in `SPARK_GRAFT_ONLY` (default: all) against
  * `SPARK_GRAFT_SF_DIR` through the same noop sink as [[Bench]], with a
  * SparkListener attributing every Spark job to the query that ran it —
  * job description, stage count, task count, wall ms. Prints a per-query
  * job table on stderr. `SPARK_GRAFT_PROFILE_PASSES` (default 2) runs
  * the set N times so warm-path costs separate from first-touch JIT/IO;
  * each pass's jobs are labeled `pass<i>/<query>`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession(cpus, "WARN", "spark.sql.adaptive.enabled" -> "true")
    case class JobRec(id: Int, desc: String, site: String, start: Long,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var stageIds: Seq[Int] = Nil, var stageNames: Map[Int, String] = Map.empty)
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageTasks =
      new ConcurrentHashMap[Int, java.util.concurrent.CopyOnWriteArrayList[Long]]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        // the RESULT stage's name is the job's action callsite
        // ("collect at SnapshotTable.scala:4655") — the attribution that
        // says which internal operation ran this job
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        val r = JobRec(e.jobId, d, site, e.time)
        r.stages = e.stageInfos.size
        r.tasks = e.stageInfos.map(_.numTasks).sum
        r.stageIds = e.stageInfos.map(_.stageId)
        r.stageNames = e.stageInfos.map(si => si.stageId -> si.name).toMap
        jobs.put(e.jobId, r)
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val l = stageTasks.computeIfAbsent(e.stageId,
          _ => new java.util.concurrent.CopyOnWriteArrayList[Long]())
        if (e.taskInfo != null) l.add(e.taskInfo.duration)
      }
    })
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROFILE_PASSES", "2").toInt
    (1 to passes).foreach { p =>
      selected.foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"pass$p/$name")
        val mark = order.size()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name failed: ${e.getMessage}")
        }
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        // give listener events a moment to drain
        Thread.sleep(200)
        val ids = (mark until order.size()).map(order.get)
        val recs = ids.map(jobs.get).filter(_ != null)
        System.err.println(
          f"[profile] pass $p $name%-28s wall $wall%7.2f s  jobs ${recs.size}%3d")
        recs.foreach { r =>
          val ms = if (r.end > 0) r.end - r.start else -1
          System.err.println(
            f"[profile]   job ${r.id}%4d ${ms}%6d ms ${r.stages}%2d st ${r.tasks}%4d tk  ${r.site}")
          // per-stage task-time distribution: the skew/straggler signal
          if (ms >= 500) r.stageIds.sorted.foreach { sid =>
            val l = stageTasks.get(sid)
            if (l != null && !l.isEmpty) {
              val ds = l.toArray(Array.empty[java.lang.Long])
                .map(_.longValue).sorted
              System.err.println(f"[profile]     stage $sid%4d: n ${ds.length}%4d " +
                f"sum ${ds.sum}%6d max ${ds.last}%6d med ${ds(ds.length / 2)}%5d  " +
                r.stageNames.getOrElse(sid, "?"))
            }
          }
        }
      }
      CacheRegistry.clear(spark)
    }
    spark.stop()
  }
}
