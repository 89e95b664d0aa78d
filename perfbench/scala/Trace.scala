package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Op timing plus, when `enabled`, the traced run's instruments:
  *  - spans at each call from the benchmark into a graft module
  *    (layer, name, start, end, parent, op id), kept in memory and
  *    written out at exit;
  *  - Spark's public listeners: jobs, stages and tasks (`SparkListener`)
  *    and Catalyst phase times (`QueryExecutionListener`);
  *  - Hadoop FileSystem statistics for the `file` scheme.
  * Op latencies are always recorded; with `enabled = false` nothing
  * else is, so the untraced run pays only two `nanoTime` calls per op. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, layer: String,
      name: String, startNs: Long, endNs: Long)

  /** Wall-clock anchor so listener times (epoch ms) and spans (nanoTime)
    * share one axis. */
  private val nanoAt0 = System.nanoTime()
  private val milliAt0 = System.currentTimeMillis()
  def nsOfEpochMs(ms: Long): Long = nanoAt0 + (ms - milliAt0) * 1000000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile private var currentOp = -1
  /** Latency (s) of each measured op, in order. */
  val opLatencies = mutable.ArrayBuffer.empty[Double]
  /** (op index, start ns, end ns) of each measured op. */
  val opIntervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  var firstOpEpochMs = 0L

  /** Runs `f` as measured op `i`; warm-up ops pass `measured = false`. */
  def op[T](i: Int, measured: Boolean = true)(f: => T): T = {
    val id = if (measured) i else -1 - i
    if (measured && opLatencies.isEmpty) firstOpEpochMs = System.currentTimeMillis()
    currentOp = id
    spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
    val t0 = System.nanoTime()
    val out = try span("op", s"op$i")(f) finally {
      currentOp = -1
      spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
    }
    val t1 = System.nanoTime()
    if (measured) {
      opLatencies += (t1 - t0) / 1e9
      opIntervals += ((i, t0, t1))
    }
    out
  }

  /** Times one call into `layer`. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, currentOp, layer, name, 0L, 0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  /** Total time (s), over the measured ops, of the spans whose
    * `layer.name` starts with `prefix`. */
  def spanSeconds(prefix: String): Double =
    spans.filter(sp => sp.op >= 0 && s"${sp.layer}.${sp.name}".startsWith(prefix))
      .map(sp => (sp.endNs - sp.startNs) / 1e9).sum

  /** Self time (s) per layer over the measured ops: each span's duration
    * minus the part its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(sp => if (sp.parent >= 0) childNs(sp.parent) += sp.endNs - sp.startNs)
    spans.filter(_.op >= 0).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(sp => sp.endNs - sp.startNs - childNs(sp.id)).sum / 1e9
    }
  }

  // ---- Spark listeners --------------------------------------------------

  final case class Job(id: Int, op: Int, startNs: Long, var endNs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitNs: Long, doneNs: Long,
      tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleWriteNs: Long, shuffleRead: Long, fetchWaitMs: Long,
      spill: Long, skew: Double)
  final case class Phases(startNs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val queries = mutable.ArrayBuffer.empty[Phases]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** The op that was running at `ns` (closed loop: at most one). */
  def opAt(ns: Long): Int =
    opIntervals.find { case (_, a, b) => ns >= a && ns <= b }.map(_._1).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tagged = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.OpProperty))).map(_.toInt)
      jobs += Job(e.jobId, tagged.getOrElse(Trace.Untagged),
        nsOfEpochMs(e.time), 0L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endNs = nsOfEpochMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val times = taskTimes.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
      val skew = if (times.isEmpty) 1.0
        else times.last.toDouble / math.max(1L, times(times.size / 2))
      if (m != null)
        stages += Stage(si.stageId,
          nsOfEpochMs(si.submissionTime.getOrElse(0L)),
          nsOfEpochMs(si.completionTime.getOrElse(0L)), si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, skew)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
          .getOrElse(System.currentTimeMillis())
        queries += Phases(nsOfEpochMs(start), ms("analysis"), ms("optimization"),
          ms("planning"))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Blocks until the listener bus delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Op a job belongs to: its op property, else the op open at its start
    * (jobs run by the job server's or a stream's own thread). */
  def jobOp(j: Job): Int = if (j.op != Trace.Untagged) j.op else opAt(j.startNs)

  def measuredJobs: Seq[Job] = synchronized(jobs.toList).filter(j => jobOp(j) >= 0)

  def inMeasured(ns: Long): Boolean = opAt(ns) >= 0

  /** Per-op driver gap (ms): op wall minus the union of its job intervals. */
  def driverGapMs: Seq[Double] = {
    val byOp = measuredJobs.groupBy(jobOp)
    opIntervals.toSeq.map { case (i, a, b) =>
      val iv = byOp.getOrElse(i, Nil).map(j => (math.max(a, j.startNs),
        math.min(b, if (j.endNs == 0L) b else j.endNs))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (x, y) =>
        if (x > curB) { if (curB > curA) covered += curB - curA; curA = x; curB = y }
        else curB = math.max(curB, y)
      }
      if (curB > curA) covered += curB - curA
      (b - a - covered) / 1e6
    }
  }

  /** Writes every span and job as JSON lines. */
  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { sp =>
      sb.append(Json.obj(Seq("kind" -> "span", "id" -> sp.id, "parent" -> sp.parent,
        "op" -> sp.op, "layer" -> sp.layer, "name" -> sp.name,
        "start_ms" -> (sp.startNs - nanoAt0) / 1e6, "end_ms" -> (sp.endNs - nanoAt0) / 1e6)))
      sb.append('\n')
    }
    synchronized(jobs.toList).foreach { j =>
      sb.append(Json.obj(Seq("kind" -> "spark_job", "id" -> j.id, "op" -> jobOp(j),
        "start_ms" -> (j.startNs - nanoAt0) / 1e6, "end_ms" -> (j.endNs - nanoAt0) / 1e6)))
      sb.append('\n')
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, sb.toString)
  }
}

object Trace {
  val OpProperty = "perfbench.op"
  val Untagged = Int.MinValue
}

/** File-system work of the `file` scheme (driver and local executors
  * share the JVM): op counts from [[CountingLocalFileSystem]] (traced run
  * only), bytes from Hadoop's FileSystem statistics. */
final case class FsStats(readOps: Long, listOps: Long, writeOps: Long,
    bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps, listOps - o.listOps,
    writeOps - o.writeOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  def now(): FsStats = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    import CountingLocalFileSystem._
    FsStats(reads.get, lists.get, writes.get, all.map(_.getBytesRead).sum,
      all.map(_.getBytesWritten).sum)
  }
}

/** JVM-level readings: summed collector time, heap peak, and the
  * process's resident-set high-water mark. */
object JvmStats {
  import scala.jdk.CollectionConverters._
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  def heapPeakMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** (steal, total) jiffies of all CPUs from `/proc/stat`: time the
    * hypervisor gave this machine's virtual CPUs to someone else. */
  def cpuSteal: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON writer for flat objects of numbers, strings and nested
  * values. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
