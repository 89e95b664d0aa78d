package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What a workload's code sees of the run. */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long)

/** One prepared state of a workload: fresh inputs plus initial state,
  * ready for its ops. */
trait Instance {
  /** Runs op `i` (the workload's unit of user work). */
  def op(i: Int): Unit
  /** Independent correctness checks over everything the measured ops
    * did; returns one message per mismatch. Runs outside the timed
    * region. */
  def check(): Seq[String]
  /** Layer readings only this workload can take (traced run). */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Label of op `i`'s population, where ops come in kinds. */
  def opKind(i: Int): String = "op"
  def close(): Unit = ()
}

trait Workload {
  /** Measured op count for a run of `seconds`: a fixed function of the
    * argument, never of elapsed time. */
  def ops(seconds: Int): Int
  /** Ops run, untimed, on the first (throwaway) set-up pass's state. */
  def warmup: Seq[Int]
  /** Runs the warm-up ops on the measured state instead, just before the
    * measured ops, for a workload whose state is one long-lived thing
    * that stays warm (a running streaming query). */
  def warmsMeasuredState: Boolean = false
  /** Extra session confs this workload needs. */
  def confs: Map[String, String] = Map.empty
  /** Writes the seeded inputs of ops `0 until nOps` under `dir`; returns
    * the state builder and the digest of the generated rows. */
  def generate(ctx: Ctx, dir: String, nOps: Int): (() => Instance, String)
}

/** The benchmark's JVM side: builds a pinned local session, prepares the
  * workload several times (the median pass is the reported set-up),
  * warms up on throwaway state, runs a fixed number of ops from fresh
  * state, checks the results, and writes one JSON record to `--out`.
  * The launcher (`perfbench/run.py`) turns that record into metrics. */
object Main {
  val SetupPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = a("launch-epoch-ms").toLong
    val workload: Workload = a("workload") match {
      case "lakehouse_cdc" => Lakehouse
      case "curation_dedup" => Curation
      case "mapreduce_jobs" => MapReduceJobs
      case "stream_sessions" => StreamSessions
      case other => sys.error(s"unknown workload $other")
    }
    val scratch = a("scratch")
    val cpus = a("cpus")
    val b = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench-" + a("workload"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.default.parallelism", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
    workload.confs.foreach { case (k, v) => b.config(k, v) }
    val traced = a("trace") == "1"
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$scratch/rdd-checkpoints")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val trace = new Trace(spark, traced)
    val ctx = Ctx(spark, trace, a("seed").toLong)
    val nOps = workload.ops(a("seconds").toInt)
    val warmPass = if (workload.warmsMeasuredState) SetupPasses else 1
    // inputs for every measured op and for the warm-up ops' indices
    val nInputs = if (workload.warmsMeasuredState) workload.warmup.size + nOps
      else math.max(nOps, workload.warmup.max + 1)

    // set-up passes: identical inputs and state each time; the first
    // pass's state takes the warm-up ops and is thrown away (unless the
    // workload warms its measured state), the last pass's state is measured
    val passes = (1 to SetupPasses).map { p =>
      val t0 = System.nanoTime()
      val (build, digest) = workload.generate(ctx, s"$scratch/pass$p", nInputs)
      val t1 = System.nanoTime()
      val inst = build()
      val t2 = System.nanoTime()
      var warm = 0.0
      if (p == warmPass) {
        workload.warmup.foreach(i => trace.op(i, measured = false)(inst.op(i)))
        warm = (System.nanoTime() - t2) / 1e9
      }
      val keep = if (p < SetupPasses) { inst.close(); None } else Some(inst)
      (digest, (t1 - t0) / 1e9, (t2 - t1) / 1e9, warm, keep)
    }
    val inst = passes.last._5.get
    val digests = passes.map(_._1).distinct
    val fs0 = FsStats.now()
    val gc0 = JvmStats.gcMs
    val mr0 = graft.sources.SnapshotTable.manifestReads.get()
    val steal0 = JvmStats.cpuSteal
    var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val wall0 = System.nanoTime()
    for (i <- 0 until nOps) {
      try trace.op(i)(inst.op(i))
      catch { case e: Throwable =>
        failed += 1
        if (errors.size < 5) errors += s"op $i failed: $e"
      }
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    val fsD = FsStats.now() - fs0
    val gcD = JvmStats.gcMs - gc0
    val manifestReads = graft.sources.SnapshotTable.manifestReads.get() - mr0
    val rssMb = JvmStats.vmHwmMb
    val steal1 = JvmStats.cpuSteal
    val stealPct = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    trace.drain()
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else LayerReport(ctx, nOps, fsD, gcD, manifestReads) ++ inst.layerMetrics() +
        ("host.steal_pct" -> stealPct)
    if (digests.size != 1) errors += s"set-up passes generated different inputs: $digests"
    errors ++= inst.check()
    inst.close()
    if (traced) trace.writeSpans(a("spans"))
    val rec = Json.obj(Seq(
      "workload" -> a("workload"), "ops" -> trace.opLatencies.toSeq,
      "op_kinds" -> (0 until nOps).map(inst.opKind),
      "attempted" -> nOps, "failed" -> failed, "errors" -> errors.toSeq,
      "measured_wall_s" -> wallS, "session_s" -> sessionS,
      "pass_generate_s" -> passes.map(_._2), "pass_build_s" -> passes.map(_._3),
      "warmup_s" -> passes.map(_._4).sum,
      "first_op_epoch_ms" -> trace.firstOpEpochMs, "launch_epoch_ms" -> launchMs,
      "peak_rss_mb" -> rssMb, "steal_pct" -> stealPct, "input_digest" -> digests.head,
      "layers" -> layers))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), rec)
    spark.stop()
  }
}

/** Per-layer readings shared by every workload (traced run). Times are
  * per measured op; counts are totals over the measured ops. */
object LayerReport {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def apply(ctx: Ctx, nOps: Int, fs: FsStats, gcMs: Long,
      manifestReads: Long): Map[String, Double] = {
    val t = ctx.trace
    val jobs = t.measuredJobs
    val jobIds = jobs.map(_.id).toSet
    val stages = t.synchronized(t.stages.toList).filter(st => t.inMeasured(st.submitNs))
    val qs = t.synchronized(t.queries.toList).filter(q => t.inMeasured(q.startNs))
    val perOp = (x: Double) => x / nOps
    val self = t.selfSeconds
    Map(
      "fs.read_ops" -> fs.readOps.toDouble, "fs.list_ops" -> fs.listOps.toDouble,
      "fs.write_ops" -> fs.writeOps.toDouble, "fs.bytes_read" -> fs.bytesRead.toDouble,
      "fs.bytes_written" -> fs.bytesWritten.toDouble,
      "sources.manifest_reads" -> manifestReads.toDouble,
      "catalyst.executions" -> qs.size.toDouble,
      "catalyst.analysis_ms" -> perOp(qs.map(_.analysisMs).sum.toDouble),
      "catalyst.optimization_ms" -> perOp(qs.map(_.optimizationMs).sum.toDouble),
      "catalyst.planning_ms" -> perOp(qs.map(_.planningMs).sum.toDouble),
      "spark_exec.jobs" -> jobIds.size.toDouble,
      "spark_exec.stages" -> stages.size.toDouble,
      "spark_exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark_exec.executor_run_ms" -> perOp(stages.map(_.runMs).sum.toDouble),
      "spark_exec.executor_cpu_ms" -> perOp(stages.map(_.cpuMs).sum.toDouble),
      "spark_exec.gc_ms" -> perOp(stages.map(_.gcMs).sum.toDouble),
      "spark_exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark_exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark_exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark_exec.stage_skew" -> median(stages.filter(_.tasks > 1).map(_.skew)),
      "driver.gap_ms" -> median(t.driverGapMs),
      "jvm.gc_ms" -> perOp(gcMs.toDouble),
      "jvm.heap_peak_mb" -> JvmStats.heapPeakMb,
      "trace.spans" -> t.spans.count(_.op >= 0).toDouble,
    ) ++ self.map { case (l, s) => s"self.${l}_s" -> perOp(s) }
  }
}
