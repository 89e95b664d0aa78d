package graft.perfbench

import scala.collection.mutable
import graft.mapreduce.JobServer

/** `mapreduce_jobs`: one op is one rotation of the job mix — a word
  * count and a grep (words with one prefix, counted) over a fresh
  * generated text input, sent back to back as `new_master_job` messages
  * over TCP to an in-process `JobServer` and waited on until the server
  * reports both done. The second job waits in the server's FIFO queue,
  * and every op has the same shape. This path runs RDD pipes and does
  * no Catalyst planning, so it is the control for the `catalyst` layer.
  * An op is short, so a run holds enough of them for a tail percentile
  * above the median; twelve warm-up ops let the JIT settle first. */
object MapReduceJobs extends Workload {
  val LinesPerJob = 8000
  def ops(seconds: Int): Int = math.max(1, seconds * 22 / 15)
  def warmup: Seq[Int] = 0 until 12

  val WordCountMap = """awk '{for (i = 1; i <= NF; i++) print $i "\t1"}'"""
  val GrepMap = """awk '{for (i = 1; i <= NF; i++) if ($i ~ /^s/) print $i "\t1"}'"""
  val SumReduce = """awk -F '\t' '{c[$1] += $2} END {for (k in c) print k "\t" c[k]}'"""
  /** (output suffix, mapper, keeps word) of each job of the rotation. */
  val Jobs: Seq[(String, String, String => Boolean)] = Seq(
    ("wordcount", WordCountMap, _ => true), ("grep", GrepMap, _.startsWith("s")))

  def generate(ctx: Ctx, dir: String, nOps: Int): (() => Instance, String) = {
    val dg = new Gen.Digest
    val inputs = (0 until nOps).map { i =>
      val bytes = Gen.corpus(ctx.seed, i, LinesPerJob)
      dg.add(new String(bytes, "UTF-8"))
      val in = java.nio.file.Paths.get(s"$dir/in$i")
      java.nio.file.Files.createDirectories(in)
      java.nio.file.Files.write(in.resolve("part-0.txt"), bytes)
      in.toString
    }
    (() => new MapReduceInstance(ctx, dir, inputs), dg.hex)
  }
}

final class MapReduceInstance(ctx: Ctx, dir: String, inputs: Seq[String]) extends Instance {
  import MapReduceJobs._
  private val t = ctx.trace
  private val server = new JobServer(ctx.spark)
  private val port = server.start()
  private val submitMs = mutable.ArrayBuffer.empty[Double]
  /** Per op: (submit end ns, done ns) of each job, in submission order. */
  private val jobTimes = mutable.Map.empty[Int, Seq[(Long, Long)]]

  private def json(v: String) = Json.value(v)

  private def submit(msg: String): Long = t.span("mapreduce", "submit") {
    val t0 = System.nanoTime()
    val sock = new java.net.Socket(java.net.InetAddress.getLoopbackAddress, port)
    try sock.getOutputStream.write(msg.getBytes("UTF-8")) finally sock.close()
    val t1 = System.nanoTime()
    submitMs += (t1 - t0) / 1e6
    t1
  }

  def op(i: Int): Unit = {
    val before = server.completedJobs
    val submitted = Jobs.map { case (name, mapper, _) =>
      submit(s"""{"message_type": "new_master_job", "input_directory": ${json(inputs(i))},
        "output_directory": ${json(s"$dir/out$i-$name")}, "mapper_executable": ${json(mapper)},
        "reducer_executable": ${json(SumReduce)}, "num_mappers": 4, "num_reducers": 2}""")
    }
    // the server logs a failed job and moves on without counting it:
    // give up after a deadline so the op counts as failed
    val deadline = submitted.last + 120L * 1000000000L
    val done = t.span("mapreduce", "wait") {
      Jobs.indices.map { j =>
        while (server.completedJobs <= before + j) {
          if (System.nanoTime() > deadline) sys.error(s"op $i: job ${Jobs(j)._1} did not complete")
          Thread.sleep(0, 200000)
        }
        System.nanoTime()
      }
    }
    jobTimes(i) = submitted.zip(done)
  }

  override def close(): Unit = server.forceStop()

  /** Stages of each measured job, split by role: the stages before the
    * last are `map` (input, mapper pipe, sort-shuffle write), the last
    * (reducer pipe + output write) is `reduce`; `group` is the sort
    * shuffle's write time plus its fetch wait; `commit` is the output
    * rename after the Spark job; `queue` is submit → Spark job start,
    * which for the second job of an op includes the first job's run. */
  override def layerMetrics(): Map[String, Double] = {
    val stagesById = t.synchronized(t.stages.toList).map(st => st.id -> st).toMap
    var map, group, reduce, commit, queue = 0.0
    var pipeTasks = 0L
    t.measuredJobs.groupBy(t.jobOp).foreach { case (i, js) =>
      js.sortBy(_.startNs).zip(jobTimes.getOrElse(i, Nil)).foreach { case (j, (sub, done)) =>
        val st = j.stageIds.sorted.flatMap(stagesById.get)
        if (st.nonEmpty) {
          val (maps, last) = (st.init, st.last)
          map += maps.map(x => (x.doneNs - x.submitNs) / 1e9).sum
          reduce += (last.doneNs - last.submitNs) / 1e9
          group += maps.lastOption.map(_.shuffleWriteNs).getOrElse(0L) / 1e9 + last.fetchWaitMs / 1e3
          pipeTasks += last.tasks + maps.lastOption.map(_.tasks).getOrElse(0)
        }
        queue += (j.startNs - sub) / 1e6
        commit += math.max(0L, done - j.endNs) / 1e9
      }
    }
    val n = math.max(1, t.opIntervals.size)
    Map(
      "mapreduce.submit_ms" -> LayerReport.median(submitMs.takeRight(n * Jobs.size).toSeq),
      "mapreduce.queue_ms" -> queue / n, "mapreduce.map_s" -> map / n,
      "mapreduce.group_s" -> group / n, "mapreduce.reduce_s" -> reduce / n,
      "mapreduce.commit_s" -> commit / n, "mapreduce.pipe_tasks" -> pipeTasks.toDouble)
  }

  /** Output word counts must equal a plain-Scala count of each input. */
  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    for (i <- jobTimes.keys.toSeq.sorted; (name, _, keep) <- Jobs) {
      val words = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(inputs(i), "part-0.txt")), "UTF-8").split("\\s+")
        .filter(w => w.nonEmpty && keep(w))
      val want = words.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      val files = Option(new java.io.File(s"$dir/out$i-$name").listFiles)
        .getOrElse(Array.empty[java.io.File]).filter(_.getName.startsWith("outputfile"))
      val got = files.toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(_.nonEmpty).toList finally src.close()
      }.map { l => val Array(w, c) = l.split("\t"); w -> c.toLong }
      if (got.map(_._1).distinct.size != got.size) errs += s"op $i $name: a word appears twice"
      else if (got.toMap != want) errs += s"op $i $name: word counts differ from the reference"
    }
    errs.toSeq
  }
}
