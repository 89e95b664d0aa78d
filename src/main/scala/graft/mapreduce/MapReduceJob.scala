package graft.mapreduce

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Reference-parity MapReduce pipeline, re-expressed on Spark.
  *
  * The reference executes a fixed 3-stage plan — pipe-through-executable
  * map, per-task sort + master-side k-way merge, round-robin partition over
  * distinct lines, pipe-through-executable reduce
  * (`mapreduce/master/__main__.py:220-467`, `mapreduce/worker/__main__.py:99-159`).
  * Here the whole data plane is one RDD lineage:
  *
  *   textFile(in, nM) → pipe(mapper) → keyBy(tab-key)
  *     → repartitionAndSortWithinPartitions(KeyPartitioner(nR))
  *     → pipe(reducer) → outputfileNN
  *
  * Spark's sort-based shuffle subsumes the reference's worker sorts
  * (`worker/__main__.py:132-145`), the master's heapq merge
  * (`master/__main__.py:384-406`), and its staged tmp/ directories — and it
  * spills, so (unlike the reference's in-memory `list.sort()`) it survives
  * partitions that don't fit in memory. Control-plane items (registration,
  * heartbeats, task reassignment — SURVEY.md §2.2 C3–C6) are delegated to
  * the cluster manager entirely.
  *
  * Semantics decisions (SURVEY.md §2.4):
  *  - Q1/Q2 resolved to *intent*: partition by the tab-separated key (all
  *    lines of one key reach exactly one reducer), one partition per reduce
  *    task. A `fidelity` flag switches to the reference's observable
  *    distinct-LINE round-robin assignment for byte-level golden parity.
  *  - Q3: reduce input is sorted by the whole line (codepoint order, same
  *    as Python `str` sort on ASCII); empty keys are preserved as keys.
  *  - subprocess exit codes: `pipe` fails the task on non-zero exit — the
  *    reference silently ignored them (`worker/__main__.py:116`).
  */
object MapReduceJob {

  /** `key \t value` line → key (whole line when no tab, ref behavior:
    * the sort compares whole lines; grouping keys on the tab prefix). */
  def keyOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** Hash-partition whole `key\tvalue` lines by their tab-key: the
    * MapReduce contract the reference intends (SURVEY.md Q1). */
  final class KeyPartitioner(val numPartitions: Int) extends Partitioner {
    require(numPartitions > 0)
    override def getPartition(key: Any): Int = {
      val h = keyOf(key.asInstanceOf[String]).hashCode
      val m = h % numPartitions
      if (m < 0) m + numPartitions else m
    }
    override def equals(other: Any): Boolean = other match {
      case p: KeyPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** Map stage: spread lines over `numMappers` tasks and pipe each
    * partition through the mapper executable (flatMap semantics — the
    * executable emits 0..n output lines per input line, exactly the
    * reference's `new_worker_task` contract). Input that already has
    * `numMappers` splits is used as it is and more splits are merged
    * without a shuffle; only fewer splits are shuffled out. */
  def mapStage(lines: RDD[String], mapperCmd: Seq[String], numMappers: Int): RDD[String] = {
    val splits = lines.getNumPartitions
    val tasks =
      if (numMappers <= 0 || splits == numMappers) lines
      else if (splits > numMappers) lines.coalesce(numMappers)
      else lines.repartition(numMappers)
    if (mapperCmd.isEmpty) tasks else tasks.pipe(mapperCmd)
  }

  /** Group stage (intent semantics): shuffle lines so every line with the
    * same tab-key lands in one of `numReducers` partitions, each partition
    * sorted by whole line — duplicate keys adjacent, reference's reduce
    * input contract. One Spark shuffle replaces sort tasks + master merge. */
  def groupStage(mapped: RDD[String], numReducers: Int): RDD[String] =
    mapped.map(l => (l, null: Null))
      .repartitionAndSortWithinPartitions(new KeyPartitioner(numReducers))
      .map(_._1)

  /** Fidelity variant of the group stage: the reference assigns the i-th
    * *distinct line* (not key!) of the merged sort order to partition
    * i % numReducers (`master/__main__.py:397-406`). Needs a global dense
    * rank — implemented as sort → zipWithIndex over distinct lines, then a
    * join back; strictly more expensive, kept only for golden-file parity. */
  def groupStageFidelity(mapped: RDD[String], numReducers: Int): RDD[String] = {
    val ranked = mapped.distinct().sortBy(identity)
      .zipWithIndex()
      .map { case (line, idx) => (line, (idx % numReducers).toInt) }
    mapped.map(l => (l, null: Null))
      .join(ranked.map { case (l, p) => (l, p) })
      .map { case (line, (_, p)) => ((p, line), null: Null) }
      .repartitionAndSortWithinPartitions(new ExactPartitioner(numReducers))
      .map(_._1._2)
  }

  /** Routes by the pre-computed partition id; the (id, line) composite key
    * keeps each partition line-sorted through the shuffle. */
  private final class ExactPartitioner(val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[(Int, String)]._1
  }

  /** Reduce stage: pipe each sorted partition through the reducer. */
  def reduceStage(grouped: RDD[String], reducerCmd: Seq[String]): RDD[String] =
    if (reducerCmd.isEmpty) grouped else grouped.pipe(reducerCmd)

  /** Full pipeline over in-memory/line RDD input. */
  def runLines(lines: RDD[String], spec: JobSpec): RDD[String] = {
    val mapped = mapStage(lines, spec.mapperCmd, spec.numMappers)
    val grouped =
      if (spec.fidelityPartitioning) groupStageFidelity(mapped, spec.numReducers)
      else groupStage(mapped, spec.numReducers)
    reduceStage(grouped, spec.reducerCmd)
  }

  /** Full pipeline over a directory of line files, writing
    * `outputfile01..NN` like the reference's output commit
    * (`master/__main__.py:448-463`) but through a temp dir + atomic rename
    * (the reference's copy scheme was non-atomic — SURVEY.md Q6). */
  def run(spark: SparkSession, spec: JobSpec): Unit = {
    require(spec.inputDir.nonEmpty && spec.outputDir.nonEmpty)
    // Per-file fidelity map stage (SURVEY Q4/O2): one subprocess per input
    // file with per-file output naming, striped over tasks exactly like
    // the reference's map-task planner; its outputs then feed the same
    // group/reduce pipeline. Default row-level mode needs no staged dir.
    val mapTmp =
      if (spec.perFileMap && spec.mapperCmd.nonEmpty)
        Some(spec.outputDir + ".map-" + java.util.UUID.randomUUID().toString.take(8))
      else None
    val out = mapTmp match {
      case Some(dir) =>
        PerFileJob.pipeDirectory(spark, spec.inputDir, spec.mapperCmd, dir, spec.numMappers)
        val mapped = spark.sparkContext.textFile(dir, math.max(spec.numMappers, 1))
        val grouped =
          if (spec.fidelityPartitioning) groupStageFidelity(mapped, spec.numReducers)
          else groupStage(mapped, spec.numReducers)
        reduceStage(grouped, spec.reducerCmd)
      case None =>
        val lines = spark.sparkContext.textFile(spec.inputDir, math.max(spec.numMappers, 1))
        runLines(lines, spec)
    }
    val tmp = spec.outputDir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    out.saveAsTextFile(tmp)
    // Commit through the Hadoop FileSystem API so outputDir may live on
    // any supported filesystem (HDFS, S3A, file:, ...) — java.io.File
    // only works when the driver shares a local FS with the data, which
    // is never true on a real cluster.
    import org.apache.hadoop.fs.Path
    val tmpPath = new Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      // local file: URIs resolve to the checksummed LocalFileSystem, whose
      // rename would drag .crc sidecars into the user-visible output dir;
      // commit through the raw FS (HDFS/S3A are unaffected by this match)
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
      case other => other
    }
    val outPath = fs.makeQualified(new Path(spec.outputDir))
    fs.mkdirs(outPath)
    val parts = fs.listStatus(tmpPath)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    parts.zipWithIndex.foreach { case (st, i) =>
      val target = new Path(outPath, f"outputfile${i + 1}%02d")
      if (fs.exists(target)) fs.delete(target, false)
      if (!fs.rename(st.getPath, target))
        throw new java.io.IOException(s"rename ${st.getPath} -> $target failed")
    }
    fs.delete(tmpPath, true)
    mapTmp.foreach(d => fs.delete(new Path(d), true))
  }
}

/** Job spec mirroring the reference's `new_master_job` message fields
  * (`mapreduce/submit.py:59-67`): input/output dirs, mapper/reducer
  * executables, mapper/reducer parallelism. */
case class JobSpec(
    mapperCmd: Seq[String],
    reducerCmd: Seq[String],
    numMappers: Int = 4,
    numReducers: Int = 1,
    inputDir: String = "",
    outputDir: String = "",
    fidelityPartitioning: Boolean = false,
    perFileMap: Boolean = false)

object JobSpec {
  /** Parses the reference's `new_master_job` JSON message
    * (`mapreduce/submit.py:59-67`): input_directory, output_directory,
    * mapper_executable, reducer_executable, num_mappers, num_reducers.
    * Executables run under `sh -c`, so argv-bearing commands work (the
    * reference's grep mapper takes CLI args, `grep_map.py:14-17`). */
  def fromJson(json: String): JobSpec = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val jv = JsonMethods.parse(json)
    def str(field: String, default: String = ""): String =
      (jv \ field) match { case JString(v) => v; case _ => default }
    def num(field: String, default: Int): Int =
      (jv \ field) match {
        case JInt(v) => v.toInt
        case JLong(v) => v.toInt
        case _ => default
      }
    val mt = str("message_type", "new_master_job")
    require(mt == "new_master_job", s"unsupported message_type: $mt")
    JobSpec(
      mapperCmd = Option(str("mapper_executable")).filter(_.nonEmpty)
        .map(e => Seq("sh", "-c", e)).getOrElse(Seq.empty),
      reducerCmd = Option(str("reducer_executable")).filter(_.nonEmpty)
        .map(e => Seq("sh", "-c", e)).getOrElse(Seq.empty),
      numMappers = num("num_mappers", 4),
      numReducers = num("num_reducers", 1),
      inputDir = str("input_directory"),
      outputDir = str("output_directory"))
  }
}
