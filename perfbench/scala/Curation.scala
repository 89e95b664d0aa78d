package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{DedupOps, GraphOps}

/** `curation_dedup`: one op is one curation pipeline over a fresh seeded
  * document shard in its own directory — exact groups, MinHash pairs,
  * connected components, survivors, and a k-core pass over the near-dup
  * graph — followed by `CacheRegistry.clear`, which the memo (keyed on
  * path and data version) needs at a round boundary or it would pin
  * every shard. Operators share the memoized intermediates within the
  * round. No `sources` work. A pipeline costs ~75 Spark jobs, so shards
  * are small and a run holds few ops. The op time keeps falling over
  * the first pipelines of a JVM while the JIT compiles Spark's planning
  * code, so three warm-up ops precede them. */
object Curation extends Workload {
  val DocsPerShard = 300
  val ExactGroups = 8
  val NearDups = 30
  def ops(seconds: Int): Int = math.max(1, seconds * 2 / 15)
  def warmup: Seq[Int] = 0 until 3

  val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def generate(ctx: Ctx, dir: String, nOps: Int): (() => Instance, String) = {
    val dg = new Gen.Digest
    val shards = (0 until nOps).map { i =>
      val (docs, groups) = Gen.documents(ctx.seed, i, DocsPerShard, ExactGroups, NearDups)
      docs.foreach(d => dg.add(d.productIterator.toSeq: _*))
      val path = s"$dir/shard$i"
      ctx.spark.createDataFrame(java.util.Arrays.asList(docs.map(d =>
        Row(d.docId, d.text, d.lang, d.source, d.nChars)): _*), schema)
        .coalesce(1).write.parquet(s"$path/documents.parquet")
      (path, docs, groups)
    }
    (() => new CurationInstance(ctx, shards), dg.hex)
  }
}

final class CurationInstance(ctx: Ctx,
    shards: Seq[(String, IndexedSeq[Gen.Doc], Seq[Set[Long]])]) extends Instance {
  private val s = ctx.spark
  private val t = ctx.trace
  private val exact = mutable.Map.empty[Int, Array[Row]]
  private var candidates = 0L
  private var verified = 0L
  private var persistedPeak = 0L
  private var persistentRdds = 0L

  /** Builds the operator's frame (inside the call: eager checkpoints),
    * then runs its action. */
  private def step[T](name: String)(build: => DataFrame)(action: DataFrame => T): T = {
    val df = t.span("operators", s"$name.build")(build)
    t.span("operators", s"$name.action")(action(df))
  }

  def op(i: Int): Unit = {
    val d = shards(i)._1
    exact(i) = step("exact_groups")(DedupOps.exactGroups(s, d))(_.collect())
    val pairs = step("minhash_pairs")(DedupOps.minhashPairs(s, d)) { df =>
      val rows = df.collect()
      if (t.enabled) candidates += joinOutputRows(df)
      rows
    }
    verified += pairs.length
    step("components")(DedupOps.connectedComponents(s, d))(_.count())
    step("survivors")(DedupOps.dedupSurvivors(s, d))(_.collect())
    val edges = s.createDataFrame(java.util.Arrays.asList(
      pairs.map(r => Row(r.getLong(0), r.getLong(1))).toIndexedSeq: _*),
      StructType(Seq(StructField("u", LongType), StructField("v", LongType))))
    step("kcore")(GraphOps.kcoreEdges(edges, 2))(_.count())
    if (t.enabled) {
      val infos = s.sparkContext.getRDDStorageInfo
      persistedPeak = math.max(persistedPeak, infos.map(x => x.memSize + x.diskSize).sum)
      persistentRdds += s.sparkContext.getPersistentRDDs.size
    }
    t.span("cache", "clear")(graft.CacheRegistry.clear(s))
  }

  /** Rows out of the candidate band join (the join node's output-row
    * metric): pairs considered before the Jaccard estimate filter. */
  private def joinOutputRows(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec,
      ShuffledHashJoinExec}
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.finalPhysicalPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case j @ (_: SortMergeJoinExec | _: BroadcastHashJoinExec | _: ShuffledHashJoinExec)
          if j.output.exists(_.name == "doc_a") || j.output.exists(_.name == "doc_b") =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) + j.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  override def layerMetrics(): Map[String, Double] = {
    val n = math.max(1, exact.size)
    Map(
      "operators.build_s" -> t.spans.filter(sp => sp.op >= 0 && sp.layer == "operators" &&
        sp.name.endsWith(".build")).map(sp => (sp.endNs - sp.startNs) / 1e9).sum / n,
      "operators.action_s" -> t.spans.filter(sp => sp.op >= 0 && sp.layer == "operators" &&
        sp.name.endsWith(".action")).map(sp => (sp.endNs - sp.startNs) / 1e9).sum / n,
      "operators.candidate_pairs" -> candidates.toDouble,
      "operators.pair_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "cache.persisted_bytes_peak" -> persistedPeak.toDouble,
      "cache.persistent_rdds" -> persistentRdds.toDouble,
      "cache.clear_ms" -> t.spanSeconds("cache.clear") * 1000 / n)
  }

  /** Every planted exact-duplicate group must come back as one group with
    * the right size and survivor. The reference adds the operator's own
    * documented planting (every 97th doc re-appended under id + 1e12). */
  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    exact.toSeq.sortBy(_._1).foreach { case (i, rows) =>
      val docs = shards(i)._2
      val found = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val md5 = java.security.MessageDigest.getInstance("MD5")
      def fp(text: String) = md5.digest(text.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      val all = docs.map(d => (d.docId, d.text)) ++
        docs.filter(_.docId % 97 == 0).map(d => (d.docId + 1000000000000L, d.text))
      val expected = all.groupBy(x => fp(x._2)).collect {
        case (f, xs) if xs.size > 1 => f -> (xs.size.toLong, xs.map(_._1).min)
      }
      shards(i)._3.foreach { g =>
        val f = fp(docs.find(_.docId == g.head).get.text)
        if (!found.get(f).exists(_._1 >= g.size))
          errs += s"shard $i: planted group ${g.toSeq.sorted} not found"
      }
      if (found != expected)
        errs += s"shard $i: exact groups differ from the reference (${found.size} vs ${expected.size})"
    }
    errs.toSeq
  }
}
