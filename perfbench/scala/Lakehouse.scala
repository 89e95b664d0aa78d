package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.SnapshotTable

/** `lakehouse_cdc`: one op is one CDC round of identical shape on a
  * hive-partitioned source table with a Bloom column — append into a new
  * day partition, a merge of upserts skewed toward recent partitions, a
  * `deleteWhere` (plus the `absorbDeletes` that keeps the partitioned
  * table mergeable), one keyed `GRAFT FOLLOW` of those versions into a
  * mirror, one pruned read of the mirror, one `readAsOf` aggregate of
  * the source, and maintenance (compact, analyze, vacuum). A round costs
  * ~40 Spark jobs, so a run affords only a few; maintenance therefore
  * runs in every round, which keeps the ops one population and puts
  * its cost in every figure, the tail included. Warm-up runs one round. */
object Lakehouse extends Workload {
  val Days0 = 4
  val RowsPerDay0 = 100
  val AppendRows = 100
  val UpsertRows = 90
  def ops(seconds: Int): Int = math.max(1, seconds / 5)
  def warmup: Seq[Int] = Seq(0)

  val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("day", IntegerType, nullable = false),
    StructField("partkey", LongType), StructField("qty", LongType),
    StructField("price_cents", LongType), StructField("flag", StringType)))

  def rows(s: SparkSession, ls: Seq[Gen.Line]): DataFrame = s.createDataFrame(
    java.util.Arrays.asList(ls.map(l =>
      Row(l.k, l.day, l.partkey, l.qty, l.priceCents, l.flag)): _*), schema)

  def generate(ctx: Ctx, dir: String, nOps: Int): (() => Instance, String) = {
    val r = Gen.rng(ctx.seed, "lineitem")
    val initial = for (d <- 0 until Days0; i <- 0 until RowsPerDay0)
      yield Gen.line(r, d.toLong * RowsPerDay0 + i, d)
    val dg = new Gen.Digest
    initial.foreach(l => dg.add(l.productIterator.toSeq: _*))
    // the rounds' inputs are drawn by the instance from the same seed
    // stream, so they are part of the digest too: replay them here
    val plan = new RoundPlan(ctx.seed, initial)
    (0 until nOps).foreach(i => plan.round(i).digestInto(dg))
    (() => new LakehouseInstance(ctx, dir, initial), dg.hex)
  }

  final case class Round(append: Seq[Gen.Line], upserts: Seq[Gen.Line],
      delDay: Int, delMod: Int) {
    def digestInto(d: Gen.Digest): Unit = {
      append.foreach(l => d.add(l.productIterator.toSeq: _*))
      upserts.foreach(l => d.add(l.productIterator.toSeq: _*))
      d.add(delDay, delMod)
    }
  }

  /** The seeded round inputs and the row model they imply: live rows by
    * key. The skew toward recent partitions is fixed, so every seed
    * touches the same partitions: two thirds of the upsert keys come from
    * the current day, one third from the day before, and the delete
    * takes one key residue class of the day before. */
  final class RoundPlan(seed: Long, initial: Seq[Gen.Line]) {
    val live = mutable.LongMap.empty[Gen.Line]
    initial.foreach(l => live(l.k) = l)
    private var nextKey = initial.size.toLong
    /** Every key ever created, by day (deleted ones come back as inserts). */
    private val keysOf = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    initial.foreach(l => keysOf.getOrElseUpdate(l.day, mutable.ArrayBuffer.empty) += l.k)

    def round(i: Int): Round = {
      val r = Gen.rng(seed, "round", i)
      val day = Days0 + i
      val append = (0 until AppendRows).map(j => Gen.line(r, nextKey + j, day))
      nextKey += AppendRows
      append.foreach { l =>
        live(l.k) = l
        keysOf.getOrElseUpdate(l.day, mutable.ArrayBuffer.empty) += l.k
      }
      val keys = mutable.LinkedHashSet.empty[(Long, Int)]
      for ((d, n) <- Seq(day -> UpsertRows * 2 / 3, (day - 1) -> UpsertRows / 3)) {
        val ks = keysOf(d)
        val before = keys.size
        while (keys.size < before + n) keys += ((ks(r.nextInt(ks.size)), d))
      }
      val upserts = keys.toSeq.map { case (k, d) => Gen.line(r, k, d) }
      upserts.foreach(l => live(l.k) = l)
      val delDay = day - 1
      val delMod = r.nextInt(7)
      val gone = live.valuesIterator.filter(l => l.day == delDay && l.k % 7 == delMod)
        .map(_.k).toList
      gone.foreach(live.remove)
      Round(append, upserts, delDay, delMod)
    }
  }
}

final class LakehouseInstance(ctx: Ctx, dir: String, initial: Seq[Gen.Line])
    extends Instance {
  import Lakehouse._
  private val s = ctx.spark
  private val t = ctx.trace
  private val src = s"$dir/source"
  private val mirror = s"$dir/mirror"
  private val cursor = s"$dir/cursor"
  private val plan = new RoundPlan(ctx.seed, initial)
  private val follow = s"GRAFT FOLLOW '$src' CURSOR '$cursor' INTO '$mirror' KEY (k)"
  private var scanRead = 0L
  private var scanTotal = 0L

  private def sql(q: String): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      new graft.sources.GraftSqlParser(s.sessionState.sqlParser, Some(s)).parsePlan(q))

  // analyze backfills the Bloom filters of the files committed before the
  // declaration, so the first rounds already see the stats that later
  // rounds get from maintenance
  SnapshotTable.commitPartitionedBy(s, src, rows(s, initial), Seq("day"))
  SnapshotTable.setBloomColumns(s, src, Seq("partkey"))
  SnapshotTable.analyze(s, src)
  sql(follow).collect()

  def op(i: Int): Unit = {
    val rd = plan.round(i)
    t.span("sources", "commit.append") {
      SnapshotTable.commitPartitionedBy(s, src, rows(s, rd.append), Seq("day")) }
    val beforeMerge = t.span("sources", "versions") { SnapshotTable.versions(s, src).last }
    t.span("sources", "commit.merge") {
      SnapshotTable.merge(s, src, rows(s, rd.upserts),
        s.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(Seq(StructField("k", LongType)))), "k") }
    t.span("sources", "commit.delete") {
      SnapshotTable.deleteWhere(s, src,
        col("day") === rd.delDay && pmod(col("k"), lit(7L)) === rd.delMod.toLong) }
    t.span("sources", "commit.absorb") { SnapshotTable.absorbDeletes(s, src) }
    t.span("sources", "follow") { sql(follow).collect() }
    val recent = Days0 + i
    val pk = rd.upserts.head.partkey
    t.span("sources", "read.mirror_pruned") {
      val df = SnapshotTable.readAsOf(s, mirror, Int.MaxValue)
        .filter(col("day") === recent && col("partkey") === pk)
        .agg(count(lit(1)), sum(col("price_cents")))
      df.collect()
      if (t.enabled) scanCounts(df)
    }
    t.span("sources", "read.as_of") {
      SnapshotTable.readAsOf(s, src, beforeMerge)
        .groupBy(col("flag")).agg(count(lit(1)), sum(col("price_cents"))).collect()
    }
    t.span("sources", "maintenance.compact") {
      SnapshotTable.compact(s, src, 256L * 1024, 4L * 1024 * 1024) }
    t.span("sources", "maintenance.analyze") { SnapshotTable.analyze(s, src) }
    t.span("sources", "maintenance.vacuum") {
      SnapshotTable.vacuum(s, src, keepVersions = 8)
      SnapshotTable.vacuum(s, mirror, keepVersions = 8)
    }
  }

  /** Files the pruned read's scans opened against the files the
    * snapshot lists (Spark's `numFiles` scan metric vs the relation). */
  private def scanCounts(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      }.flatten
    scans(plan).foreach { f =>
      scanRead += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      scanTotal += f.relation.location.inputFiles.length
    }
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  private def liveBytes(table: String): (Long, Int) = {
    val files = SnapshotTable.readAsOf(s, table, Int.MaxValue).inputFiles
    (files.map(f => new java.io.File(new java.net.URI(f)).length).sum, files.length)
  }

  override def layerMetrics(): Map[String, Double] = {
    val (sb, sn) = liveBytes(src)
    val (mb, mn) = liveBytes(mirror)
    val lat = t.opLatencies
    val n = lat.size
    val k = math.min(10, n / 2)
    val early = lat.take(k).sum / math.max(k, 1)
    val late = lat.takeRight(k).sum / math.max(k, 1)
    val perOp = (x: Double) => x / math.max(n, 1)
    Map(
      "sources.commit_s" -> perOp(t.spanSeconds("sources.commit")),
      "sources.follow_s" -> perOp(t.spanSeconds("sources.follow")),
      "sources.read_s" -> perOp(t.spanSeconds("sources.read")),
      "sources.maintenance_s" -> perOp(t.spanSeconds("sources.maintenance")),
      "sources.scan_files_read" -> scanRead.toDouble,
      "sources.scan_files_total" -> scanTotal.toDouble,
      "sources.prune_ratio" -> (if (scanTotal == 0) 0.0 else 1.0 - scanRead.toDouble / scanTotal),
      "sources.versions_live" ->
        (SnapshotTable.versions(s, src).size + SnapshotTable.versions(s, mirror).size).toDouble,
      "sources.files_live" -> (sn + mn).toDouble,
      "sources.late_early_ratio" -> (if (early > 0) late / early else 0.0),
      "sources.space_amp" -> (dirBytes(src) + dirBytes(mirror)).toDouble / math.max(1L, sb + mb))
  }

  def check(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def rowsOf(table: String) = SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .select("k", "day", "partkey", "qty", "price_cents", "flag").collect()
      .map(r => Gen.Line(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_.k).toSeq
    val srcRows = rowsOf(src)
    val mirRows = rowsOf(mirror)
    if (srcRows != mirRows)
      errs += s"mirror differs from source at latest (${mirRows.size} vs ${srcRows.size} rows)"
    val model = plan.live.values.toSeq.sortBy(_.k)
    if (srcRows.size != model.size || srcRows.map(_.priceCents).sum != model.map(_.priceCents).sum)
      errs += s"source count/sum ${srcRows.size}/${srcRows.map(_.priceCents).sum} != " +
        s"model ${model.size}/${model.map(_.priceCents).sum}"
    else if (srcRows != model) errs += "source rows differ from the generator's model"
    errs.toSeq
  }
}
