package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Bucket-WITHIN-partition layout
  * ([[SnapshotTable.commitPartitionedBucketed]] — Iceberg's
  * partition + bucket-transform shape) and partition EVOLUTION
  * ([[SnapshotTable.relayout]]). The production event-store query this
  * exists for: restrict to one partition (directory pruning), join on
  * the bucket key (exchange-free) — both must hold in the SAME scan,
  * and results must equal the plain evaluation exactly (a mis-stamped
  * bucket id silently drops join rows; a mis-filed partition value
  * skews one group). */
class SnapshotPartBucketSpec extends GraftSpec {

  private def noAqe[T](f: => T): T = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Executes `df` and returns (rows, files actually scanned). */
  private def filesScanned(df: DataFrame): (Long, Long) = {
    val n = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (n, plan.collect { case f: FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum)
  }

  private def src(n: Long): DataFrame =
    spark.range(0, n).select(col("id"),
      concat(lit("g"), (col("id") % 4).cast("string")).as("grp"),
      (col("id") * 3).as("v"))

  test("partitioned+bucketed: directory pruning and exchange-free join compose") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb1-").toString
    val ta = s"$dir/a"
    val tb = s"$dir/b"
    SnapshotTable.commitPartitionedBucketed(spark, ta, src(1000),
      partitionBy = Seq("grp"), nBuckets = 8, bucketCol = "id")
    SnapshotTable.commitPartitionedBucketed(spark, tb,
      src(1600).withColumnRenamed("v", "w"),
      partitionBy = Seq("grp"), nBuckets = 8, bucketCol = "id")
    val ra = SnapshotTable.readAsOf(spark, ta, 1)
    val rb = SnapshotTable.readAsOf(spark, tb, 1)
    // full read round-trips: partition values reconstructed, no row lost
    assert(ra.count() == 1000)
    assert(ra.agg(sum(col("v"))).head().getLong(0) ==
      (0L until 1000L).map(_ * 3).sum)
    // directory pruning: one of four partitions == 1/4 of the rows, and
    // at most 8 (bucket) files scanned out of ~32
    val (n1, f1) = filesScanned(ra.filter(col("grp") === "g1"))
    assert(n1 == 250 && f1 <= 8, s"one partition scanned $f1 files")
    noAqe {
      // the flagship plan: prune to one partition on BOTH sides, join
      // on the bucket key — no Exchange anywhere. (Join on the bucket
      // key ALONE: under requireAllClusterKeysForCoPartition, extra
      // join keys beyond the bucket column re-shuffle by design.)
      val j = ra.filter(col("grp") === "g2")
        .join(rb.filter(col("grp") === "g2").drop("grp"), Seq("id"))
      val plan = planOf(j)
      assert(!plan.contains("Exchange"),
        s"pruned bucketed join still shuffles:\n${plan.take(1500)}")
      // exact results vs the recomputed truth: ids ≡ 2 (mod 4) in both
      assert(j.count() == 250)
      // whole-table join on the bucket key: also exchange-free
      val jAll = ra.join(rb, Seq("id"))
      assert(!planOf(jAll).contains("Exchange"))
      assert(jAll.count() == 1000)
      assert(jAll.agg(sum(col("w"))).head().getLong(0) ==
        (0L until 1000L).map(_ * 3).sum)
    }
  }

  test("appends must keep both layout halves; plain append degrades bucket only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb2-").toString
    val t = s"$dir/t"
    SnapshotTable.commitPartitionedBucketed(spark, t,
      src(400).filter(col("id") % 2 === 0),
      partitionBy = Seq("grp"), nBuckets = 4, bucketCol = "id")
    // matching append composes
    SnapshotTable.commitPartitionedBucketed(spark, t,
      src(400).filter(col("id") % 2 === 1),
      partitionBy = Seq("grp"), nBuckets = 4, bucketCol = "id")
    val r = SnapshotTable.readAsOf(spark, t, 2)
    assert(r.count() == 400)
    noAqe {
      assert(!planOf(r.groupBy(col("id")).count()).contains("Exchange"))
    }
    // a different bucket spec is refused
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitionedBucketed(spark, t, src(10),
        partitionBy = Seq("grp"), nBuckets = 8, bucketCol = "id")
    }
    // a different partition layout is refused
    intercept[IllegalArgumentException] {
      SnapshotTable.commitBucketed(spark, t, src(10),
        overwrite = false, nBuckets = 4, bucketCol = "id")
    }
    // a PLAIN partitioned append keeps the directories, degrades bucket
    SnapshotTable.commitPartitioned(spark, t, src(500)
      .filter(col("id") >= 400), "grp")
    val r3 = SnapshotTable.readAsOf(spark, t, 3)
    assert(r3.count() == 500)
    noAqe {
      assert(planOf(r3.groupBy(col("id")).count()).contains("Exchange"),
        "degraded table must not claim bucket partitioning")
    }
    // ...and the pre-degrade version still serves buckets (time travel
    // keeps per-version layout)
    noAqe {
      assert(!planOf(SnapshotTable.readAsOf(spark, t, 2)
        .groupBy(col("id")).count()).contains("Exchange"))
    }
    // bucketing on a partition column is refused outright
    intercept[IllegalArgumentException] {
      SnapshotTable.commitPartitionedBucketed(spark, s"$dir/t2", src(10),
        partitionBy = Seq("grp"), nBuckets = 4, bucketCol = "grp")
    }
  }

  test("bucket pruning: an equality on the bucket column reads one bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb4-").toString
    val t = s"$dir/t"
    SnapshotTable.commitPartitionedBucketed(spark, t, src(1000),
      partitionBy = Seq("grp"), nBuckets = 8, bucketCol = "id")
    val r = SnapshotTable.readAsOf(spark, t, 1)
    noAqe {
      // Spark's bucket pruning composes with the declared BucketSpec:
      // the scan keeps 1 of 8 buckets for an equality probe (directory
      // pruning on grp already cut 3/4 of the files before that). The
      // aggregate forces a bucketed scan (plain filters alone let the
      // planner disable bucketing as "unnecessary").
      val probe = r.filter(col("id") === 417 && col("grp") === "g1")
        .groupBy(col("id")).count()
      val plan = planOf(probe)
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing:\n${plan.take(1200)}")
      assert(probe.collect().map(_.getLong(1)).toSeq == Seq(1L))
    }
  }

  test("sorted bucket scans: a fresh bucketed join skips Sort as well as Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb5-").toString
    val ta = s"$dir/a"
    val tb = s"$dir/b"
    SnapshotTable.commitBucketed(spark, ta,
      spark.range(0, 500).select(col("id"), (col("id") * 2).as("va")),
      overwrite = false, nBuckets = 4, bucketCol = "id")
    SnapshotTable.commitBucketed(spark, tb,
      spark.range(250, 750).select(col("id"), (col("id") % 5).as("vb")),
      overwrite = false, nBuckets = 4, bucketCol = "id")
    // Spark gates bucketed-scan output ordering behind this conf
    // (planning must count files per bucket); the manifest-declared
    // sortColumnNames are what make enabling it pay off
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try noAqe {
      // one file per bucket (fresh commit, writer sorts each bucket by
      // the bucket column): the scan reports its ordering, so SMJ needs
      // neither Exchange NOR Sort
      val j = SnapshotTable.readAsOf(spark, ta, 1)
        .join(SnapshotTable.readAsOf(spark, tb, 1), "id")
      val plan = planOf(j)
      assert(!plan.contains("Exchange"), s"shuffled:\n${plan.take(1200)}")
      assert(!plan.contains(" Sort ["),
        s"sorted bucket scan not used:\n${plan.take(1200)}")
      assert(j.count() == 250)
      // an append makes 2 files per bucket: Spark falls back to sorting
      // (correctness over the stale ordering claim) but keeps buckets
      SnapshotTable.commitBucketed(spark, ta,
        spark.range(500, 600).select(col("id"), (col("id") * 2).as("va")),
        overwrite = false, nBuckets = 4, bucketCol = "id")
      val j2 = SnapshotTable.readAsOf(spark, ta, 2)
        .join(SnapshotTable.readAsOf(spark, tb, 1), "id")
      val plan2 = planOf(j2)
      assert(!plan2.contains("Exchange"))
      assert(plan2.contains(" Sort ["),
        "multi-file buckets must re-sort — the ordering claim would be stale")
      assert(j2.count() == 350)
      // and within ONE pruned partition of a partitioned+bucketed
      // table, each bucket is one file — ordering serves there too
      val tp = s"$dir/p"
      SnapshotTable.commitPartitionedBucketed(spark, tp, src(800),
        partitionBy = Seq("grp"), nBuckets = 4, bucketCol = "id")
      val rp = SnapshotTable.readAsOf(spark, tp, 1)
      val j3 = rp.filter(col("grp") === "g1")
        .join(SnapshotTable.readAsOf(spark, tb, 1), "id")
      val plan3 = planOf(j3)
      assert(!plan3.contains("Exchange"))
      assert(!plan3.contains(" Sort ["),
        s"pruned partition should serve sorted buckets:\n${plan3.take(1200)}")
      assert(j3.count() == 125) // ids 250..749 with id%4==1: 125
    } finally spark.conf.set(
      "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
  }

  test("dynamic partition pruning composes with the partitioned FileIndex") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pb6-").toString
    val t = s"$dir/fact"
    SnapshotTable.commitPartitioned(spark, t, src(1000), "grp")
    val fact = SnapshotTable.readAsOf(spark, t, 1)
    val totalFiles = filesScanned(fact)._2
    assert(totalFiles >= 4)
    // a selective dim: only one partition's key survives its filter —
    // Spark's DPP feeds the broadcast result back into the fact scan's
    // partition filters AT EXECUTION; the manifest FileIndex must
    // evaluate that runtime filter (or, if it ever can't, keep all
    // directories — correctness either way, pruning asserted here)
    // the dim must be a real scan (a literal local Seq constant-folds
    // into a LocalRelation, and DPP looks for a selective filter over
    // a scan)
    val dimT = s"$dir/dim"
    SnapshotTable.commit(spark, dimT,
      Seq(("g1", 1), ("g2", 2), ("g3", 3)).toDF("grp", "rank"),
      overwrite = false)
    val dim = SnapshotTable.readAsOf(spark, dimT, 1)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val j = fact.join(dim.filter(col("rank") === 1), Seq("grp"))
      val n = j.collect().length
      assert(n == 250, s"join rows $n")
      val plan = j.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruning"),
        s"no DPP filter planted:\n${plan.toString.take(1200)}")
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.toString.contains("PartitionedManifestFileIndex") => f }
      assert(scans.nonEmpty, "fact scan not found")
      val scanned = scans.map(_.metrics("numFiles").value).sum
      assert(scanned < totalFiles,
        s"DPP did not prune: scanned $scanned of $totalFiles files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("compactBuckets packs multi-file buckets back to one sorted file each") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pb8-").toString
    val t = s"$dir/t"
    // three appends: every bucket accumulates 3 files
    (0 until 3).foreach { k =>
      SnapshotTable.commitBucketed(spark, t,
        spark.range(k * 200, (k + 1) * 200)
          .select(col("id"), (col("id") * 7).as("v")),
        overwrite = false, nBuckets = 4, bucketCol = "id")
    }
    assert(SnapshotTable.readAsOf(spark, t, 3).inputFiles.length == 12)
    val v4 = SnapshotTable.compactBuckets(spark, t)
    assert(v4.contains(4))
    val packed = SnapshotTable.readAsOf(spark, t, 4)
    assert(packed.inputFiles.length == 4, "one file per bucket")
    // rows identical; bucket routing intact (exchange-free join result
    // parity is the crux — a row in the wrong bucket silently drops)
    assert(packed.count() == 600)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try noAqe {
      val j = packed.join(
        SnapshotTable.readAsOf(spark, t, 4).withColumnRenamed("v", "w"), "id")
      val plan = planOf(j)
      assert(!plan.contains("Exchange"))
      assert(!plan.contains(" Sort ["),
        "packing must restore sorted single-file buckets")
      assert(j.count() == 600)
      assert(j.agg(sum(col("w"))).head().getLong(0) ==
        (0L until 600L).map(_ * 7).sum)
    } finally spark.conf.set(
      "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    // idempotent: nothing left to pack
    assert(SnapshotTable.compactBuckets(spark, t).isEmpty)
    // history intact; superseded files reclaimed by vacuum
    assert(SnapshotTable.readAsOf(spark, t, 3).count() == 600)
    val st = SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(st.deletedDataFiles >= 12,
      s"vacuum should reclaim the packed-away files, got $st")
    assert(SnapshotTable.readAsOf(spark, t, 4).count() == 600)
    // per-partition × per-bucket on the combined layout
    val tp = s"$dir/p"
    (0 until 2).foreach { k =>
      SnapshotTable.commitPartitionedBucketed(spark, tp,
        src(800).filter(col("id") >= k * 400 && col("id") < (k + 1) * 400),
        partitionBy = Seq("grp"), nBuckets = 4, bucketCol = "id")
    }
    val before = SnapshotTable.readAsOf(spark, tp, 2).inputFiles.length
    val vp = SnapshotTable.compactBuckets(spark, tp)
    assert(vp.contains(3))
    val packedP = SnapshotTable.readAsOf(spark, tp, 3)
    assert(packedP.inputFiles.length < before)
    assert(packedP.inputFiles.forall(_.contains("/grp=")),
      "packed files must stay inside their hive directories")
    assert(packedP.count() == 800)
    val (n1, f1) = filesScanned(packedP.filter(col("grp") === "g1"))
    assert(n1 == 200 && f1 <= 4, s"pruned partition scanned $f1 files")
    // a concurrent overwrite in the race window aborts the pack
    SnapshotTable.commitBucketed(spark, t,
      spark.range(0, 50).select(col("id"), (col("id") * 7).as("v")),
      overwrite = false, nBuckets = 4, bucketCol = "id") // fragment again
    SnapshotTable.beforePublishHook = () =>
      SnapshotTable.commit(spark, t, Seq((1L, 2L)).toDF("id", "v"),
        overwrite = true)
    try assert(SnapshotTable.compactBuckets(spark, t).isEmpty,
      "pack must abort when its inputs were rewritten")
    finally SnapshotTable.beforePublishHook = () => ()
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() == 1)
  }

  test("relayout re-plans over a concurrent append instead of erasing it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pb7-").toString
    val t = s"$dir/t"
    SnapshotTable.commit(spark, t, src(200), overwrite = false)
    // ONE-SHOT injected append in relayout's race window (between its
    // rewrite and its publish): the first publish attempt must abort,
    // the re-plan must pick the new rows up
    var fired = false
    SnapshotTable.beforePublishHook = () => if (!fired) {
      fired = true
      SnapshotTable.commit(spark, t,
        src(201).filter(col("id") === 200), overwrite = false)
    }
    try {
      val v = SnapshotTable.relayout(spark, t, partitionBy = Seq("grp"))
      assert(fired)
      assert(v == 3, s"append (v2) then relayout (v3), got v$v")
    } finally SnapshotTable.beforePublishHook = () => ()
    val after = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(after.count() == 201,
      "the concurrently appended row must survive the relayout")
    assert(after.filter(col("id") === 200).count() == 1)
  }

  test("relayout re-plans over a concurrent ADD COLUMN instead of losing it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb8-").toString
    val t = s"$dir/t"
    SnapshotTable.commit(spark, t, src(200), overwrite = false)
    // a schema-only commit in relayout's race window: the rewrite read
    // the old schema, so publishing it would drop the new column
    var fired = false
    SnapshotTable.beforePublishHook = () => if (!fired) {
      fired = true
      SnapshotTable.addColumn(spark, t, "extra",
        org.apache.spark.sql.types.StringType)
    }
    try {
      val v = SnapshotTable.relayout(spark, t, partitionBy = Seq("grp"))
      assert(fired)
      assert(v == 3, s"addColumn (v2) then relayout (v3), got v$v")
    } finally SnapshotTable.beforePublishHook = () => ()
    val after = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(after.columns.toSeq == Seq("id", "grp", "v", "extra"))
    assert(after.count() == 200)
    assert(after.filter(col("extra").isNotNull).count() == 0)
  }

  test("relayout re-plans over a concurrent DROP COLUMN instead of undoing it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb9-").toString
    val t = s"$dir/t"
    SnapshotTable.commit(spark, t,
      src(200).withColumn("secret", col("id") * 7), overwrite = false)
    var fired = false
    SnapshotTable.beforePublishHook = () => if (!fired) {
      fired = true
      SnapshotTable.dropColumn(spark, t, "secret")
    }
    try {
      val v = SnapshotTable.relayout(spark, t, partitionBy = Seq("grp"))
      assert(fired)
      assert(v == 3, s"dropColumn (v2) then relayout (v3), got v$v")
    } finally SnapshotTable.beforePublishHook = () => ()
    val after = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(after.columns.toSeq == Seq("id", "grp", "v"),
      "the dropped column must stay dropped")
    assert(after.count() == 200)
  }

  test("relayout keeps the declared Bloom: a point probe scans one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb10-").toString
    val t = s"$dir/t"
    SnapshotTable.commit(spark, t, src(400).repartition(2), overwrite = false)
    SnapshotTable.setBloomColumns(spark, t, Seq("id"))
    SnapshotTable.relayout(spark, t, partitionBy = Seq("grp"))
    val now = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    // one file per grp directory, each spanning (almost) the whole id
    // range — zone maps keep all four for an in-range probe; only the
    // Bloom the rewrite recollected refutes the other three
    assert(filesScanned(now)._2 == 4)
    assert(filesScanned(now.filter(col("id") === 201L)) == ((1L, 1L)))
  }

  test("relayout: flat -> partitioned preserves rows and history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pb3-").toString
    val t = s"$dir/t"
    SnapshotTable.commit(spark, t, src(800), overwrite = false) // v1 flat
    // a MOR delete rides along and must be absorbed by the rewrite
    SnapshotTable.deleteWhere(spark, t, col("id") < 40)        // v2
    val v3 = SnapshotTable.relayout(spark, t, partitionBy = Seq("grp"))
    assert(v3 == 3)
    val now = SnapshotTable.readAsOf(spark, t, v3)
    assert(now.count() == 760)
    assert(now.agg(sum(col("v"))).head().getLong(0) ==
      (40L until 800L).map(_ * 3).sum)
    // the new layout prunes directories
    val (n1, f1) = filesScanned(now.filter(col("grp") === "g3"))
    assert(n1 == 190 && f1 > 0)
    val allFiles = filesScanned(now)._2
    assert(f1 < allFiles, s"pruned $f1 vs total $allFiles")
    // time travel: v1 still reads the FLAT layout with all 800 rows
    assert(SnapshotTable.readAsOf(spark, t, 1).count() == 800)
    // and v2 the flat-with-dels state
    assert(SnapshotTable.readAsOf(spark, t, 2).count() == 760)
    // relayout again: partitioned -> partitioned+bucketed
    val v4 = SnapshotTable.relayout(spark, t, partitionBy = Seq("grp"),
      bucketBy = Some((4, "id")))
    val r4 = SnapshotTable.readAsOf(spark, t, v4)
    assert(r4.count() == 760)
    noAqe {
      assert(!planOf(r4.groupBy(col("id")).count()).contains("Exchange"))
    }
    // and back to flat
    val v5 = SnapshotTable.relayout(spark, t)
    assert(SnapshotTable.readAsOf(spark, t, v5).count() == 760)
  }
}
