package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Partition evolution ([[SnapshotTable.repartitionBy]] / `GRAFT
  * REPARTITION`): a metadata-only scheme change — old files stay
  * readable under their era's layout, new commits land under the new
  * directories, and a partition-pruned query reads a STRICT file
  * subset from EACH era (zone maps on the old, directory pruning on
  * the new). Row-level rewrites refuse on mixed-era tables; relayout
  * unifies. */
class SnapshotPartEvolutionSpec extends GraftSpec {

  private def scannedFiles(df: org.apache.spark.sql.DataFrame,
      rows: Long): Long = {
    assert(df.collect().length == rows)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
  }

  // k-banded slices; b = k % 4 is the future partition column
  private def slice(i: Int) =
    spark.range(i * 100, (i + 1) * 100).select(
      col("id").as("k"), (col("id") % 4).cast("long").as("b"),
      (col("id") * 2).as("v"))

  private def graftSql(sql: String) =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      new GraftSqlParser(spark.sessionState.sqlParser, Some(spark))
        .parsePlan(sql))

  test("each era answers a pruned query with its own strict file subset") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pevo1-").toString
    val t = s"$dir/tbl"
    // era 0: two FLAT k-banded commits (b stored as data, zone-mapped)
    (0 to 1).foreach(i =>
      SnapshotTable.commit(spark, t, slice(i).repartition(1),
        overwrite = false))
    assert(graftSql(s"GRAFT REPARTITION '$t' BY (b)").head().getInt(0) == 3)
    // era 1: one hive commit — four `b=<v>/` directory files
    SnapshotTable.commitPartitionedBy(spark, t, slice(2), Seq("b"))
    val snap = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(snap.count() == 300)
    assert(snap.inputFiles.length == 6) // 2 flat + 4 hive
    // partition-column probe: new era prunes to ONE directory file;
    // old era files straddle b (kept — their zone maps cannot refute)
    assert(scannedFiles(snap.filter(col("b") === 1L), 75) == 3)
    // old-clustered-column probe: old era prunes to the home band via
    // zone maps; every new-era file is refuted by ITS k zone maps
    assert(scannedFiles(snap.filter(col("k") === 50L), 1) == 1)
    // composed: one directory file in the new era (249 % 4 == 1),
    // old-era bands refuted by k
    assert(scannedFiles(
      snap.filter(col("b") === 1L && col("k") === 249L), 1) == 1)
    // the evolved column reads correctly from BOTH storages
    assert(snap.filter(col("b") === 2L).agg(sum(col("k"))).head().getLong(0)
      == (0 until 300).filter(_ % 4 == 2).sum)
  }

  test("append gate, layout-op refusals, relayout unifies") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pevo2-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, slice(0).repartition(1),
      overwrite = false)
    assert(SnapshotTable.repartitionBy(spark, t, Seq("b")) == 2)
    // a FLAT append no longer matches the current scheme
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, t, slice(1), overwrite = false) }
    // whole-table layout/stats ops still refuse while files live
    // under a superseded era (row-level DML no longer does — see the
    // cross-era tests below)
    intercept[IllegalArgumentException] { SnapshotTable.metaAgg(spark, t) }
    assert(SnapshotTable.compact(spark, t, 64L * 1024 * 1024,
      128L * 1024 * 1024).isEmpty)
    assert(SnapshotTable.analyze(spark, t).isEmpty)
    // repartition refusals: same scheme, unknown/unsupported column
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionBy(spark, t, Seq("b")) }
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionBy(spark, t, Seq("nope")) }
    // the new-era commit works; then relayout unifies everything
    SnapshotTable.commitPartitionedBy(spark, t, slice(1), Seq("b"))
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() == 200)
    SnapshotTable.relayout(spark, t, partitionBy = Seq("b"))
    // single current era again: layout ops work, history retired
    assert(SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(999L))).nonEmpty)
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .filter(col("k") === 1L).head().getLong(2) == 999L)
    assert(SnapshotTable.metaAgg(spark, t).count() > 0)
  }

  test("UPDATE across eras rewrites only key-bearing files, lands current-era") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pevo4-").toString
    val t = s"$dir/tbl"
    // era 0 (flat): two k-banded files; era 1 (hive by b): four dirs
    (0 to 1).foreach(i =>
      SnapshotTable.commit(spark, t, slice(i).repartition(1),
        overwrite = false))
    SnapshotTable.repartitionBy(spark, t, Seq("b"))
    SnapshotTable.commitPartitionedBy(spark, t, slice(2), Seq("b"))
    val before = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .inputFiles.toSet
    assert(before.size == 6) // 2 flat + 4 hive
    val slice1File = before.find(p => !p.contains("/b=") && {
      // the era-0 file holding k 100..199 — probe it by reading
      spark.read.parquet(p).agg(min(col("k"))).head().getLong(0) == 100L
    }).get
    // k==50 lives in ONE era-0 file; k==250 in ONE era-1 directory
    // file (250 % 4 == 2) — the cross-era update touches exactly those
    assert(SnapshotTable.updateWhere(spark, t,
      col("k") === 50L || col("k") === 250L,
      Map("v" -> lit(-1L))).nonEmpty)
    val after = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    val afterFiles = after.inputFiles.toSet
    // the untouched era-0 file and 3 untouched hive files carried by
    // reference; the 2 key-bearing files (one per era) were replaced
    assert(afterFiles.contains(slice1File))
    assert((before -- afterFiles).size == 2,
      s"expected exactly 2 rewritten files, got ${(before -- afterFiles).size}")
    // every REWRITTEN file re-landed under the CURRENT hive scheme
    assert((afterFiles -- before).forall(_.contains("/b=")),
      s"rewritten files must land current-era: ${afterFiles -- before}")
    // and the answer is right: both rows updated, nothing else
    assert(after.filter(col("v") === -1L)
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(50L, 250L))
    assert(after.count() == 300)
    assert(after.agg(sum(col("k"))).head().getLong(0)
      == (0 until 300).map(_.toLong).sum)
  }

  test("MOR delete and selective merge work across eras") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pevo5-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, slice(0).repartition(1),
      overwrite = false)
    SnapshotTable.repartitionBy(spark, t, Seq("b"))
    SnapshotTable.commitPartitionedBy(spark, t, slice(1), Seq("b"))
    val files0 = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .inputFiles.toSet
    // MOR delete spanning both eras: vectors only, no file rewritten
    assert(SnapshotTable.deleteWhere(spark, t,
      col("k") === 10L || col("k") === 110L).nonEmpty)
    val snap = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    // data files untouched — the extra inputFiles are the tiny
    // deletion-vector parquets the anti-join leg reads
    assert(snap.inputFiles.filterNot(_.contains("/del-")).toSet == files0)
    assert(snap.count() == 198)
    assert(snap.filter(col("k").isin(10L, 110L)).count() == 0)
    assert(SnapshotTable.rowCount(spark, t, Int.MaxValue).contains(198L))
    // the change feed's DISTRIBUTED carried leg (collect threshold 0)
    // across both eras: positional identity and vectors per era leg
    val vDel = SnapshotTable.versions(spark, t).last
    val savedRows = SnapshotTable.delDiffCollectRows
    try {
      SnapshotTable.delDiffCollectRows = 0L
      assert(SnapshotTable.readChanges(spark, t, vDel - 1, vDel).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("delete", 10L), ("delete", 110L)))
    } finally SnapshotTable.delDiffCollectRows = savedRows
    // absorb the vectors: only the 2 covered files rewritten, each
    // re-landing under the current hive scheme
    assert(SnapshotTable.absorbDeletes(spark, t).nonEmpty)
    val absorbed = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(absorbed.count() == 198)
    assert((absorbed.inputFiles.toSet -- files0).forall(_.contains("/b=")))
    // selective merge across eras: upsert one era-0 key + one era-1
    // key, delete one of each — only key-bearing files rewritten
    val preMerge = absorbed.inputFiles.toSet
    SnapshotTable.merge(spark, t,
      Seq((20L, 0L, -20L), (120L, 0L, -120L)).toDF("k", "b", "v"),
      Seq(30L, 130L).toDF("k"), "k")
    val merged = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(merged.count() == 196)
    assert(merged.filter(col("k").isin(30L, 130L)).count() == 0)
    assert(merged.filter(col("v") === -20L).count() == 1)
    assert(merged.filter(col("v") === -120L).count() == 1)
    assert((merged.inputFiles.toSet -- preMerge).forall(_.contains("/b=")))
  }

  test("cross-era update races a concurrent append: atomic replan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pevo6-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, slice(0).repartition(1),
      overwrite = false)
    SnapshotTable.repartitionBy(spark, t, Seq("b"))
    SnapshotTable.commitPartitionedBy(spark, t, slice(1), Seq("b"))
    // a current-era append lands INSIDE the update's commit window;
    // its rows do NOT match the predicate, so the update must REBASE
    // (keep the racing rows) rather than lose them or double-apply
    @volatile var interleaved = false
    val saved = SnapshotTable.beforePublishHook
    try {
      SnapshotTable.beforePublishHook = () => {
        if (!interleaved) {
          interleaved = true
          SnapshotTable.commitPartitionedBy(spark, t, slice(2), Seq("b"))
        }
      }
      assert(SnapshotTable.updateWhere(spark, t, col("k") === 50L,
        Map("v" -> lit(-1L))).nonEmpty)
    } finally SnapshotTable.beforePublishHook = saved
    val main = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(main.count() == 300, "racing append or update rows lost")
    assert(main.filter(col("v") === -1L)
      .select(col("k")).collect().map(_.getLong(0)).toSeq == Seq(50L))
    assert(main.filter(col("k") >= 200L).count() == 100)
  }

  test("time travel, change feed, and clone cross the scheme change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pevo3-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, slice(0).repartition(1),
      overwrite = false)                                  // v1 flat
    SnapshotTable.repartitionBy(spark, t, Seq("b"))       // v2 evolve
    SnapshotTable.commitPartitionedBy(spark, t, slice(1), Seq("b")) // v3
    // time travel: each version under its own layout
    assert(SnapshotTable.readAsOf(spark, t, 1).count() == 100)
    assert(SnapshotTable.readAsOf(spark, t, 2).count() == 100)
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() == 200)
    // change feed: the repartition itself contributes NOTHING; the
    // spanning range serves each era's files under its own layout
    assert(SnapshotTable.readChanges(spark, t, 1, 2).count() == 0)
    val feed = SnapshotTable.readChanges(spark, t, 1, 3)
    assert(feed.filter(col("change_type") === "insert").count() == 100)
    assert(feed.agg(sum(col("k"))).head().getLong(0)
      == (100 until 200).map(_.toLong).sum)
    val genesis = SnapshotTable.readChanges(spark, t, 0, 3)
    assert(genesis.count() == 200)
    // the snapshot stream source's micro-batch reads each era's added
    // files under its own layout too
    val batch = SnapshotTable.streamBatch(spark, t, 1, 3, ignoreChanges = false)
    assert(batch.count() == 100)
    assert(batch.agg(sum(col("k"))).head().getLong(0)
      == (100 until 200).map(_.toLong).sum)
    assert(SnapshotTable.streamBatch(spark, t, 0, 3, ignoreChanges = false)
      .count() == 200)
    // clone carries the era history (a mixed-era clone stays readable)
    val t2 = s"$dir/clone"
    SnapshotTable.cloneTable(spark, t, t2)
    assert(SnapshotTable.readAsOf(spark, t2, Int.MaxValue).count() == 200)
    // restore to the pre-evolution version: flat era again, plannable
    SnapshotTable.restore(spark, t, 1)
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() == 100)
    assert(SnapshotTable.metaAgg(spark, t).count() > 0)
  }
}
