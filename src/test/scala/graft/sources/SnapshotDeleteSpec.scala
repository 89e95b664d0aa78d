package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors: [[SnapshotTable.deleteWhere]] marks
  * rows dead with a positional vector file and a METADATA-ONLY commit
  * (no data file rewritten), reads subtract the vectors,
  * [[SnapshotTable.absorbDeletes]] retires them by rewriting only the
  * files they touch, and every neighbouring operation (compact, merge,
  * change feed, stream, vacuum, rowCount) stays correct around them. */
class SnapshotDeleteSpec extends GraftSpec {

  private def ids(t: String, asOf: Int = Int.MaxValue): Set[Long] =
    SnapshotTable.readAsOf(spark, t, asOf)
      .select("id").collect().map(_.getLong(0)).toSet

  private def freshTable(prefix: String, n: Long = 800, files: Int = 8): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t,
      spark.range(0, n).select(col("id"),
        concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(files, col("id")),
      overwrite = false)
    t
  }

  test("deleteWhere is metadata-only: rows vanish, data files do not change") {
    val t = freshTable("graft-del1-")
    val before = SnapshotTable.readAsOf(spark, t, 1).inputFiles.toSet
    assert(before.size == 8)
    val v = SnapshotTable.deleteWhere(spark, t, col("id") % 10 === 3)
    assert(v.contains(2))
    // the base files are untouched — the commit added only a vector
    val afterBase = SnapshotTable.readAsOf(spark, t, 2).inputFiles.toSet
    assert(before.subsetOf(afterBase), "a delete must not rewrite data files")
    assert(ids(t) == (0L until 800L).filterNot(_ % 10 == 3).toSet)
    // time travel: v1 still serves every row
    assert(ids(t, 1).size == 800)
    // metadata row count stays exact without a scan
    assert(SnapshotTable.rowCount(spark, t, 2).contains(720L))
    assert(SnapshotTable.rowCount(spark, t, 1).contains(800L))
  }

  test("deletes stack, never double-count, and a no-match delete publishes nothing") {
    val t = freshTable("graft-del2-", n = 100, files = 2)
    assert(SnapshotTable.deleteWhere(spark, t, col("id") < 50).contains(2))
    // overlaps the first delete: only the LIVE half may match
    assert(SnapshotTable.deleteWhere(spark, t, col("id") < 75).contains(3))
    assert(ids(t) == (75L until 100L).toSet)
    assert(SnapshotTable.rowCount(spark, t, 3).contains(25L))
    // nothing left to match: no commit at all
    assert(SnapshotTable.deleteWhere(spark, t, col("id") < 75).isEmpty)
    assert(SnapshotTable.versions(spark, t) == Seq(1, 2, 3))
  }

  test("absorbDeletes rewrites ONLY the touched files and retires the vectors") {
    val t = freshTable("graft-del3-")
    // ids 10..19 live in the first of 8 range files
    SnapshotTable.deleteWhere(spark, t, col("id") >= 10 && col("id") < 20)
    val before = SnapshotTable.readAsOf(spark, t, 2).inputFiles
      .filterNot(_.contains("/del-")).toSet
    val v = SnapshotTable.absorbDeletes(spark, t)
    assert(v.contains(3))
    val after = SnapshotTable.readAsOf(spark, t, 3).inputFiles.toSet
    assert((before & after).size == before.size - 1,
      s"expected exactly one file rewritten, carried ${(before & after).size} of ${before.size}")
    assert(ids(t) == (0L until 800L).filterNot(i => i >= 10 && i < 20).toSet)
    // vector-free again: nothing further to absorb, and compact is legal
    assert(SnapshotTable.absorbDeletes(spark, t).isEmpty)
    assert(SnapshotTable.rowCount(spark, t, 3).contains(790L))
  }

  test("compact refuses while vectors are outstanding; works after absorb") {
    val t = freshTable("graft-del4-", n = 400, files = 8)
    SnapshotTable.deleteWhere(spark, t, col("id") === 7)
    assert(SnapshotTable.compact(spark, t, 1L << 20, 1L << 22).isEmpty,
      "compacting over unapplied vectors would resurrect deleted rows")
    SnapshotTable.absorbDeletes(spark, t)
    assert(SnapshotTable.compact(spark, t, 1L << 20, 1L << 22).nonEmpty)
    assert(ids(t) == (0L until 400L).toSet - 7L)
  }

  test("vacuum reclaims absorbed vectors and superseded files; retained reads unharmed") {
    val t = freshTable("graft-del5-", n = 200, files = 4)
    SnapshotTable.deleteWhere(spark, t, col("id") % 5 === 0)
    SnapshotTable.absorbDeletes(spark, t)
    val stats = SnapshotTable.vacuum(spark, t, keepVersions = 1)
    assert(stats.expiredManifests == 2)
    assert(stats.deletedDataFiles > 0)
    // no vector file survives on disk
    val f = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val it = f.listFiles(new org.apache.hadoop.fs.Path(t, "data"), true)
    var delFiles = 0
    while (it.hasNext) { if (it.next().getPath.toString.contains("/del-")) delFiles += 1 }
    assert(delFiles == 0, "vacuum left absorbed vector files behind")
    assert(ids(t) == (0L until 200L).filterNot(_ % 5 == 0).toSet)
  }

  test("vacuum keeps vectors that retained manifests still reference") {
    val t = freshTable("graft-del6-", n = 100, files = 2)
    SnapshotTable.deleteWhere(spark, t, col("id") < 10)
    SnapshotTable.vacuum(spark, t, keepVersions = 1)
    // the live version still needs its vector — the read must subtract it
    assert(ids(t) == (10L until 100L).toSet)
  }

  test("the change feed reports a delete commit as exact 'delete' rows") {
    val t = freshTable("graft-del7-", n = 100, files = 2)
    SnapshotTable.deleteWhere(spark, t, col("id") >= 90)
    val ch = SnapshotTable.readChanges(spark, t, 1, 2)
      .select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch == (90L until 100L).map(("delete", _)).toSet)
    // append AFTER the delete: same vector state on both ends, so the
    // feed takes the zero-compute added-files fast path
    SnapshotTable.commit(spark, t,
      spark.range(1000, 1010).select(col("id"),
        concat(lit("v"), col("id")).as("v")), overwrite = false)
    val ch2 = SnapshotTable.readChanges(spark, t, 2, 3)
      .select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch2 == (1000L until 1010L).map(("insert", _)).toSet)
  }

  test("a delete breaks streaming append semantics unless ignoreChanges") {
    val t = freshTable("graft-del8-", n = 100, files = 2)
    SnapshotTable.deleteWhere(spark, t, col("id") === 1)
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.streamBatch(spark, t, 1, 2, ignoreChanges = false)
    }
    assert(err.getMessage.contains("append semantics broken"))
    // opting in streams the added files (none here) without failing
    assert(SnapshotTable.streamBatch(spark, t, 1, 2, ignoreChanges = true)
      .count() == 0)
  }

  test("ignoreChanges never streams a row deleted inside the batch's range") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft-del8b-")
      .toString + "/tbl"
    SnapshotTable.commit(spark, t, Seq(1L, 2L, 3L).toDF("id"), overwrite = false)
    SnapshotTable.commit(spark, t, Seq(4L, 5L).toDF("id"), overwrite = false)
    assert(SnapshotTable.deleteWhere(spark, t, col("id") === 4L).contains(3))
    // v2 added 4 and 5; v3 deleted 4: the table holds 5, not 4
    assert(SnapshotTable.streamBatch(spark, t, 1, 3, ignoreChanges = true)
      .collect().map(_.getLong(0)).toSet == Set(5L))
    // the same through the streaming format: a fresh stream from v2
    // serves the batch (1, 3]; from genesis it serves readAsOf(3)
    def streamed(starting: Option[String]): Set[Long] = {
      val name = s"del_leak_${starting.getOrElse("all")}"
      val reader = spark.readStream.format("graft-snapshot")
        .option("path", t).option("ignoreChanges", "true")
      val q = starting.fold(reader)(reader.option("startingVersion", _)).load()
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      spark.table(name).select("id").collect().map(_.getLong(0)).toSet
    }
    assert(streamed(Some("2")) == Set(5L))
    assert(streamed(None) == ids(t, 3))
  }

  test("a concurrent append mid-delete forces a serializable re-plan") {
    import spark.implicits._
    val t = freshTable("graft-del9-", n = 100, files = 2)
    var fired = false
    SnapshotTable.beforePublishHook = () =>
      if (!fired) {
        fired = true
        SnapshotTable.commit(spark, t,
          Seq((5000L, "late")).toDF("id", "v"), overwrite = false)
      }
    // the appended row MATCHES the predicate: the re-planned delete is
    // serialized after the append, so it must go too
    try SnapshotTable.deleteWhere(spark, t, col("id") >= 50)
    finally SnapshotTable.beforePublishHook = () => ()
    assert(fired)
    assert(ids(t) == (0L until 50L).toSet,
      "re-planned delete must cover the concurrently appended row")
  }

  test("merge over outstanding vectors falls back to full rewrite and retires them") {
    import spark.implicits._
    val t = freshTable("graft-del10-", n = 100, files = 2)
    SnapshotTable.deleteWhere(spark, t, col("id") < 10)
    SnapshotTable.merge(spark, t,
      Seq((20L, "X")).toDF("id", "v"), Seq(21L).toDF("id"), "id")
    val got = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == (10L until 100L).toSet - 21L)
    assert(got(20L) == "X")
    // the overwrite retired the vectors: compact is legal again
    assert(SnapshotTable.absorbDeletes(spark, t).isEmpty)
  }

  test("vectors survive schema evolution appends and subtract under the widened schema") {
    import spark.implicits._
    val t = freshTable("graft-del11-", n = 100, files = 2)
    SnapshotTable.deleteWhere(spark, t, col("id") % 2 === 1)
    SnapshotTable.commit(spark, t,
      Seq((200L, "w", 9L)).toDF("id", "v", "extra"), overwrite = false)
    val snap = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(snap.columns.toSeq == Seq("id", "v", "extra"))
    val got = snap.select("id").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 100L).filter(_ % 2 == 0).toSet + 200L)
  }

  test("deletes on a bucketed table subtract correctly at read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del12-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commitBucketed(spark, t,
      spark.range(0, 200).select(col("id"),
        concat(lit("v"), col("id")).as("v")),
      overwrite = false, nBuckets = 4, bucketCol = "id")
    SnapshotTable.deleteWhere(spark, t, col("id") % 3 === 0)
    assert(ids(t) == (0L until 200L).filterNot(_ % 3 == 0).toSet)
    assert(SnapshotTable.rowCount(spark, t, 2).contains(
      (0L until 200L).count(_ % 3 != 0).toLong))
  }
}
