package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Every change-feed entry point derives from one version range built
  * from ONE `_commits` listing, with each manifest it needs decoded at
  * most once. Pins [[SnapshotTable.commitListings]] and
  * [[SnapshotTable.manifestReads]] per entry point, on a table whose
  * range `(1, 4]` holds three commits of three kinds: an append, an
  * UPDATE and a merge-on-read DELETE. */
class SnapshotRangeReadsSpec extends GraftSpec {

  /** (result, listings, manifest decodes) of building `op`. */
  private def counted[A](op: => A): (A, Long, Long) = {
    val (l0, r0) =
      (SnapshotTable.commitListings.get(), SnapshotTable.manifestReads.get())
    val a = op
    (a, SnapshotTable.commitListings.get() - l0,
      SnapshotTable.manifestReads.get() - r0)
  }

  /** ids 0..4 (v1), 5..9 (v2), id 2 updated (v3), id 7 deleted (v4);
    * a cursor consumed up to v1 sits at `<dir>/cursor`. */
  private def table(tag: String): (String, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-range-$tag-")
      .toString
    val (t, cursor) = (s"$dir/tbl", s"$dir/cursor")
    def rows(ids: Seq[Long]) = ids.map(i => (i, i * 10)).toDF("id", "v")
    SnapshotTable.commit(spark, t, rows(0L until 5L).coalesce(1), overwrite = false)
    assert(SnapshotTable.followChanges(spark, t, cursor)((_, _, _) => ())
      .contains((0, 1)))
    SnapshotTable.commit(spark, t, rows(5L until 10L).coalesce(1), overwrite = false)
    assert(SnapshotTable.updateWhere(spark, t, col("id") === 2L,
      Map("v" -> lit(-1L))).contains(3))
    assert(SnapshotTable.deleteWhere(spark, t, col("id") === 7L).contains(4))
    (t, cursor)
  }

  private def tagged(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.select("change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("readChanges: one listing, two decodes") {
    val (t, _) = table("read")
    val (feed, listings, decodes) = counted(SnapshotTable.readChanges(spark, t, 1, 4))
    assert((listings, decodes) == ((1L, 2L)))
    assert(tagged(feed) == Set(("insert", 5L), ("insert", 6L), ("insert", 8L),
      ("insert", 9L), ("delete", 2L), ("insert", 2L)))
    // an empty range serves the same schema with zero rows
    val empty = SnapshotTable.readChanges(spark, t, 4, 4)
    assert(empty.schema == feed.schema && empty.count() == 0)
  }

  test("a 3-commit streamChangeBatch: one listing, one decode per version") {
    val (t, _) = table("stream")
    val (batch, listings, decodes) =
      counted(SnapshotTable.streamChangeBatch(spark, t, 1, 4))
    // v1 (the floor of fromV) and v2..v4, each once
    assert((listings, decodes) == ((1L, 4L)))
    assert(batch.select("_commit_version", "change_type", "id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      (5L until 10L).map(i => (2L, "insert", i)).toSet ++ Set(
        (3L, "update_preimage", 2L), (3L, "update_postimage", 2L),
        (4L, "delete", 7L)))
    val empty = SnapshotTable.streamChangeBatch(spark, t, 4, 4)
    assert(empty.schema == batch.schema && empty.count() == 0)
  }

  test("GRAFT CHANGES … TILED: one listing, one decode per version") {
    val (t, _) = table("tiled")
    val parser = new GraftSqlParser(spark.sessionState.sqlParser, Some(spark))
    val (plan, listings, decodes) =
      counted(parser.parsePlan(s"GRAFT CHANGES '$t' FROM 1 TILED"))
    assert((listings, decodes) == ((1L, 4L)))
    assert(org.apache.spark.sql.GraftSqlShim.ofRows(spark, plan).count() == 8)
  }

  test("followChanges: one listing, two decodes on the source") {
    val (t, cursor) = table("follow")
    val (range, listings, decodes) =
      counted(SnapshotTable.followChanges(spark, t, cursor)((_, _, _) => ()))
    assert(range.contains((1, 4)))
    assert((listings, decodes) == ((1L, 2L)))
  }

  test("streamBatch: one listing, two decodes") {
    val (t, _) = table("batch")
    val (batch, listings, decodes) =
      counted(SnapshotTable.streamBatch(spark, t, 1, 4, ignoreChanges = true))
    assert((listings, decodes) == ((1L, 2L)))
    // v2's file and the UPDATE's rewrite of id 2's file, v4's vector
    // subtracted: id 7 was deleted inside the range and does not serve
    assert(batch.select("id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L))
  }
}
