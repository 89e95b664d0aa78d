package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every commit goes through one optimistic loop that plans against the
  * manifest it read and publishes at exactly the next version, so an
  * uncontended commit reads the latest manifest ONCE — whatever the
  * operation. Pins [[SnapshotTable.manifestReads]] per operation on
  * tables no other writer touches. */
class SnapshotCommitReadsSpec extends GraftSpec {

  private def reads[A](op: => A): (A, Long) = {
    val before = SnapshotTable.manifestReads.get()
    val a = op
    (a, SnapshotTable.manifestReads.get() - before)
  }

  private def rows(ids: Seq[Long], v: Long): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, v)).toDF("id", "v")
  }

  /** A flat table of two small files, ids 0..9. */
  private def table(tag: String): String = {
    val t = java.nio.file.Files.createTempDirectory(s"graft-reads-$tag-")
      .toString + "/tbl"
    SnapshotTable.commit(spark, t, rows(0L until 5L, 0L).coalesce(1), overwrite = false)
    SnapshotTable.commit(spark, t, rows(5L until 10L, 0L).coalesce(1), overwrite = false)
    t
  }

  test("an append reads no manifest on a fresh table and one after") {
    val t = java.nio.file.Files.createTempDirectory("graft-reads-append-")
      .toString + "/tbl"
    assert(reads(SnapshotTable.commit(spark, t, rows(Seq(1L), 0L), overwrite = false)) ==
      ((1, 0L)))
    assert(reads(SnapshotTable.commit(spark, t, rows(Seq(2L), 0L), overwrite = false)) ==
      ((2, 1L)))
  }

  test("merge reads one manifest on its selective and its full path") {
    val t = table("merge")
    // selective: flat, vector-free, upserts cover the schema
    assert(reads(SnapshotTable.merge(spark, t, rows(Seq(3L, 42L), 1L),
      rows(Seq(7L), 0L).select("id"), "id")) == ((3, 1L)))
    // full rewrite: outstanding deletion vectors route the merge there
    assert(SnapshotTable.deleteWhere(spark, t, col("id") === 8L).contains(4))
    assert(reads(SnapshotTable.merge(spark, t, rows(Seq(4L), 2L),
      rows(Seq.empty, 0L).select("id"), "id")) == ((5, 1L)))
    val got = SnapshotTable.readAsOf(spark, t, Int.MaxValue).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ((0L until 10L).filterNot(Set(7L, 8L)).map(_ -> 0L).toMap ++
      Map(3L -> 1L, 42L -> 1L, 4L -> 2L)))
  }

  test("deleteWhere, updateWhere and absorbDeletes read one manifest each") {
    val t = table("dml")
    assert(reads(SnapshotTable.deleteWhere(spark, t, col("id") === 1L)) == ((Some(3), 1L)))
    assert(reads(SnapshotTable.absorbDeletes(spark, t)) == ((Some(4), 1L)))
    assert(reads(SnapshotTable.updateWhere(spark, t, col("id") === 6L,
      Map("v" -> lit(9L)))) == ((Some(5), 1L)))
    assert(SnapshotTable.rowCount(spark, t, Int.MaxValue).contains(9L))
  }

  test("compact, analyze and addColumn read one manifest each") {
    val t = table("maint")
    assert(reads(SnapshotTable.compact(spark, t, 1L << 20, 1L << 30)) == ((Some(3), 1L)))
    assert(reads(SnapshotTable.analyze(spark, t)) == ((Some(4), 1L)))
    assert(reads(SnapshotTable.addColumn(spark, t, "w",
      org.apache.spark.sql.types.StringType)) == ((5, 1L)))
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() == 10)
  }
}
