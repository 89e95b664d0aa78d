package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Governance surface of the snapshot table: named CHECK constraints
  * (validated on add against current data, enforced on every
  * commit/merge, surviving overwrites, droppable) and commit
  * timestamps (wall-clock time travel, age-based retention). */
class SnapshotGovernanceSpec extends GraftSpec {

  private def ids(t: String): Set[Long] =
    SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .select("id").collect().map(_.getLong(0)).toSet

  test("addConstraint validates current data; commits then enforce it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov1-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), overwrite = false)
    // current data violates -> refused, nothing published
    val bad = intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, t, "v_big", "v > 15")
    }
    assert(bad.getMessage.contains("v_big"))
    assert(SnapshotTable.versions(spark, t) == Seq(1))
    // a satisfiable constraint publishes as a metadata-only commit
    SnapshotTable.addConstraint(spark, t, "v_pos", "v > 0")
    assert(SnapshotTable.versions(spark, t) == Seq(1, 2))
    assert(SnapshotTable.constraints(spark, t) == Map("v_pos" -> "v > 0"))
    // violating append refused, table unchanged; valid append lands
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, t,
        Seq((3L, -5L)).toDF("id", "v"), overwrite = false)
    }
    assert(ids(t) == Set(1L, 2L))
    SnapshotTable.commit(spark, t, Seq((3L, 5L)).toDF("id", "v"),
      overwrite = false)
    assert(ids(t) == Set(1L, 2L, 3L))
  }

  test("constraints survive overwrites, gate merges, and drop cleanly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov2-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, Seq((1L, 10L)).toDF("id", "v"),
      overwrite = false)
    SnapshotTable.addConstraint(spark, t, "v_pos", "v > 0")
    // overwrite keeps the table property (constraints ≠ data)
    SnapshotTable.commit(spark, t, Seq((9L, 90L)).toDF("id", "v"),
      overwrite = true)
    assert(SnapshotTable.constraints(spark, t).contains("v_pos"))
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, t, Seq((8L, -1L)).toDF("id", "v"),
        overwrite = true)
    }
    // the selective merge validates its upserts
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, t, Seq((9L, -7L)).toDF("id", "v"),
        Seq.empty[Long].toDF("id"), "id")
    }
    assert(ids(t) == Set(9L))
    // NULL passes (SQL CHECK semantics)
    val rows: Seq[(Long, java.lang.Long)] = Seq((5L, null))
    SnapshotTable.commit(spark, t, rows.toDF("id", "v"), overwrite = false)
    assert(ids(t) == Set(9L, 5L))
    // dropped -> violating writes are legal again; double-drop no-ops
    assert(SnapshotTable.dropConstraint(spark, t, "v_pos").nonEmpty)
    assert(SnapshotTable.dropConstraint(spark, t, "v_pos").isEmpty)
    SnapshotTable.commit(spark, t, Seq((8L, -1L)).toDF("id", "v"),
      overwrite = false)
    assert(ids(t) == Set(9L, 5L, 8L))
  }

  test("a violating commit racing addConstraint defeats it — serializably") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov5-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, Seq((1L, 10L)).toDF("id", "v"),
      overwrite = false)
    // between addConstraint's validation and its publish, a commit
    // lands whose rows VIOLATE the constraint being added: the publish
    // must abort and the re-validation must refuse the constraint —
    // never a published constraint the live data violates
    var fired = false
    SnapshotTable.beforePublishHook = () =>
      if (!fired) {
        fired = true
        SnapshotTable.commit(spark, t, Seq((2L, -5L)).toDF("id", "v"),
          overwrite = false)
      }
    try {
      val err = intercept[IllegalArgumentException] {
        SnapshotTable.addConstraint(spark, t, "v_pos", "v > 0")
      }
      assert(err.getMessage.contains("v_pos"))
    } finally SnapshotTable.beforePublishHook = () => ()
    assert(fired)
    assert(SnapshotTable.constraints(spark, t).isEmpty)
    assert(ids(t) == Set(1L, 2L), "the racing commit must survive")
  }

  test("a full-rewrite merge re-plans over a concurrent schema change") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov5b-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), overwrite = false)
    // an outstanding deletion vector routes the merge to the full rewrite
    SnapshotTable.deleteWhere(spark, t, col("id") === 3L)
    // a schema-only commit (a Bloom declaration) in the merge's race
    // window: the rewrite planned against the old schema, so publishing
    // it would silently undo the declaration
    var fired = false
    SnapshotTable.beforePublishHook = () =>
      if (!fired) {
        fired = true
        SnapshotTable.setBloomColumns(spark, t, Seq("id"))
      }
    try SnapshotTable.merge(spark, t, Seq((2L, 21L)).toDF("id", "v"),
      Seq.empty[Long].toDF("id"), "id")
    finally SnapshotTable.beforePublishHook = () => ()
    assert(fired)
    assert(SnapshotTable.describeColumns(spark, t)
      .filter(col("column") === "id").select("bloom").head().getBoolean(0),
      "the concurrent Bloom declaration must survive the merge")
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).as[(Long, Long)]
      .collect().toMap == Map(1L -> 10L, 2L -> 21L))
  }

  test("commitClustered + zone maps: a key-band read plans a file subset") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gov6-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commitClustered(spark, t,
      spark.range(0, 8000).select(col("id"), (col("id") * 2).as("v")),
      overwrite = false, nFiles = 8, clusterCols = Seq("id"))
    val snap = SnapshotTable.readAsOf(spark, t, 1)
    assert(snap.inputFiles.length == 8)
    // a narrow key band (range bounds are SAMPLED, so a wide band can
    // legitimately straddle a boundary — probe well inside one stripe)
    val band = snap.filter(col("id") >= 1200 && col("id") < 1300)
    assert(band.collect().length == 100) // execute THIS plan: metrics fill
    val plan = band.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val files = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
    assert(files <= 2, s"expected a zone-map-pruned scan, read $files files")
  }

  test("commitZordered prunes selective predicates on EITHER dimension") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gov7-").toString
    val t = s"$dir/tbl"
    // a 64×64 key grid: 16 files of 256 curve-consecutive points each
    // = 16×16 squares of the plane
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
      col("id").as("payload"))
    SnapshotTable.commitZordered(spark, t, grid, overwrite = false,
      nFiles = 16, colA = "x", colB = "y")
    val snap = SnapshotTable.readAsOf(spark, t, 1)
    assert(snap.inputFiles.length == 16)
    def scannedFiles(df: org.apache.spark.sql.DataFrame, rows: Long): Long = {
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
    // an 8-wide band on EITHER axis crosses ~1 square column/row = ~4
    // of 16 files (a slab layout prunes one dimension and scans ALL 16
    // for the other); ≤6 allows range-sampling fuzz
    val fx = scannedFiles(snap.filter(col("x") >= 8 && col("x") < 16), 512)
    val fy = scannedFiles(snap.filter(col("y") >= 8 && col("y") < 16), 512)
    assert(fx <= 6, s"x-band scanned $fx of 16 files")
    assert(fy <= 6, s"y-band scanned $fy of 16 files")
  }

  test("3-dim Z-order prunes selective predicates on ANY dimension") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gov11-").toString
    val t = s"$dir/tbl"
    // a 64x64x64 grid in 64 files: each file owns 4096 curve-consecutive
    // codes = a 16x16x16 box (two file-level bits per dimension), so a
    // 16-wide band on ANY axis intersects 1/4 of the files — a 2-dim
    // curve would scan ALL of them for the third axis
    val grid = spark.range(0, 262144).select(
      (col("id") % 64).as("x"),
      ((col("id") / 64) % 64).cast("long").as("y"),
      (col("id") / 4096).cast("long").as("z0"),
      col("id").as("payload"))
    SnapshotTable.commit(spark, t, grid, overwrite = false)
    assert(SnapshotTable.rewriteZorderedBy(spark, t,
      Seq("x", "y", "z0"), nFiles = 64).contains(2))
    val snap = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(snap.inputFiles.length == 64)
    def scannedFiles(df: org.apache.spark.sql.DataFrame, rows: Long): Long = {
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
    // 16-wide band per axis = 65536 rows; aligned boxes would give
    // exactly 16 of 64 files, but repartitionByRange samples its
    // boundaries, so files straddle box edges and widen their ranges —
    // allow up to 40, still a strict-subset proof on EVERY axis (a
    // 2-dim curve scans all 64 for the third)
    val fx = scannedFiles(snap.filter(col("x") >= 16 && col("x") < 32), 65536)
    val fy = scannedFiles(snap.filter(col("y") >= 16 && col("y") < 32), 65536)
    val fz = scannedFiles(snap.filter(col("z0") >= 16 && col("z0") < 32), 65536)
    assert(fx <= 40, s"x-band scanned $fx of 64 files")
    assert(fy <= 40, s"y-band scanned $fy of 64 files")
    assert(fz <= 40, s"z-band scanned $fz of 64 files")
    // arity and duplicate-dimension refusals
    intercept[IllegalArgumentException] {
      SnapshotTable.rewriteZorderedBy(spark, t, Seq("x")) }
    intercept[IllegalArgumentException] {
      SnapshotTable.rewriteZorderedBy(spark, t, Seq("x", "X", "y")) }
  }

  test("readAsOfTimestamp resolves by recorded commit stamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov3-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t, Seq((1L, 1L)).toDF("id", "v"),
      overwrite = false)
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    SnapshotTable.commit(spark, t, Seq((2L, 2L)).toDF("id", "v"),
      overwrite = false)
    assert(SnapshotTable.readAsOfTimestamp(spark, t, between)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the newest commit's own stamp resolves to it (inclusive bound)
    val lastStamp = SnapshotTable.history(spark, t)
      .select("commit_ts").collect().map(_.getLong(0)).max
    assert(SnapshotTable.readAsOfTimestamp(spark, t, lastStamp)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // before the first commit: refuse rather than serve the wrong epoch
    intercept[IllegalArgumentException] {
      SnapshotTable.readAsOfTimestamp(spark, t, between - 1000000L)
    }
    // after the newest commit: refuse rather than float with the head
    // (the Delta temporally-unstable rule — "latest as of a future
    // stamp" would re-resolve differently after the next commit)
    intercept[IllegalArgumentException] {
      SnapshotTable.readAsOfTimestamp(spark, t, lastStamp + 3600000L)
    }
    // history surfaces the stamps (monotone here — single writer)
    val stamps = SnapshotTable.history(spark, t)
      .select("commit_ts").collect().map(_.getLong(0))
    assert(stamps.length == 2 && stamps(0) <= stamps(1))
    // the standard reader doorway resolves timestampAsOf identically
    assert(spark.read.format("graft.sources.SnapshotSourceProvider")
      .option("path", t).option("timestampAsOf", between.toString).load()
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.SnapshotSourceProvider")
        .option("path", t).option("timestampAsOf", between.toString)
        .option("versionAsOf", "1").load()
    }
  }

  test("dropColumn is metadata-only: projection gone, history intact, name reserved") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov8-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "extra"),
      overwrite = false)
    val filesBefore = SnapshotTable.readAsOf(spark, t, 1).inputFiles.toSet
    val v = SnapshotTable.dropColumn(spark, t, "extra")
    assert(v == 2)
    val snap = SnapshotTable.readAsOf(spark, t, 2)
    assert(snap.columns.toSeq == Seq("id", "v"))
    assert(snap.inputFiles.toSet == filesBefore, "drop must touch no data file")
    // time travel serves the pre-drop schema WITH values
    val old = SnapshotTable.readAsOf(spark, t, 1)
    assert(old.columns.contains("extra"))
    assert(old.select("extra").collect().map(_.getLong(0)).toSet == Set(10L, 20L))
    // the name is haunted: an append may not re-add it...
    val err = intercept[Exception] {
      SnapshotTable.commit(spark, t,
        Seq((3L, "c", 99L)).toDF("id", "v", "extra"), overwrite = false)
    }
    assert(err.getMessage.contains("dropped"))
    // ...but an overwrite resets the reservation
    SnapshotTable.commit(spark, t,
      Seq((9L, "z", 7L)).toDF("id", "v", "extra"), overwrite = true)
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .select("extra").head().getLong(0) == 7L)
  }

  test("dropColumn refusals: constrained, bucket, last, missing columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov9-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commit(spark, t,
      Seq((1L, 5L)).toDF("id", "v"), overwrite = false)
    SnapshotTable.addConstraint(spark, t, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, t, "v") // constraint references it
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, t, "nope") // no such column
    }
    SnapshotTable.dropConstraint(spark, t, "v_pos")
    SnapshotTable.dropColumn(spark, t, "v")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, t, "id") // cannot drop the last one
    }
    val t2 = s"$dir/tbl2"
    SnapshotTable.commitBucketed(spark, t2,
      Seq((1L, "x")).toDF("id", "v"), overwrite = false,
      nBuckets = 2, bucketCol = "id")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, t2, "id") // bucket column
    }
  }

  test("vacuum expires by age while always keeping the latest version") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov4-").toString
    val t = s"$dir/tbl"
    (1 to 3).foreach { k =>
      SnapshotTable.commit(spark, t, Seq((k.toLong, k.toLong)).toDF("id", "v"),
        overwrite = false)
    }
    Thread.sleep(10)
    // everything older than "now" expires — except the latest, always
    val stats = SnapshotTable.vacuum(spark, t, keepVersions = 10,
      maxVersionAgeMs = Some(0L))
    assert(stats.expiredManifests == 2)
    assert(SnapshotTable.versions(spark, t) == Seq(3))
    assert(ids(t) == Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      SnapshotTable.readAsOf(spark, t, 1).collect()
    }
  }

  test("timestamp resolution monotonizes skewed commit stamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gov9-").toString
    val t = s"$dir/tbl"
    (1 to 3).foreach { k =>
      SnapshotTable.commit(spark, t, Seq((k.toLong, k.toLong)).toDF("id", "v"),
        overwrite = false)
      Thread.sleep(20)
    }
    val raw = SnapshotTable.history(spark, t)
      .orderBy("version").select("commit_ts").collect().map(_.getLong(0))
    // simulate multi-writer clock skew: v3's publishing driver had a
    // clock BEHIND v1's, so the newest version carries the oldest stamp
    val mPath = java.nio.file.Paths.get(dir, "tbl", "_commits", "v00003.txt")
    val skewed = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
      .replaceAll("(?m)^#ts:\\d+$", s"#ts:${raw(0) - 10000}")
    java.nio.file.Files.write(mPath, skewed.getBytes("UTF-8"))
    // a request at v2's stamp must not be refused as "after the newest
    // retained commit" (v3's RAW stamp is older, but its monotonized
    // effective stamp is v2's) — it resolves to the newest version at
    // that effective instant
    assert(SnapshotTable.readAsOfTimestamp(spark, t, raw(1))
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // a request between v1 and v2 still serves v1: the skewed stamp is
    // floored to its predecessor's, never allowed to rewind history
    assert(SnapshotTable.readAsOfTimestamp(spark, t, raw(1) - 10)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    // the future-stamp refusal compares against the monotonized newest,
    // not the skewed raw stamp
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.readAsOfTimestamp(spark, t, raw(1) + 3600000L)
    }
    assert(err.getMessage.contains(s"stamped ${raw(1)}"))
  }

  test("append widens int->long / float->double; old files read and prune soundly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gov8-").toString
    val t = s"$dir/tbl"
    // epoch 1: int32 / float pages, range-clustered so zone maps bite
    SnapshotTable.commitClustered(spark, t,
      spark.range(0, 4000).select(col("id").cast("int").as("k"),
        (col("id") * 2).cast("float").as("w")),
      overwrite = false, nFiles = 4, clusterCols = Seq("k"))
    // epoch 2: a WIDER batch — the table schema takes long/double; the
    // int32/float files of epoch 1 need no rewrite (Spark's vectorized
    // reader promotes the pages)
    SnapshotTable.commitClustered(spark, t,
      spark.range(4000, 8000).select(col("id").as("k"),
        (col("id") * 2.0).as("w")),
      overwrite = false, nFiles = 4, clusterCols = Seq("k"))
    val snap = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(snap.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(snap.schema("w").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(snap.count() == 8000)
    // both epochs' values serve under the widened read
    assert(snap.agg(sum(col("k"))).head().getLong(0) ==
      (0L until 8000L).sum)
    // zone maps recorded from the NARROW files still prune a selective
    // long-literal predicate (int bounds were stored as 'l' longs)
    val band = snap.filter(col("k") >= 500L && col("k") < 600L)
    assert(band.collect().length == 100)
    val plan = band.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val files = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
    assert(files <= 2, s"widened column must still zone-map-prune: $files")
    // a NARROWER batch after the widen is fine too — the table stays
    // long/double and the new int32 pages read widened like epoch 1's
    SnapshotTable.commit(spark, t,
      spark.range(8000, 8100).select(col("id").cast("int").as("k"),
        (col("id") * 2).cast("float").as("w")), overwrite = false)
    val snap2 = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(snap2.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(snap2.count() == 8100)
    // time travel: v1 keeps its own (narrow) recorded schema
    assert(SnapshotTable.readAsOf(spark, t, 1).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // cross-family evolution stays refused, with the chains named
    val bad = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, t,
        spark.range(0, 1).selectExpr("CAST(id AS STRING) AS k",
          "CAST(id AS DOUBLE) AS w"), overwrite = false)
    }
    assert(bad.getMessage.contains("lossless widening"))
  }

  test("decimal widens by precision at the same scale; scale change refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gov10-").toString
    val t = s"$dir/tbl"
    SnapshotTable.commitClustered(spark, t,
      spark.range(0, 2000).selectExpr("id AS k",
        "CAST(id * 1.25 AS DECIMAL(10,2)) AS amt"),
      overwrite = false, nFiles = 2, clusterCols = Seq("k"))
    SnapshotTable.commitClustered(spark, t,
      spark.range(2000, 4000).selectExpr("id AS k",
        "CAST(id * 1.25 AS DECIMAL(14,2)) AS amt"),
      overwrite = false, nFiles = 2, clusterCols = Seq("k"))
    val snap = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
    assert(snap.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(14, 2))
    assert(snap.count() == 4000)
    // both epochs' money values serve exactly (narrow pages promoted)
    assert(snap.selectExpr("CAST(sum(amt) * 100 AS BIGINT)").head().getLong(0)
      == (0L until 4000L).map(_ * 125L).sum)
    // the unscaled-long zone maps of the narrow epoch still prune a
    // selective band under the widened type (same scale = same
    // unscaled bounds, so the coerced literal compares exactly)
    val band = snap.filter(col("amt") >= lit(BigDecimal("125.00")) &&
      col("amt") < lit(BigDecimal("250.00")))
    assert(band.collect().length == 100)
    // scale change: the stored unscaled bounds would compare wrong
    // against re-coerced literals — refused with the chains named
    val bad = intercept[IllegalArgumentException] {
      SnapshotTable.commit(spark, t,
        spark.range(0, 1).selectExpr("id AS k",
          "CAST(id AS DECIMAL(14,4)) AS amt"), overwrite = false)
    }
    assert(bad.getMessage.contains("lossless widening"))
  }

  test("widening a layout key (bucket column) is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gov9-").toString
    val t = s"$dir/tbl"
    // bucket placement is a TYPED hash: int 5 and long 5 land in
    // different buckets, so a widened bucket key would silently break
    // the exchange-free join grouping — refused, relayout() re-keys
    SnapshotTable.commitBucketed(spark, t,
      spark.range(0, 100).select(col("id").cast("int").as("k"),
        col("id").as("v")), overwrite = false, nBuckets = 4,
      bucketCol = "k")
    val bad = intercept[IllegalArgumentException] {
      SnapshotTable.commitBucketed(spark, t,
        spark.range(100, 200).select(col("id").as("k"), col("id").as("v")),
        overwrite = false, nBuckets = 4, bucketCol = "k")
    }
    assert(bad.getMessage.contains("relayout"))
    // same-type bucketed appends still land
    SnapshotTable.commitBucketed(spark, t,
      spark.range(100, 200).select(col("id").cast("int").as("k"),
        col("id").as("v")), overwrite = false, nBuckets = 4,
      bucketCol = "k")
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).count() == 200)
  }
}
