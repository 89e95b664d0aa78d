package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-file stats fold (zone maps, string byte totals, KMV NDV,
  * declared Bloom bits) must publish manifest stats BYTE-IDENTICAL to
  * the golden manifests under `src/test/resources/golden/stats/`. The
  * goldens were captured from the earlier two-job commit path, which
  * re-read every written batch through a grouped aggregation with
  * three aggregators, so this spec pins the single fold to the
  * semantics the stats always had: they feed oracle-pinned outputs
  * (metaAgg's est_ndv, zone-map bounds) and the file-skipping pruner.
  *
  * Every commit layout is covered — flat, hive, bucketed,
  * hive+bucketed, and `maxRecordsPerFile` splitting (flat and hive) —
  * each followed by an [[SnapshotTable.analyze]] whose recollected
  * manifest is pinned too. The frame carries every stat kind:
  * integral/date/timestamp/decimal longs, doubles with NaN and ±Inf,
  * multi-byte strings with nulls, struct leaves, declared map keys,
  * declared scalar, struct-leaf and array-element Blooms, an all-null
  * column, and (first commit of every table) a zero-row batch. One
  * more golden pins a table whose first, non-empty commit precedes its
  * Bloom declaration. */
class SnapshotFusedStatsSpec extends GraftSpec {

  /** The latest manifest of `t`, made independent of the run: entry
    * paths relative to the table's data dir with the commit dir and
    * the writer's job uuid masked, the file size and the commit
    * timestamp dropped; lines sorted. Rows, stats, partition values
    * and every other header line (schema, layout, #ndv sketches) stay
    * verbatim. */
  private def normalizedManifest(t: String): String = {
    val dir = new org.apache.hadoop.fs.Path(t, "_commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.matches("v\\d+\\.txt"))
      .maxBy(_.getName.stripPrefix("v").stripSuffix(".txt").toInt)
    val text = {
      val in = fs.open(last)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    text.split("\n").toSeq.filterNot(_.startsWith("#ts:")).map { l =>
      if (l.startsWith("#")) l
      else {
        val f = l.split("\t", -1)
        val rel = f(0).substring(f(0).indexOf("/data/") + "/data/".length)
          .replaceFirst("^c-[^/]+/", "c-*/")
          .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1")
        (rel +: f.drop(2)).mkString("\t")
      }
    }.sorted.mkString("", "\n", "\n")
  }

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/stats/$name.txt")
    assert(in != null, s"missing golden manifest golden/stats/$name.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def check(name: String, t: String): Unit = {
    val got = normalizedManifest(t)
    val want = golden(name)
    if (got != want) {
      val g = got.split("\n").toSet
      val w = want.split("\n").toSet
      fail(s"$name: manifest differs from its golden\n" +
        s"only in fold  : ${(g -- w).toSeq.sorted.mkString("\n  ")}\n" +
        s"only in golden: ${(w -- g).toSeq.sorted.mkString("\n  ")}")
    }
  }

  private val schemaDdl = "id BIGINT, name STRING, score DOUBLE, grp INT, " +
    "d DATE, ts TIMESTAMP, money DECIMAL(12,2), " +
    "meta STRUCT<a: BIGINT, b: STRING>, attrs MAP<STRING, BIGINT>, " +
    "tags ARRAY<STRING>, refs ARRAY<BIGINT>, allnull BIGINT, day INT"

  /** 400 rows over 4 `day` values; deterministic content and order. */
  private def mixedFrame: DataFrame = {
    val rows = (1L to 400L).map { i =>
      org.apache.spark.sql.Row(
        i,
        if (i % 11 == 0) null else s"säg_${i % 13}_名",
        if (i % 7 == 0) Double.NaN
        else if (i == 5L) Double.PositiveInfinity
        else if (i == 6L) Double.NegativeInfinity
        else i * 1.5 - 100.0,
        (i % 17).toInt,
        java.sql.Date.valueOf("2024-03-%02d".format((i % 28 + 1).toInt)),
        java.sql.Timestamp.valueOf(
          "2024-03-01 10:%02d:%02d".format((i % 60).toInt, (i % 7).toInt)),
        new java.math.BigDecimal(s"${i % 50 - 20}.25"),
        org.apache.spark.sql.Row(i % 5, if (i % 3 == 0) null else s"leaf${i % 4}"),
        if (i % 9 == 0) null
        else Map("a" -> i % 23, "b" -> (if (i % 4 == 0) null else i * 3)),
        if (i % 10 == 0) null
        else if (i % 10 == 1) Seq.empty[String]
        else Seq(s"t${i % 31}", null, s"ü${i % 7}"),
        if (i % 8 == 0) null else Seq(i, i * 2),
        null,
        (i % 4).toInt)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
  }

  private def emptyFrame: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** A zero-row first commit, the declarations, then the mixed batch
    * — all through `commitWith` — pinned after the commit and again
    * after ANALYZE. */
  private def scenario(name: String, maxRecordsPerFile: Option[Int] = None)(
      commitWith: (String, DataFrame) => Unit): Unit = {
    val t = java.nio.file.Files.createTempDirectory(s"graft-golden-$name-")
      .toString + "/tbl"
    val df = mixedFrame
    commitWith(t, emptyFrame)
    SnapshotTable.setBloomColumns(spark, t,
      Seq("id", "name", "meta.b", "tags", "refs"))
    SnapshotTable.setMapStatKeys(spark, t, Seq("attrs['a']", "attrs['b']"))
    val key = "spark.sql.files.maxRecordsPerFile"
    maxRecordsPerFile.foreach(n => spark.conf.set(key, n.toLong))
    try commitWith(t, df)
    finally if (maxRecordsPerFile.nonEmpty) spark.conf.unset(key)
    check(s"$name.commit", t)
    assert(SnapshotTable.analyze(spark, t).nonEmpty, s"$name: analyze refused")
    check(s"$name.analyze", t)
  }

  // the flat goldens are the read-back path's stats for this frame
  test("fused write-job stats == legacy read-back stats, manifest-exact") {
    scenario("flat") { (t, df) =>
      SnapshotTable.commit(spark, t, df.repartition(5), overwrite = false) }
  }

  test("fused stats under a declared Bloom column match legacy") {
    // a commit before the declaration writes Bloom-free stats; the one
    // after it adds Bloom bits to id and name only
    val t = java.nio.file.Files.createTempDirectory("graft-golden-bloom-")
      .toString + "/tbl"
    val df = mixedFrame
    SnapshotTable.commit(spark, t, df.limit(10), overwrite = false)
    SnapshotTable.setBloomColumns(spark, t, Seq("id", "name"))
    SnapshotTable.commit(spark, t, df.repartition(5), overwrite = false)
    check("bloom.commit", t)
    val entries = normalizedManifest(t).split("\n").filterNot(_.startsWith("#"))
      .map(_.split("\t", -1))
    def bloomCols(e: Array[String]): Set[String] =
      e(2).split(";").map(_.split(":")).filter(_.length == 7)
        .map(f => new String(java.util.Base64.getDecoder.decode(f(0)), "UTF-8")).toSet
    val (before, after) = entries.partition(_(1) != "80")
    assert(before.map(_(1).toLong).sum == 10L && after.length == 5,
      entries.map(_(1)).mkString(","))
    before.foreach(e => assert(bloomCols(e).isEmpty, e.mkString("\t")))
    after.foreach(e => assert(bloomCols(e) == Set("id", "name"), e.mkString("\t")))
  }

  test("flat layout with maxRecordsPerFile: fold == golden") {
    scenario("flat_maxrec", Some(70)) { (t, df) =>
      SnapshotTable.commit(spark, t, df.repartition(3), overwrite = false) }
  }

  test("hive layout: fold == golden") {
    scenario("hive") { (t, df) =>
      SnapshotTable.commitPartitionedBy(spark, t, df, Seq("day")) }
  }

  test("hive layout with maxRecordsPerFile: fold == golden") {
    scenario("hive_maxrec", Some(30)) { (t, df) =>
      SnapshotTable.commitPartitionedBy(spark, t, df, Seq("day")) }
  }

  test("bucketed layout: fold == golden") {
    scenario("bucketed") { (t, df) =>
      SnapshotTable.commitBucketed(spark, t, df, overwrite = false, 4, "id") }
  }

  test("hive+bucketed layout: fold == golden") {
    scenario("hive_bucketed") { (t, df) =>
      SnapshotTable.commitPartitionedBucketed(spark, t, df, Seq("day"), 3, "id") }
  }

  test("concurrent hive writers: each file's partition stats are its directory's") {
    // with concurrent output writers a task interleaves its partitions'
    // files (one shuffle partition keeps the input's day-interleaved row
    // order), so a file rolled over by maxRecordsPerFile opens long
    // after its partition was first announced
    val t = java.nio.file.Files.createTempDirectory("graft-golden-conc-")
      .toString + "/tbl"
    val confs = Seq("spark.sql.maxConcurrentOutputFileWriters" -> "4",
      "spark.sql.files.maxRecordsPerFile" -> "30", "spark.sql.shuffle.partitions" -> "1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try SnapshotTable.commitPartitionedBy(spark, t, mixedFrame.coalesce(1), Seq("day"))
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val entries = normalizedManifest(t).split("\n").filterNot(_.startsWith("#"))
    assert(entries.length > 4, entries.mkString("\n"))
    val dayKey = java.util.Base64.getEncoder.encodeToString("day".getBytes("UTF-8"))
    entries.foreach { e =>
      val f = e.split("\t", -1)
      val dir = f(0).split("/")(1).stripPrefix("day=")
      val b64 = java.util.Base64.getEncoder.encodeToString(dir.getBytes("UTF-8"))
      assert(f(2).split(";").contains(s"$dayKey:l:$b64:$b64:0:"), e)
    }
  }

  test("merge + readChanges stay correct with fused stats on") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fusedm-").toString
    val t = s"$dir/tbl"
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    SnapshotTable.commit(spark, t, base, overwrite = false)
    SnapshotTable.merge(spark, t,
      (1L to 50L).map(i => (i * 4, s"u${i * 4}")).toDF("k", "v"),
      Seq(3L, 7L).toDF("k"), "k")
    val got = SnapshotTable.readAsOf(spark, t, Int.MaxValue)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = ((1L to 200L).filterNot(Set(3L, 7L))
      .map(i => (i, if (i % 4 == 0) s"u$i" else s"v$i"))).sorted
    assert(got.toSeq == want)
    val changes = SnapshotTable.readChanges(spark, t, 1, 2)
      .groupBy(col("change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 50 upserts re-landed + 2 deletes gone; pre-images = 50 touched
    // existing rows + 2 deleted rows
    assert(changes("insert") == 50L, s"$changes")
    assert(changes("delete") == 52L, s"$changes")
  }
}
