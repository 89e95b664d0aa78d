package graft.sources

import scala.collection.immutable.VectorMap

import graft.GraftSpec
import org.apache.hadoop.fs.{FileStatus, Path => HP}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import ManifestCodec.{ColStat, FileEntry, Manifest}

/** The manifest codec is the format's one parser and one printer:
  * decoding what it encodes gives back the same manifest, every
  * manifest a real commit writes re-encodes byte for byte, and the
  * legacy forms no writer emits any more (no `#schema:` line, bare-path
  * entries) fail the read loudly, naming the table and version. */
class ManifestCodecSpec extends GraftSpec {

  private def lines(text: String): Seq[String] =
    text.split("\n").toSeq.filter(_.nonEmpty)

  // ---------- generated manifests ----------

  private val rnd = new scala.util.Random(20261019L)
  private def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
  private def opt[A](a: => A): Option[A] = if (rnd.nextBoolean()) Some(a) else None
  private def name(): String = pick("id", "name", "meta.k", "attrs['a']",
    "tags[]", "é:ü", "a|b", "x,y", "") + rnd.nextInt(3)
  private def bytes(n: Int): Array[Byte] = Array.fill(n)(rnd.nextInt(256).toByte)

  private def colStat(): ColStat = pick('l', 'd', 's') match {
    case 'l' => ColStat('l', opt(rnd.nextLong()), opt(rnd.nextLong()),
      rnd.nextInt(100).toLong, bloom = opt(bytes(16)))
    case 'd' => ColStat('d', opt(rnd.nextGaussian() * 1e6), opt(-0.0),
      rnd.nextInt(100).toLong)
    // empty string bounds included: they are stored apart from "unknown"
    case _ => ColStat('s', opt(pick("säg名😀", "").getBytes("UTF-8")), opt(bytes(rnd.nextInt(5))),
      rnd.nextInt(100).toLong, bytes = opt(rnd.nextInt(1000).toLong),
      bloom = opt(bytes(8)))
  }

  private def entry(i: Int): FileEntry = {
    val levels = 1 + rnd.nextInt(2)
    FileEntry(
      new FileStatus(rnd.nextInt(1 << 20).toLong, false, 1, 128L * 1024 * 1024,
        0L, new HP(s"file:/tmp/t/data/c-${rnd.nextInt(99)}/p=x/part-$i.parquet")),
      rows = opt(rnd.nextInt(1000).toLong),
      stats = (0 until rnd.nextInt(4)).map(_ => name() -> colStat()).to(VectorMap),
      part = opt(Seq.fill(levels)(pick(None, Some("a=b,c/N"), Some(""), Some("名")))),
      statsVer = pick(None, Some(2), Some(3)),
      era = opt(rnd.nextInt(3)))
  }

  private val schemas = Seq(
    StructType.fromDDL("id BIGINT, name STRING"),
    StructType(Seq(StructField("v", DoubleType,
      metadata = new MetadataBuilder().putString("graft.phys", "w")
        .putBoolean("graft.bloom", true).build()))),
    StructType.fromDDL("meta STRUCT<k: BIGINT>, attrs MAP<STRING, BIGINT>, tags ARRAY<STRING>"))

  private def manifest(): Manifest = {
    val writers = Seq.fill(rnd.nextInt(4))(pick("w", "ckpt-1a2b", "gate-2", "a:b"))
    val txns = writers.map(_ -> pick(0L, rnd.nextInt(1000).toLong)).toMap
    Manifest(txns,
      legacyTxns = txns.keySet.filter(_ => rnd.nextBoolean()),
      schema = pick(schemas: _*),
      entries = (0 until rnd.nextInt(6)).map(entry),
      bucket = opt((1 + rnd.nextInt(8), name())),
      dels = (0 until rnd.nextInt(3)).map(i => entry(100 + i)
        .copy(stats = Map.empty, statsVer = None, part = None, era = None)),
      ts = opt(rnd.nextLong().abs),
      constraints = Seq.fill(rnd.nextInt(3))(name() -> "id > 0 AND name <> ':'").toMap,
      dropped = Seq.fill(rnd.nextInt(3))(name()).toSet,
      ndv = Seq.fill(rnd.nextInt(3))(name() ->
        Seq.fill(rnd.nextInt(4))(rnd.nextLong().abs)).toMap,
      partBy = pick(Nil, Seq("day"), Seq("y", "m=1")),
      partEras = opt(Seq(Nil, Seq("day"), Seq("y", "m"))),
      kind = opt(pick("append", "overwrite", "delete", "update", "merge", "compact")))
  }

  test("decode(encode(m)) == m over generated manifests") {
    val kinds = scala.collection.mutable.Set.empty[String]
    (1 to 300).foreach { _ =>
      val m = manifest()
      val text = ManifestCodec.encode(m)
      val back = ManifestCodec.decode(lines(text))
      assert(back == m, s"\n$text")
      // FileStatus equality is by path: the lengths are compared here
      assert((back.entries ++ back.dels).map(_.status.getLen) ==
        (m.entries ++ m.dels).map(_.status.getLen))
      assert(ManifestCodec.encode(back) == text)
      lines(text).foreach { l =>
        kinds += (if (l.startsWith("#")) l.takeWhile(_ != ':') else "entry") }
    }
    // every header kind the format defines was generated
    assert(kinds == Set("#txnv", "#txn", "#schema", "#ts", "#partby",
      "#parteras", "#kind", "#bucket", "#del", "#check", "#dropped", "#ndv",
      "entry"), kinds)
  }

  test("every entry shape round-trips") {
    val st = new FileStatus(7L, false, 1, 1L, 0L, new HP("file:/t/data/c-1/a.parquet"))
    val shapes = Seq(
      FileEntry(st, None, Map.empty), // stat-less commit: no rows, no marker
      FileEntry(st, Some(0L), Map.empty), // zero-row file: no marker
      FileEntry(st, Some(5L), VectorMap("k" -> ColStat('l', Some(1L), Some(9L), 0L)),
        statsVer = Some(2)), // budget-truncated nested enumeration
      FileEntry(st, Some(5L), VectorMap(
        "s" -> ColStat('s', None, None, 5L, bytes = None),
        "b" -> ColStat('l', Some(-3L), Some(3L), 1L, bloom = Some(Array[Byte](1, -1)))),
        part = Some(Seq(None, Some("v"))), statsVer = Some(3), era = Some(1)),
      FileEntry(st, Some(1L), Map.empty, era = Some(0)))
    shapes.foreach { e =>
      val line = ManifestCodec.encodeEntry(e)
      assert(ManifestCodec.decodeEntry(line) == e, line)
      assert(ManifestCodec.encodeEntry(ManifestCodec.decodeEntry(line)) == line)
    }
  }

  // ---------- manifests real commits write ----------

  private def newTable(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-codec-$tag-").toString + "/tbl"

  private def frame(n: Int = 24): DataFrame = spark.range(n).selectExpr(
    "id",
    "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('n', id % 7, 'ü') END AS name",
    "CASE WHEN id = 3 THEN double('NaN') ELSE id * 1.5 END AS score",
    "CAST(id % 3 AS INT) AS day",
    "CASE WHEN id % 4 = 0 THEN NULL ELSE concat('g', id % 2) END AS grp")

  /** Every published manifest of `t` re-encodes to its exact bytes. */
  private def assertByteIdentical(t: String): Unit = {
    val files = new java.io.File(t, "_commits").listFiles()
      .filter(_.getName.matches("v\\d+\\.txt"))
    assert(files.nonEmpty, t)
    files.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(ManifestCodec.encode(ManifestCodec.decode(lines(text))) == text,
        s"${f.getName} of $t")
    }
  }

  test("flat, Bloom-declared and idempotent commits re-encode byte for byte") {
    val t = newTable("flat")
    SnapshotTable.commit(spark, t, frame().limit(0), overwrite = false)
    SnapshotTable.setBloomColumns(spark, t, Seq("id", "name"))
    SnapshotTable.commitIdempotent(spark, t, frame(), overwrite = false, "w", 3L)
    assert(SnapshotTable.analyze(spark, t).nonEmpty)
    assertByteIdentical(t)
  }

  test("hive, bucketed and hive+bucketed commits re-encode byte for byte") {
    val hive = newTable("hive")
    SnapshotTable.commitPartitionedBy(spark, hive, frame(), Seq("grp", "day"))
    assertByteIdentical(hive)
    val bucketed = newTable("bucketed")
    SnapshotTable.commitBucketed(spark, bucketed, frame(), overwrite = false, 3, "id")
    assertByteIdentical(bucketed)
    val both = newTable("hivebucketed")
    SnapshotTable.commitPartitionedBucketed(spark, both, frame(), Seq("day"), 2, "id")
    assertByteIdentical(both)
  }

  test("maxRecordsPerFile commits re-encode byte for byte") {
    val t = newTable("maxrec")
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, 5L)
    try SnapshotTable.commitPartitionedBy(spark, t, frame().coalesce(1), Seq("day"))
    finally spark.conf.unset(key)
    assert(SnapshotTable.readAsOf(spark, t, Int.MaxValue).inputFiles.length > 3)
    assertByteIdentical(t)
  }

  test("deleteWhere, repartitionBy, addConstraint and dropColumn re-encode byte for byte") {
    val t = newTable("ops")
    SnapshotTable.commit(spark, t, frame(), overwrite = false)
    assert(SnapshotTable.deleteWhere(spark, t, col("id") === 7L).nonEmpty)
    assert(SnapshotTable.absorbDeletes(spark, t).nonEmpty)
    SnapshotTable.repartitionBy(spark, t, Seq("day"))
    SnapshotTable.commitPartitionedBy(spark, t, frame(6), Seq("day"))
    SnapshotTable.addConstraint(spark, t, "pos", "id >= 0")
    SnapshotTable.dropColumn(spark, t, "score")
    assert(SnapshotTable.deleteWhere(spark, t, col("id") === 8L).nonEmpty)
    assert(SnapshotTable.rowCount(spark, t, Int.MaxValue).contains(28L))
    assertByteIdentical(t)
  }

  test("an all-empty-string file keeps its bounds: pruned, and exact in GRAFT STATS") {
    import spark.implicits._
    val t = newTable("emptystr")
    SnapshotTable.commit(spark, t, Seq(("", 1L), ("", 2L)).toDF("s", "id").coalesce(1),
      overwrite = false)
    SnapshotTable.commit(spark, t, Seq(("x", 3L)).toDF("s", "id").coalesce(1),
      overwrite = false)
    val probe = SnapshotTable.readAsOf(spark, t, Int.MaxValue).filter(col("s") === "x")
    assert(probe.collect().map(_.getLong(1)).toSeq == Seq(3L))
    val scanned = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
    assert(scanned == 1, s"the all-'' file must be pruned by s = 'x', scanned $scanned")
    val st = SnapshotTable.metaAgg(spark, t).filter(col("column") === "s").head()
    assert(st.getAs[String]("min_string") == "" && st.getAs[String]("max_string") == "x" &&
      st.getAs[Boolean]("bounds_exact"), st)
  }

  // ---------- legacy forms: refused loudly ----------

  private def rewriteV1(t: String)(f: Seq[String] => Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(t, "_commits", "v00001.txt")
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, f(lines(text)).mkString("\n").getBytes("UTF-8"))
  }

  private def assertRefused(t: String, what: String): Unit = {
    val e = intercept[IllegalStateException](SnapshotTable.readAsOf(spark, t, 1))
    assert(e.getMessage.contains(t) && e.getMessage.contains("v1") &&
      e.getMessage.contains(what), e.getMessage)
  }

  test("a manifest without a #schema: line fails the read, naming table and version") {
    val t = newTable("noschema")
    SnapshotTable.commit(spark, t, frame(), overwrite = false)
    rewriteV1(t)(_.filterNot(_.startsWith("#schema:")))
    assertRefused(t, "#schema:")
  }

  test("bare-path entries fail the read, naming table and version") {
    val t = newTable("barepath")
    SnapshotTable.commit(spark, t, frame(), overwrite = false)
    rewriteV1(t)(_.map(l => if (l.startsWith("#")) l else l.takeWhile(_ != '\t')))
    assertRefused(t, "bare-path")
  }
}
