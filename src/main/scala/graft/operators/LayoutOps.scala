package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}

/** Data-layout management — the operators a 100 TB lake needs BETWEEN
  * queries: multi-dimensional clustering for scan pruning, and small-file
  * compaction for metadata/scan efficiency. The reference engine has no
  * layout surface (its sink is a flat `outputfileNN` directory,
  * `master/__main__.py:448-463`); these are the Spark-native versions of
  * what its operators would need at warehouse scale.
  *
  *  - Z-ORDER: interleave the bits of two dimension keys into a Morton
  *    code and range-partition + sort the data by it. Files then cover
  *    axis-aligned squares of the key space instead of slabs of one
  *    dimension, so parquet min/max (zone-map) pruning works for
  *    predicates on EITHER dimension — the standard multi-dimensional
  *    clustering trick (Delta/Iceberg `ZORDER BY`/sort orders).
  *  - COMPACTION: bin-pack many small files into ~target-size files.
  *    Planning is pure file-listing metadata (no data read); only files
  *    under the small-file threshold are rewritten (ONE shuffle of the
  *    small-file bytes); files already at target size are copied through
  *    byte-identical, so the rewrite cost tracks the small-file fraction,
  *    not the table size.
  */
object LayoutOps extends QueryPack {

  /** Bits per dimension in the Morton code (values are taken mod 2^16;
    * production callers quantize/rank wider domains onto the grid first). */
  private val GridBits = 16
  private val GridSize = 1L << GridBits

  /** Bits per dimension for an n-dim Morton code: the full 16-bit grid
    * for 2–3 dims, 15 for 4 (4×16 would reach the sign bit and break
    * the long range ordering the clustering sorts by). */
  private def bitsPerDim(n: Int): Int = math.min(GridBits, 62 / n)

  /** N-DIMENSIONAL Morton (Z-order) code, 2–4 dims: bit i of dimension
    * d lands at position n·i + d, so each data file covers an
    * axis-aligned HYPER-box of the key space and zone maps prune
    * selective predicates on ANY of the dimensions. Pure integer
    * shift/mask arithmetic — codegen'd by Catalyst into one fused
    * projection, no UDF. The 2-dim case is bit-identical to the
    * original [[zvalue]]. */
  def zvalueN(cols: Seq[Column]): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zvalueN: 2..4 dimensions, got ${cols.size}")
    val n = cols.size
    val bits = bitsPerDim(n)
    val size = 1L << bits
    val qs = cols.map(c => pmod(c.cast("long"), lit(size)))
    (0 until bits).flatMap { i =>
      qs.zipWithIndex.map { case (q, d) =>
        shiftleft(shiftright(q, i).bitwiseAND(lit(1L)), n * i + d)
      }
    }.reduce(_ + _)
  }

  /** Morton (Z-order) code of two keys: bit i of x lands at position 2i,
    * bit i of y at 2i+1 — [[zvalueN]]'s 2-dim case. */
  def zvalue(x: Column, y: Column): Column = zvalueN(Seq(x, y))

  /** The same n-dim Morton code in portable SQL — generated from the
    * SAME loop constants as [[zvalueN]], so the two engines compute
    * bit-identical codes by construction. */
  def zvalueSqlN(cols: Seq[String]): String = {
    val n = cols.size
    val bits = bitsPerDim(n)
    val size = 1L << bits
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, d) =>
        s"(((($c % $size) >> $i) & 1) << ${n * i + d})"
      }
    }.mkString(" + ")
  }

  def zvalueSql(x: String, y: String): String = zvalueSqlN(Seq(x, y))

  /** Write `df` clustered by the Z-order of (xCol, yCol) into `nFiles`
    * range-partitioned, internally sorted parquet files. Range
    * partitioning makes each file own a CONTIGUOUS z-range (an aligned
    * run of grid cells), which is what turns per-file min/max stats into
    * a 2-D pruning index. The helper z-column is dropped before write —
    * the layout, not the schema, carries the clustering. */
  /** The Morton-clustering transform itself — range-partition + sort by
    * the z-code, helper column dropped. ONE definition shared by
    * [[zorderWrite]], [[graft.sources.SnapshotTable.commitZordered]],
    * and [[graft.sources.SnapshotTable.rewriteZordered]], so the write
    * discipline cannot drift between the plain-parquet and
    * snapshot-table paths. */
  def zCluster(df: DataFrame, xCol: String, yCol: String,
      nFiles: Int): DataFrame =
    zClusterWithin(df, Nil, xCol, yCol, nFiles)

  def zorderWrite(df: DataFrame, xCol: String, yCol: String,
      outDir: String, nFiles: Int): Unit =
    zCluster(df, xCol, yCol, nFiles)
      .write.mode("overwrite").parquet(outDir)

  /** Morton clustering WITHIN hive partitions: range-partition by
    * (partition columns, z) so every output stripe is one partition
    * value's contiguous z-run — the time-partitioned + z-clustered
    * production layout (prune the day by directory, then the key box
    * by zone maps inside it). [[zCluster]] is the empty-partCols case
    * — ONE pipeline definition, so the flat and partitioned write
    * disciplines cannot drift. */
  def zClusterWithin(df: DataFrame, partCols: Seq[String],
      xCol: String, yCol: String, nFiles: Int): DataFrame =
    zClusterWithinN(df, partCols, Seq(xCol, yCol), nFiles)

  /** The n-dim generalization (2–4 Z dimensions), shared by the 2-dim
    * wrappers and [[graft.sources.SnapshotTable.rewriteZorderedBy]]. */
  def zClusterWithinN(df: DataFrame, partCols: Seq[String],
      zCols: Seq[String], nFiles: Int): DataFrame = {
    require(nFiles > 0, s"zClusterWithin: nFiles must be positive, got $nFiles")
    val keys = partCols.map(col) :+ col("__graft_z")
    df.withColumn("__graft_z", zvalueN(zCols.map(col)))
      .repartitionByRange(nFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__graft_z")
  }

  /** Declared query: the Morton grid aggregated to 256-cell resolution
    * (drop the low 4 interleaved bit-pairs) over lineitem's
    * (l_partkey, l_suppkey) — per cell: row count and the bounding box of
    * both keys. The bounding boxes demonstrate WHY z-clustering prunes:
    * every cell is an axis-aligned square, so min/max stats of a z-run
    * are tight in both dimensions at once. One scan, one shuffle on the
    * cell id. */
  def layoutZorder(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("cell", shiftright(
        zvalue(col("l_partkey"), col("l_suppkey")), 8))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("cell"))

  /** The 3-DIM Morton code cross-engine: the (partkey, suppkey,
    * linenumber) grid aggregated to coarse cells — the oracle replays
    * [[zvalueSqlN]]'s generated arithmetic, so the engines' 3-dim codes
    * are proven bit-identical (the property the n-dim clustering's
    * pruning soundness rides on; `SnapshotGovernanceSpec` pins the
    * physical per-dimension file skipping itself). */
  def layoutZorder3(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), col("l_linenumber"))
      .withColumn("cell", shiftright(zvalueN(Seq(col("l_partkey"),
        col("l_suppkey"), col("l_linenumber"))), 9))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"),
        min(col("l_linenumber")).as("min_ln"),
        max(col("l_linenumber")).as("max_ln"))
      .orderBy(col("cell"))

  /** What one [[compact]] run did — counts and bytes from the plan
    * (listing) side, so a caller can assert/log the rewrite footprint. */
  final case class CompactionReport(nInputFiles: Int, nSmallFiles: Int,
      nPassthroughFiles: Int, nOutputFiles: Int, smallBytes: Long,
      passthroughBytes: Long)

  private def listParquet(fs: FileSystem, dir: String): Seq[(HPath, Long)] =
    fs.listStatus(new HPath(dir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath, st.getLen))
      .sortBy(_._1.getName)

  /** Bin-pack the parquet files of `inDir` into ~`targetBytes` files in
    * `outDir`. Files >= `smallThreshold` pass through byte-identical (no
    * decode/re-encode); the rest are read ONCE and re-written as
    * `ceil(smallBytes / targetBytes)` round-robin bins — size-balanced by
    * the law of large numbers, no per-bin driver loop, one job. Planning
    * touches only the file listing: at 100 TB the driver cost is the
    * metadata scan, and the rewrite shuffles only the small-file bytes.
    *
    * The whole output is STAGED in a sibling temp dir and swapped into
    * place by renaming the old `outDir` aside and renaming staging in —
    * never an appended mixture, and a retried/re-run compact converges to
    * the same final `outDir`. The swap is two metadata renames, not
    * atomic: a crash between them leaves no `outDir` for one re-run to
    * repair (all bytes remain recoverable from the aside dir + staging;
    * re-running converges).
    *
    * Pass-through cost: with `movePassthrough=true` (default) each large
    * file MIGRATES into the new layout by `fs.rename` — O(1) metadata per
    * file, no bytes move, which is the only sane cost model when the
    * already-compact fraction is most of a 100 TB table (note: this
    * consumes the large files from `inDir`, the normal contract for a
    * layout rewrite that replaces the table directory). With `false` the
    * originals are preserved and the copy runs as ONE distributed job
    * (each task block-copies its files), never a sequential driver loop. */
  def compact(s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, smallThreshold: Long,
      movePassthrough: Boolean = true): CompactionReport = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(inDir), hconf)
    val staging = new HPath(outDir + ".__staging")
    // crash recovery FIRST — before planning and before discarding
    // staging: a prior move-mode run may have already migrated
    // pass-through files into staging and died before the swap, and
    // those files exist nowhere else. Restore them to inDir (idempotent:
    // a clean staging has none) so this run's listing re-plans them,
    // then clear the dir. Without this, re-run-after-crash deletes data.
    if (fs.exists(staging)) {
      fs.listStatus(staging).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("passthrough-"))
        .foreach { st =>
          val orig = new HPath(inDir,
            st.getPath.getName.replaceFirst("passthrough-\\d{5}-", ""))
          // copy-mode runs never consume the original: if it still exists
          // in inDir the staged file is a redundant byte copy — drop it.
          // Only a move-mode orphan (destination absent) must rename back.
          if (fs.exists(orig)) fs.delete(st.getPath, false)
          else require(fs.rename(st.getPath, orig),
            s"crash recovery: could not restore ${st.getPath} to $inDir")
        }
    }
    fs.delete(staging, true)
    val all = listParquet(fs, inDir)
    val (small, big) = all.partition(_._2 < smallThreshold)
    val smallBytes = small.map(_._2).sum
    val nBins = math.max(1,
      math.ceil(smallBytes.toDouble / targetBytes).toInt)
    if (small.nonEmpty)
      s.read.parquet(small.map(_._1.toString): _*)
        .repartition(nBins)
        .write.mode("overwrite").parquet(staging.toString)
    else fs.mkdirs(staging)
    // pass-through names carry an index to dodge sink-file collisions
    val moves = big.zipWithIndex.map { case ((p, _), i) =>
      (p.toString, new HPath(staging, f"passthrough-$i%05d-${p.getName}").toString)
    }
    if (movePassthrough)
      moves.foreach { case (src, dst) =>
        // Hadoop rename reports failure by RETURNING false (cross-fs
        // move, dest problems) — silently losing a file from the plan
        // is not acceptable, so fail loudly
        require(fs.rename(new HPath(src), new HPath(dst)),
          s"pass-through rename failed: $src -> $dst")
      }
    else if (moves.nonEmpty) {
      // distributed byte copy: one job, each task copies its slice
      val serConf = new org.apache.spark.util.SerializableConfiguration(hconf)
      s.sparkContext
        .parallelize(moves, math.min(moves.size, 32))
        .foreach { case (src, dst) =>
          val tfs = FileSystem.get(new java.net.URI(src), serConf.value)
          FileUtil.copy(tfs, new HPath(src), tfs, new HPath(dst),
            false, serConf.value)
        }
    }
    // swap: rename the old layout aside (one metadata op — readers lose
    // outDir for two renames, not for a full recursive delete), bring
    // staging in, THEN drop the old bytes. A crash mid-swap strands data
    // in `.__old`/staging but loses nothing; re-run converges.
    val outPath = new HPath(outDir)
    val aside = new HPath(outDir + ".__old")
    fs.delete(aside, true)
    val hadOld = fs.exists(outPath)
    if (hadOld) require(fs.rename(outPath, aside),
      s"swap failed: could not move old $outDir aside")
    require(fs.rename(staging, outPath),
      s"staging swap failed: $staging -> $outDir (output stranded in staging)")
    if (hadOld) fs.delete(aside, true)
    CompactionReport(all.size, small.size, big.size,
      listParquet(fs, outDir).size, smallBytes, big.map(_._2).sum)
  }

  /** Scratch dirs backing lazy compaction results — reclaimed at the
    * next [[graft.CacheRegistry.clear]] pass boundary (same contract as
    * the streaming sink dirs). */
  private val tmpDirs = java.util.Collections.synchronizedList(
    new java.util.ArrayList[java.nio.file.Path]())
  graft.CacheRegistry.onClear(() => {
    tmpDirs.forEach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(p.toFile)
    }
    tmpDirs.clear()
  })

  /** Declared query: scatter lineitem into 64 small files, compact them
    * to ~1/8 of the total, and prove CONTENT PRESERVATION by emitting
    * order-independent integer checksums of the compacted output — which
    * the oracle computes from the original table. The checksum row is
    * exact integer arithmetic (quantity is a 2-dp value, so ×100 rounds
    * to the same integer in any engine). */
  def layoutCompaction(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_layout_")
    tmpDirs.add(root)
    val scatter = root.resolve("scatter").toString
    val out = root.resolve("compact").toString
    Tables.lineitem(s, d).repartition(64)
      .write.mode("overwrite").parquet(scatter)
    val fs = FileSystem.get(new java.net.URI(scatter),
      s.sparkContext.hadoopConfiguration)
    val total = listParquet(fs, scatter).map(_._2).sum
    compact(s, scatter, out, targetBytes = math.max(total / 8, 1L),
      smallThreshold = Long.MaxValue)
    // a zero-row table scatters to zero data files, so the compacted dir
    // has nothing to infer a schema from — aggregate the (empty) source
    // relation instead: same (0, NULL, NULL, NULL) row the oracle yields
    val compacted =
      if (listParquet(fs, out).isEmpty) Tables.lineitem(s, d).filter(lit(false))
      else s.read.parquet(out)
    compacted.agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey")).as("sum_order"),
      sum(round(col("l_quantity") * 100, 0).cast("long")).as("sum_qty_c"),
      sum(pmod(col("l_orderkey") * 1000003L + col("l_linenumber") * 7919L +
        col("l_partkey") * 31L + col("l_suppkey"), lit(1000000007L)))
        .as("poly_sum"))
  }

  /** Stable global sequence numbers in key order — the distributed
    * "zipWithIndex" a training-data writer needs for deterministic
    * record addressing. The naive formulation (`row_number() OVER
    * (ORDER BY key)`) collapses to ONE task holding the whole corpus;
    * this is the scalable identity instead ([[SkewUtils.globalRank]]):
    * range-repartition by key, per-partition local row numbers
    * (parallel), plus per-partition offsets broadcast back —
    * bit-identical to the naive global window, which is exactly what
    * the oracle proves. */
  def layoutGlobalIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    SkewUtils.globalRank(docs, Seq(col("doc_id")), "global_seq")
      .select(col("doc_id"), col("global_seq"), col("nc").as("n_chars_v"))
      .orderBy(col("global_seq"))
  }

  /** Versioned-table time travel end to end on
    * [[graft.sources.SnapshotTable]]: three commits (base load, append,
    * overwrite) against a scratch table, then one snapshot read per
    * version — each must see EXACTLY its manifest's file set (the append
    * visible only from v2, the overwrite replacing everything at v3,
    * earlier versions untouched by later commits). Output is the
    * per-version rollup the oracle recomputes from the same doc_id
    * partitioning rules. */
  def layoutSnapshots(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 0), overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 1), overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 2), overwrite = true)
    (1 to 3).map { v =>
      val snap = graft.sources.SnapshotTable.readAsOf(s, table, v)
      // a zero-row corpus commits no data files, so the snapshot has no
      // schema to infer — aggregate the (empty) source relation instead
      // (the layoutCompaction convention)
      val rel = if (snap.columns.isEmpty) docs.filter(lit(false)) else snap
      rel
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(v.toLong).as("version"), col("n_docs"),
          col("sum_chars"), col("sum_ids"))
    }.reduce(_ unionByName _)
      .filter(col("n_docs") > 0)
      .orderBy(col("version"))
  }

  /** MERGE into the versioned table: base-load the `%3==0` slice, then
    * one [[graft.sources.SnapshotTable.merge]] that (a) updates every
    * even-id row (chars bumped by 1000), (b) inserts the `%3==1` slice,
    * and (c) deletes the `%9==0` ids — the upsert/delete/insert triple
    * every CDC apply needs, landing as ONE atomic overwrite commit.
    * Output: the post-merge rollup plus the untouched v1 rollup (time
    * travel proves the merge rewrote forward, not in place). */
  def layoutSnapshotMerge(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_smrg_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    val base = docs.filter(col("doc_id") % 3 === 0)
    graft.sources.SnapshotTable.commit(s, table, base, overwrite = false)
    val upserts = base.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), (col("nc") + 1000L).as("nc"))
      .unionByName(docs.filter(col("doc_id") % 3 === 1))
    val deletes = docs.filter(col("doc_id") % 9 === 0).select(col("doc_id"))
    graft.sources.SnapshotTable.merge(s, table, upserts, deletes, "doc_id")
    def roll(v: Int) = {
      val snap = graft.sources.SnapshotTable.readAsOf(s, table, v)
      val rel = if (snap.columns.isEmpty) docs.filter(lit(false)) else snap
      rel.agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(v.toLong).as("version"), col("n_docs"),
          col("sum_chars"), col("sum_ids"))
    }
    roll(1).unionByName(roll(2))
      .filter(col("n_docs") > 0).orderBy(col("version"))
  }

  /** Zone-map data skipping end to end: land lineitem in a snapshot
    * table RANGE-CLUSTERED by order key (the write-side layout
    * discipline — same idea as Z-order, one dimension), then probe
    * three narrow key bands. Each probe's filter is pruned against the
    * manifest's per-file min/max at PLAN time, so a band touches ~1 of
    * the 8 range files — the query reads band-sized data, not
    * table-sized, with zero filesystem calls to decide. The oracle
    * recomputes the same three bands over the raw table; agreement
    * proves skipping never drops a matching row. Band bounds are exact
    * integer arithmetic on max(l_orderkey) so both engines derive
    * identical literals. */
  def layoutSnapshotPrune(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_sprune_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val li = Tables.lineitem(s, d).filter(col("l_orderkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    graft.sources.SnapshotTable.commit(s, table,
      li.repartitionByRange(8, col("l_orderkey")), overwrite = false)
    val snap = graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
    val rel = if (snap.columns.isEmpty) li.filter(lit(false)) else snap
    val mx = Option(li.agg(max(col("l_orderkey"))).head().get(0))
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    (1 to 3).map { k =>
      val lo = mx / 10 * (k * 3) // bands at 30/60/90% of the key space
      val hi = lo + mx / 100     // each 1% wide
      rel.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")), lit(0L))
            .as("sum_qty_c"),
          coalesce(sum(col("l_partkey")), lit(0L)).cast("long").as("sum_pk"))
        .select(lit(k.toLong).as("band"), col("n_rows"), col("sum_qty_c"),
          col("sum_pk"))
    }.reduce(_ unionByName _)
      .filter(col("n_rows") > 0)
      .orderBy(col("band"))
  }

  /** Change-feed (CDF) semantics end to end on
    * [[graft.sources.SnapshotTable.readChanges]]: the same three
    * commits as [[layoutSnapshots]] (append, append, overwrite), then
    * the per-step change feed — step 1→2 is a pure append (served by
    * the zero-compute added-files fast path: the feed's scan reads
    * ONLY the new files), step 2→3 crosses an overwrite (exact
    * multiset diff: every pre-overwrite row deleted, the new slice
    * inserted). The oracle restates both deltas in closed form. */
  def layoutSnapshotChanges(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_schg_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 0), overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 1), overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 2), overwrite = true)
    (1 to 2).map { step =>
      val ch = graft.sources.SnapshotTable.readChanges(s, table, step, step + 1)
      val rel =
        if (ch.columns.isEmpty)
          docs.filter(lit(false))
            .select(lit("insert").as("change_type"), col("doc_id"), col("nc"))
        else ch
      rel.groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"),
          sum(col("nc")).as("sum_chars"))
        .select(lit(step.toLong).as("step"), col("change_type"),
          col("n_rows"), col("sum_ids"), col("sum_chars"))
    }.reduce(_ unionByName _)
      .filter(col("n_rows") > 0)
      .orderBy(col("step"), col("change_type"))
  }

  /** Exchange-free co-located join over BUCKETED snapshot tables:
    * orders and customer are committed hash-clustered by customer key
    * (8 buckets each) via
    * [[graft.sources.SnapshotTable.commitBucketed]], so the join runs
    * WITHOUT shuffling either side — the scan itself reports the hash
    * partitioning the join needs. At 100 TB this is the difference
    * between re-shuffling the fact table on every query and paying the
    * cluster once at write time (`SnapshotBucketSpec` + the PlanCheck
    * exchange budget pin the no-shuffle plan; this oracle pins that
    * bucket routing never loses a row). */
  def layoutSnapshotBucketed(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_sbkt_")
    tmpDirs.add(root)
    val to = root.resolve("orders").toString
    val tc = root.resolve("cust").toString
    graft.sources.SnapshotTable.commitBucketed(s, to,
      Tables.orders(s, d).filter(col("o_custkey").isNotNull)
        .select(col("o_custkey"), col("o_totalprice")),
      overwrite = false, nBuckets = 8, bucketCol = "o_custkey")
    graft.sources.SnapshotTable.commitBucketed(s, tc,
      Tables.customer(s, d).filter(col("c_custkey").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment")),
      overwrite = false, nBuckets = 8, bucketCol = "c_custkey")
    val o = graft.sources.SnapshotTable.readAsOf(s, to, 1)
    val c = graft.sources.SnapshotTable.readAsOf(s, tc, 1)
    if (o.columns.isEmpty || c.columns.isEmpty)
      return s.emptyDataFrame.withColumn("c_mktsegment", lit(""))
        .withColumn("n_orders", lit(0L)).withColumn("sum_price_c", lit(0L))
        .filter(lit(false))
        .select(col("c_mktsegment"), col("n_orders"), col("sum_price_c"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sum_price_c"))
      .orderBy(col("c_mktsegment"))
  }

  /** MERGE-ON-READ deletes end to end on
    * [[graft.sources.SnapshotTable.deleteWhere]]: land the corpus
    * range-clustered (step 1), delete a non-key slice as a
    * METADATA-ONLY deletion-vector commit (step 2 — no data file
    * rewritten; the read subtracts the vectors with one anti-join),
    * then [[graft.sources.SnapshotTable.absorbDeletes]] rewrites only
    * the touched files (step 3 — must read back identically to
    * step 2). `meta_rows` is the MANIFEST-ONLY row count at each step:
    * agreement with `n_docs` pins the vector arithmetic (each live
    * position deleted at most once) without a scan. Steps are logical
    * (a corpus where nothing matches publishes no delete version and
    * steps 2/3 equal step 1 == the oracle's NOT-filter keeping all). */
  /** Hive-partitioned snapshot layout end to end
    * ([[graft.sources.SnapshotTable.commitPartitioned]]): orders land
    * under `o_orderpriority=<v>/` directories across TWO appends (the
    * layout must hold as partitions accrete files), the partition
    * column is stored ONLY in directory names + manifest (zero bytes in
    * data files), and the read reconstructs it per file — the group-by
    * below agreeing with the raw-parquet oracle proves no row changed
    * partitions and no value was lost in the round trip. Partition
    * PRUNING (directory-level `listFiles` elimination) is asserted
    * plan-side in `SnapshotPartitionSpec`. */
  def layoutSnapshotPartitioned(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_spart_")
    tmpDirs.add(root)
    val table = root.resolve("orders").toString
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_orderpriority").isNotNull)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    graft.sources.SnapshotTable.commitPartitioned(s, table,
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0), "o_orderpriority")
    graft.sources.SnapshotTable.commitPartitioned(s, table,
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1), "o_orderpriority")
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("sum_price_c"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bucket-WITHIN-partition layout end to end
    * ([[graft.sources.SnapshotTable.commitPartitionedBucketed]] —
    * Iceberg's partition + bucket-transform shape): orders land under
    * `o_orderpriority=<v>/` directories, hash-bucketed by customer key
    * INSIDE each directory; customer lands flat-bucketed on the same
    * key and bucket count. The query below is the canonical event-store
    * shape — restrict to two partitions (directory pruning), join on
    * the bucket key (the scan reports the hash partitioning, so the
    * join plans exchange-free on the orders side; asserted in
    * `SnapshotPartBucketSpec`) — and its oracle pins that neither the
    * directory filing nor the bucket stamping lost or duplicated a
    * single row (a mis-stamped bucket id silently DROPS join matches,
    * the worst failure mode of this layout). */
  def layoutPartitionedBucketed(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_pbkt_")
    tmpDirs.add(root)
    val to = root.resolve("orders").toString
    val tc = root.resolve("cust").toString
    graft.sources.SnapshotTable.commitPartitionedBucketed(s, to,
      Tables.orders(s, d)
        .filter(col("o_custkey").isNotNull && col("o_orderpriority").isNotNull)
        .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice")),
      partitionBy = Seq("o_orderpriority"), nBuckets = 8,
      bucketCol = "o_custkey")
    graft.sources.SnapshotTable.commitBucketed(s, tc,
      Tables.customer(s, d).filter(col("c_custkey").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment")),
      overwrite = false, nBuckets = 8, bucketCol = "c_custkey")
    val o = graft.sources.SnapshotTable.readAsOf(s, to, 1)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    val c = graft.sources.SnapshotTable.readAsOf(s, tc, 1)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderpriority"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("sum_price_c"))
      .orderBy(col("o_orderpriority"), col("c_mktsegment"))
  }

  /** Partition EVOLUTION ([[graft.sources.SnapshotTable.relayout]]):
    * documents land FLAT (v1), then one atomic relayout commit rewrites
    * the live rows into `bucket=<doc_id % 4>/` hive directories (v2).
    * Both versions are rolled up: agreement pins that the rewrite
    * preserved every row and that time travel still serves the
    * pre-evolution layout — the migrating user's "repartition my 100 TB
    * table by day" without losing history. */
  def layoutRelayout(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_rely_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 4).cast("long").as("bucket"))
    graft.sources.SnapshotTable.commit(s, table, docs, overwrite = false)
    graft.sources.SnapshotTable.relayout(s, table,
      partitionBy = Seq("bucket"))
    (1 to 2).map { v =>
      graft.sources.SnapshotTable.readAsOf(s, table, v)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(v.toLong).as("version"), col("bucket"), col("n_docs"),
          col("sum_chars"), col("sum_ids"))
    }.reduce(_ unionByName _)
      .filter(col("n_docs") > 0)
      .orderBy(col("version"), col("bucket"))
  }

  /** Per-bucket compaction end to end
    * ([[graft.sources.SnapshotTable.compactBuckets]]): three bucketed
    * appends fragment every bucket to three files; the pack rewrites
    * them back to ONE sorted file per bucket as one commit. The result
    * pins the physical invariant (exactly 8 files — one per bucket —
    * and version 4 published) alongside the content rollup: agreement
    * with the raw-orders oracle proves the re-hash routed every row
    * back to its own bucket (a migrated row would double in one bucket
    * file and vanish from another, skewing nothing visible to a scan
    * that ignores bucket ids — the rollup alone would NOT catch it,
    * which is why `SnapshotPartBucketSpec` additionally pins join
    * parity; here the file count pins the pack happened at all). */
  def layoutBucketPack(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_bpack_")
    tmpDirs.add(root)
    val table = root.resolve("orders").toString
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    (0 to 2).foreach { k =>
      graft.sources.SnapshotTable.commitBucketed(s, table,
        o.filter(pmod(col("o_orderkey"), lit(3)) === k),
        overwrite = false, nBuckets = 8, bucketCol = "o_custkey")
    }
    val packed = graft.sources.SnapshotTable.compactBuckets(s, table)
    val v = packed.getOrElse(-1)
    val snap = graft.sources.SnapshotTable.readAsOf(s, table,
      math.max(v, 1))
    val nFiles = snap.inputFiles.length.toLong
    snap.agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("sum_price_c"),
        countDistinct(col("o_custkey")).as("n_custkeys"))
      .select(col("n_orders"), col("sum_price_c"), col("n_custkeys"),
        lit(nFiles).as("n_files"), lit(v.toLong).as("version"))
      .filter(col("n_orders") > 0)
  }

  /** The PLANNER-visible catalog statistics, oracle-checked
    * ([[graft.sources.SnapshotTable.plannerStats]] — what CBO actually
    * consumes): orders land across TWO appends (so the NDV sketch and
    * min/max exercise the manifest MERGE path, not just one commit),
    * and the oracle recomputes every field in closed form — exact row
    * and null counts, the string column's byte-exact avg width, long
    * AND timestamp_ntz min/max in catalog external-string form
    * (strftime/epoch_us parity), and the KMV NDV estimate replayed
    * hash-for-hash (bottom-64 of md5 prefixes). */
  def layoutPlannerStats(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_pstats_")
    tmpDirs.add(root)
    val table = root.resolve("orders").toString
    val o = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
    (0 to 1).foreach { k =>
      graft.sources.SnapshotTable.commit(s, table,
        o.filter(pmod(col("o_orderkey"), lit(2)) === k), overwrite = false)
    }
    graft.sources.SnapshotTable.plannerStats(s, table)
      // a zero-row corpus still has catalog stats rows (all-zero) —
      // the declared result carries DATA rows only
      .filter(col("row_count") > 0)
      .select(col("column"), col("data_type"), col("row_count"),
        col("distinct_count"), col("null_count"), col("avg_len"),
        col("min"), col("max"))
      .orderBy(col("column"))
  }

  /** Execute one GRAFT SQL statement through the injected parser — the
    * same code path a `spark.sql.extensions`-configured session takes,
    * constructed explicitly so the declared query exercises the SQL
    * doorway even under a plain session (the driver's Verify). */
  private def graftSql(s: SparkSession, sql: String): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(s,
      new graft.sources.GraftSqlParser(s.sessionState.sqlParser, Some(s))
        .parsePlan(sql))

  /** The SQL DML doorway end to end: `GRAFT MERGE INTO ... USING
    * (<select>) ON key DELETE (<select>)` upserts/removes by key with
    * the selective-rewrite cost model, then `GRAFT DELETE FROM ...
    * WHERE` lands a merge-on-read deletion-vector delete — both driven
    * PURELY through SQL text (the scheduled-SQL-job-runner shape; no
    * Scala API calls touch the rows). The oracle restates the
    * upsert-then-delete pipeline relationally. */
  def layoutSqlMerge(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_sqldml_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 40).cast("long").as("bucket"))
    graft.sources.SnapshotTable.commit(s, table, docs, overwrite = false)
    docs.createOrReplaceTempView("graft_sqldml_docs")
    graftSql(s,
      s"""GRAFT MERGE INTO '$table' USING (
         |  SELECT doc_id, nc + 100L AS nc, bucket
         |  FROM graft_sqldml_docs
         |  WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
         |) ON doc_id DELETE (
         |  SELECT doc_id FROM graft_sqldml_docs WHERE doc_id % 7 = 0
         |)""".stripMargin).collect()
    graftSql(s, s"GRAFT DELETE FROM '$table' WHERE nc > 20000").collect()
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_nc"))
      .orderBy(col("bucket"))
  }

  /** `GRAFT CHANGES` end to end — the SQL doorway to the change feed a
    * SQL-only consumer needs (MV refresh, CDC export): v1 lands the
    * %3==0 docs, v2 appends the %3==1 slice (a pure append chain — the
    * feed serves EXACTLY the added files, zero diff compute), v3 lands
    * a deletion-vector DELETE of the %6==0 rows. `GRAFT CHANGES FROM 1
    * TO 3` then reports inserts = the appended slice and deletes = the
    * removed rows, aggregated per change_type; the oracle restates both
    * sets in closed form. */
  def layoutSqlChanges(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlchg_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 0), overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 1), overwrite = false)
    graftSql(s, s"GRAFT DELETE FROM '$table' WHERE doc_id % 6 = 0")
      .collect()
    graftSql(s, s"GRAFT CHANGES '$table' FROM 1 TO 3")
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_id"),
        sum(col("nc")).as("sum_nc"))
      .orderBy(col("change_type"))
  }

  /** `GRAFT UPDATE` end to end: orders land clustered on the key, then
    * ONE SQL statement updates a sparse slice (every 10th key gets its
    * customer shifted into a reserved band) — the candidate probe is
    * zone-map-pruned and only files holding matches are rewritten; the
    * oracle restates the conditional assignment relationally. */
  def layoutSqlUpdate(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_squpd_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("cust"))
    graft.sources.SnapshotTable.commitClustered(s, table, o,
      overwrite = false, nFiles = 8, clusterCols = Seq("okey"))
    graftSql(s, s"GRAFT UPDATE '$table' SET cust = cust + 10000000 " +
      "WHERE okey % 10 = 0").collect()
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy((col("cust") >= 10000000L).as("updated"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cust")).as("sum_cust"))
      .orderBy(col("updated"))
  }

  /** Metadata-only RENAME COLUMN end to end: half the orders land, the
    * key column renames (ONE manifest publish, zero files touched),
    * the other half appends under the NEW name — then one aggregate
    * reads BOTH epochs through one scan (pre-rename files store the
    * old physical name; the alias projection unifies them). The oracle
    * restates the union with the final name. */
  def layoutRename(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_ren_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("cust"))
    graft.sources.SnapshotTable.commit(s, table,
      o.filter(pmod(col("okey"), lit(2)) === 0), overwrite = false)
    graft.sources.SnapshotTable.renameColumn(s, table, "cust", "customer")
    graft.sources.SnapshotTable.commit(s, table,
      o.filter(pmod(col("okey"), lit(2)) === 1)
        .select(col("okey"), col("cust").as("customer")),
      overwrite = false)
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy(pmod(col("customer"), lit(50)).as("cband"))
      .agg(count(lit(1)).as("n_orders"), sum(col("okey")).as("sum_okey"))
      .orderBy(col("cband"))
  }

  /** Declared-column per-file Bloom end to end: orders land as FOUR
    * interleaved (unclustered) slices — every file's o_orderkey range
    * spans the whole domain, so zone maps cannot prune a point probe —
    * then [[graft.sources.SnapshotTable.setBloomColumns]] declares the
    * key and ANALYZE backfills the pre-declaration file. The probe
    * (the max orderkey, one row) then plans a strict subset of files
    * from Bloom refutation alone; `SnapshotBloomSpec` pins the scan
    * metrics, this declared query pins the ANSWER against the oracle. */
  def layoutBloomProbe(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_blm_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull)
      .select(col("o_orderkey").as("okey"), col("o_custkey").as("cust"))
    graft.sources.SnapshotTable.commit(s, table,
      o.filter(pmod(col("okey"), lit(4)) === 0).repartition(1),
      overwrite = false)
    graft.sources.SnapshotTable.setBloomColumns(s, table, Seq("okey"))
    (1 to 3).foreach(i =>
      graft.sources.SnapshotTable.commit(s, table,
        o.filter(pmod(col("okey"), lit(4)) === i).repartition(1),
        overwrite = false))
    graft.sources.SnapshotTable.analyze(s, table)
    // zero-row corpus: no max key to probe — the empty relation, not an
    // NPE (the EmptyCorpusSpec sweep contract)
    val kRow = o.agg(max(col("okey"))).head()
    if (kRow.isNullAt(0))
      return o.select(col("okey"), col("cust")).filter(lit(false))
    val k = kRow.getLong(0)
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .filter(col("okey") === k)
      .select(col("okey"), col("cust"))
  }

  /** Struct-leaf (nested) zone maps end to end: documents land with
    * their interesting columns one struct level down (`meta.lang`,
    * `meta.nc`, `meta.prov.src` — the crawl-schema shape), committed
    * as FOUR nc-banded slices so each file's `meta.nc` zone is
    * disjoint. The band query `WHERE meta.nc >= 200 AND meta.nc < 500`
    * then plans a strict subset of files from the manifest's DOTTED
    * stat keys ([[graft.sources.SnapshotTable]] statCols;
    * `SnapshotNestedStatsSpec` pins the scan metrics) — this declared
    * query pins the ANSWER against the oracle, which restates the
    * band + group over the flat table. At 100 TB, nested-field
    * skipping is what keeps `WHERE meta.k = v` from reading every
    * file of an event table. */
  def layoutNestedPrune(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_nst_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        struct(
          coalesce(col("lang"), lit("und")).as("lang"),
          coalesce(col("n_chars"), lit(0L)).as("nc"),
          struct(coalesce(col("source"), lit("")).as("src")).as("prov"))
          .as("meta"))
    val bands = Seq((0L, 200L), (200L, 500L), (500L, 1000L),
      (1000L, Long.MaxValue))
    bands.foreach { case (lo, hi) =>
      graft.sources.SnapshotTable.commit(s, table,
        docs.filter(col("meta.nc") >= lo && col("meta.nc") < hi)
          .repartition(1),
        overwrite = false) }
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .filter(col("meta.nc") >= 200L && col("meta.nc") < 500L)
      .groupBy(col("meta.lang").as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("meta.nc")).as("sum_nc"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("lang"))
  }

  /** Map-key zone maps end to end (`GRAFT STATS KEYS`): documents land
    * with their metadata in a `map<string,string>` column (the
    * crawl-attrs shape — keys unknown at schema time, so per-key stats
    * are OPT-IN, the Bloom-declaration discipline). The history crosses
    * the declaration: slice 1 lands BEFORE it (no stats — the pruner
    * keeps the file, sound), slices 2-3 after (per-file
    * `attrs['lang']` bounds), and `GRAFT ANALYZE` backfills slice 1.
    * The probe `WHERE attrs['lang'] = 'en'` then plans a strict file
    * subset from the manifest (`SnapshotMapStatsSpec` pins the scan
    * metrics); this declared query pins the ANSWER against the oracle,
    * restated over the flat columns. At 100 TB, per-key map skipping
    * is what keeps `attrs['lang'] = v` from reading every file of a
    * metadata-bearing corpus. */
  def layoutMapPrune(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_mapst_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("lang"), lit("und")).as("lg"),
        map(lit("lang"), coalesce(col("lang"), lit("und")),
          lit("src"), coalesce(col("source"), lit(""))).as("attrs"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("lg") === "en").drop("lg").repartition(1),
      overwrite = false)
    graftSql(s, s"GRAFT STATS KEYS '$table' (attrs['lang'])").collect()
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("lg") === "zh").drop("lg").repartition(1),
      overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("lg") =!= "en" && col("lg") =!= "zh").drop("lg")
        .repartition(1),
      overwrite = false)
    graft.sources.SnapshotTable.analyze(s, table)
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .filter(col("attrs")("lang") === "en")
      .groupBy(col("attrs")("src").as("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"))
      .orderBy(col("src"))
  }

  /** Array-element membership skipping end to end (`GRAFT BLOOM` on an
    * array column): documents land with their labels in an
    * `array<string>` column (the crawl tag/label shape — the third
    * common metadata layout after struct leaves and map keys), in
    * lang-banded slices so each file's element universe is disjoint.
    * The history crosses the declaration: slice 1 lands BEFORE it (no
    * element stats — kept by the pruner, sound), slices 2-3 after
    * (per-file element bounds + a 1 KiB element Bloom), and `GRAFT
    * ANALYZE` backfills slice 1. The probe
    * `array_contains(tags, 'lang:en')` then plans a strict file subset
    * from the manifest (`SnapshotArrayBloomSpec` pins the scan
    * metrics); this declared query pins the ANSWER against the oracle,
    * restated over the flat columns. At 100 TB, element skipping is
    * what keeps `array_contains(labels, v)` from reading every file of
    * a tagged corpus. */
  def layoutArrayPrune(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_arrb_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("lang"), lit("und")).as("lg"),
        array(
          concat(lit("lang:"), coalesce(col("lang"), lit("und"))),
          concat(lit("src:"), coalesce(col("source"), lit(""))))
          .as("tags"),
        coalesce(col("source"), lit("")).as("src"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("lg") === "en").drop("lg").repartition(1),
      overwrite = false)
    graftSql(s, s"GRAFT BLOOM '$table' (tags)").collect()
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("lg") === "zh").drop("lg").repartition(1),
      overwrite = false)
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("lg") =!= "en" && col("lg") =!= "zh").drop("lg")
        .repartition(1),
      overwrite = false)
    graft.sources.SnapshotTable.analyze(s, table)
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .filter(array_contains(col("tags"), "lang:en"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"))
      .orderBy(col("src"))
  }

  /** Partition evolution end to end (`GRAFT REPARTITION ... BY`): the
    * events feed starts life FLAT (era 0), one metadata-only statement
    * switches the scheme to hive-by-event-type, and two more slices
    * land under `etype=<v>/` directories (era 1) — zero files
    * rewritten at the switch. The mixed-era read plans each era under
    * ITS OWN layout (old files answer `etype` from their stored data
    * column + zone maps, new files from directory pruning —
    * `SnapshotPartEvolutionSpec` pins the per-era strict file
    * subsets); this declared query pins the ANSWER over the whole
    * history against the oracle's flat restatement. At 100 TB,
    * re-partitioning by rewrite is a non-starter — scheme changes must
    * be metadata-only or they never happen. */
  def layoutPartitionEvolution(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_pevo_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val ev = Tables.events(s, d).filter(col("event_id").isNotNull)
      .select(col("event_id"),
        coalesce(col("event_type"), lit("unk")).as("etype"),
        coalesce(col("user_id"), lit(0L)).as("uid"))
    graft.sources.SnapshotTable.commit(s, table,
      ev.filter(pmod(col("event_id"), lit(3)) === 0), overwrite = false)
    graftSql(s, s"GRAFT REPARTITION '$table' BY (etype)").collect()
    (1 to 2).foreach(k =>
      graft.sources.SnapshotTable.commitPartitionedBy(s, table,
        ev.filter(pmod(col("event_id"), lit(3)) === k), Seq("etype")))
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .filter(col("etype") === "click" || col("etype") === "view")
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n_events"), sum(col("uid")).as("sum_uid"),
        sum(col("event_id")).as("sum_eid"))
      .orderBy(col("etype"))
  }

  /** Immutable snapshot TAGS end to end (`GRAFT TAG` — the
    * dataset-reproducibility pin): two training slices land, a `gold`
    * tag pins that exact state, then the table keeps moving (an
    * overwrite replaces everything) AND a vacuum tight enough to
    * expire every untagged old version runs — yet `tag=gold` (the
    * source's tag option, same doorway as versionAsOf) still serves
    * the pinned state byte-for-byte, because vacuum treats tagged
    * versions as retained (`SnapshotTagSpec` pins the file survival).
    * The oracle restates the pinned two-slice state flat. At 100 TB
    * this is what "the eval set is frozen as of v2" means — a pin
    * that survives retention policy, not a copy. */
  def layoutTagRead(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tag_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 0), overwrite = false) // v1
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 1), overwrite = false) // v2
    graftSql(s, s"GRAFT TAG '$table' CREATE gold AS OF 2").collect()
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("doc_id") % 3 === 2), overwrite = true)  // v3
    graftSql(s, s"GRAFT VACUUM '$table' KEEP 1").collect()
    s.read.format("graft.sources.SnapshotSourceProvider")
      .option("path", table).option("tag", "gold").load()
      .groupBy((col("doc_id") % 10).as("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_nc"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("band"))
  }

  /** Row-level DML ACROSS partition-scheme eras (`GRAFT REPARTITION`
    * then `GRAFT UPDATE`): the events feed starts flat (era 0), one
    * metadata-only statement evolves it to hive-by-event-type, two
    * more slices land under `etype=<v>/` (era 1) — and then ONE
    * ordinary UPDATE spans BOTH eras: the probe plans per era
    * (directory pruning on the new, zone maps on the old), only
    * key-bearing files in each era rewrite, and every rewritten file
    * re-lands under the CURRENT scheme — so DML incrementally
    * migrates the table instead of refusing on it (the Iceberg
    * partition-evolution contract; `SnapshotPartEvolutionSpec` pins
    * the strict per-era rewrite sets). The oracle restates the whole
    * history flat with the update applied in closed form. At 100 TB,
    * a table that can evolve its partitioning but then can't be
    * updated has traded one full rewrite for another — this is the
    * op that makes evolution a usable lifecycle. */
  def layoutEvolvedUpdate(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_evup_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val ev = Tables.events(s, d).filter(col("event_id").isNotNull)
      .select(col("event_id"),
        coalesce(col("event_type"), lit("unk")).as("etype"),
        coalesce(col("user_id"), lit(0L)).as("uid"))
    // era 0 lands etype-BANDED (range-clustered flat files) so the
    // later cross-era probe rewrites a strict subset of old-era
    // files — bands holding no click stay by reference in era 0 and
    // the post-update read stays honestly mixed-era
    graft.sources.SnapshotTable.commit(s, table,
      ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .repartitionByRange(4, col("etype")), overwrite = false)
    graftSql(s, s"GRAFT REPARTITION '$table' BY (etype)").collect()
    (1 to 2).foreach(k =>
      graft.sources.SnapshotTable.commitPartitionedBy(s, table,
        ev.filter(pmod(col("event_id"), lit(3)) === k), Seq("etype")))
    // the cross-era UPDATE: every click row takes the bump, whichever
    // era's file it lives in
    graftSql(s,
      s"GRAFT UPDATE '$table' SET uid = uid + 1000000 " +
        "WHERE etype = 'click'").collect()
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n_events"), sum(col("uid")).as("sum_uid"),
        sum(col("event_id")).as("sum_eid"))
      .orderBy(col("etype"))
  }

  /** Write-audit-publish end to end (`GRAFT BRANCH` / `GRAFT
    * PUBLISH`): main starts with slice A of the documents; a BRANCH
    * takes slice B plus a quality fix (an UPDATE doubling short docs'
    * counted chars — the audit stage runs on the branch, main never
    * sees unreviewed rows); meanwhile main itself keeps ingesting
    * (slice C lands AFTER the fork). PUBLISH then file-granularity
    * REBASES the branch onto the moved main as ONE atomic commit —
    * the fix applied on the branch survives, main's concurrent
    * ingest survives, and nothing is double-counted. The oracle
    * replays the whole pipeline in closed form. At 100 TB this is how
    * risky batch transforms ship: staged on a zero-copy branch,
    * audited, then published without blocking ingestion. */
  def layoutBranchPublish(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_wap_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 3).cast("long").as("slice"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("slice") === 0), overwrite = false) // main: A
    graftSql(s, s"GRAFT BRANCH '$table' CREATE fix").collect()
    val b = graft.sources.SnapshotTable.branchDir(table, "fix")
    graft.sources.SnapshotTable.commit(s, b,
      docs.filter(col("slice") === 1), overwrite = false) // branch: B
    // the audited transform, on the branch only: short docs re-counted
    graftSql(s, s"GRAFT UPDATE '$b' SET nc = nc * 2 WHERE nc < 100")
      .collect()
    // main keeps ingesting AFTER the fork — publish must rebase
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("slice") === 2), overwrite = false) // main: C
    graftSql(s, s"GRAFT PUBLISH '$table' fix").collect()
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_nc"))
      .orderBy(col("slice"))
  }

  /** Write-audit-publish with MERGE-ON-READ deletes composing across
    * the publish (`GRAFT BRANCH` / `GRAFT DELETE FROM` / `GRAFT
    * PUBLISH`): main starts with slice A; a branch takes slice B and
    * runs a compliance DELETE (doc_id % 7 — a vector over the fork's
    * A file AND its own B file, no rewrite); meanwhile main keeps
    * ingesting (slice C) and runs its OWN vector delete (doc_id % 11
    * over A and C). PUBLISH rebases with the deletion vectors
    * spliced by the concurrent-deleteWhere union law — neither
    * side's delete is lost, nothing is double-removed, and no file
    * was rewritten to make it so. At 100 TB this is a GDPR erasure
    * landing on a staging branch while ingestion and ITS erasures
    * continue on main: both ship, by metadata splice alone. The
    * oracle replays both predicates in closed form. */
  def layoutBranchMor(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_wapm_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 3).cast("long").as("slice"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("slice") === 0), overwrite = false) // main: A
    graftSql(s, s"GRAFT BRANCH '$table' CREATE erase").collect()
    val b = graft.sources.SnapshotTable.branchDir(table, "erase")
    graft.sources.SnapshotTable.commit(s, b,
      docs.filter(col("slice") === 1), overwrite = false) // branch: B
    // the audited erasure, on the branch only — a deletion VECTOR
    // over fork and branch files alike, no data file rewritten
    graftSql(s, s"GRAFT DELETE FROM '$b' WHERE doc_id % 7 = 0").collect()
    // main keeps ingesting AND erasing concurrently
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("slice") === 2), overwrite = false) // main: C
    graftSql(s, s"GRAFT DELETE FROM '$table' WHERE doc_id % 11 = 0")
      .collect()
    graftSql(s, s"GRAFT PUBLISH '$table' erase").collect()
    graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_nc"))
      .orderBy(col("slice"))
  }

  /** Keyed incremental replication end to end (`GRAFT FOLLOW ... KEY`):
    * a downstream MIRROR of a table that sees every DML verb, driven
    * by four durable-cursor consumption steps — (1) bootstrap the
    * mirror from the genesis feed; (2) consume a range holding an
    * UPDATE + an append + a MOR DELETE (the net multiset delta
    * applies as one keyed merge: upsert the insert side, delete the
    * net-deleted keys); (3) consume an absorbDeletes range (a
    * row-preserving rewrite — the feed is EMPTY and the step is a
    * clean no-op, where append-mode FOLLOW would refuse); (4) consume
    * a single-commit UPDATE range (the feed arrives as PAIRED
    * update_preimage/update_postimage and the keyed apply lands the
    * postimages). Every step is ONE idempotent commit keyed to the
    * cursor identity — crash replay is a no-op — so the mirror equals
    * the source at the consumed version, which the oracle restates in
    * closed form. At 100 TB this is CDC replication to a downstream
    * mart without ever rescanning the source. */
  def cdcFollowMerge(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_follow_")
    tmpDirs.add(root)
    val src = root.resolve("src").toString
    val dst = root.resolve("dst").toString
    val cur = root.resolve("cursor").toString
    val follow =
      s"GRAFT FOLLOW '$src' CURSOR '$cur' INTO '$dst' KEY (doc_id)"
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 3).cast("long").as("slice"))
    graft.sources.SnapshotTable.commit(s, src,
      docs.filter(col("slice") === 0), overwrite = false)
    graftSql(s, follow).collect() // (1) bootstrap
    graftSql(s,
      s"GRAFT UPDATE '$src' SET nc = nc + 1000 WHERE doc_id % 5 = 0")
      .collect()
    graft.sources.SnapshotTable.commit(s, src,
      docs.filter(col("slice") === 1), overwrite = false)
    graftSql(s, s"GRAFT DELETE FROM '$src' WHERE doc_id % 7 = 0").collect()
    graftSql(s, follow).collect() // (2) update + append + MOR delete
    graft.sources.SnapshotTable.absorbDeletes(s, src)
    graftSql(s, follow).collect() // (3) row-preserving rewrite: no-op
    graftSql(s,
      s"GRAFT UPDATE '$src' SET nc = nc + 7 WHERE doc_id % 2 = 0")
      .collect()
    graftSql(s, follow).collect() // (4) paired update images
    // a zero-row corpus never materializes the mirror (every feed is
    // empty and the keyed apply skips) — serve the honest empty frame
    val mirror =
      if (graft.sources.SnapshotTable.versions(s, dst).isEmpty)
        docs.filter(lit(false))
      else graft.sources.SnapshotTable.readAsOf(s, dst, Int.MaxValue)
    mirror.groupBy(col("slice"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_nc"))
      .orderBy(col("slice"))
  }

  /** The TILED batch change feed (`GRAFT CHANGES ... TILED`): a
    * multi-commit range served as the UNION of per-commit diffs —
    * each commit's rows under its own `_commit_version`, the UPDATE
    * commit arriving as PAIRED update images — exactly what the
    * change-feed STREAM serves, so batch and streaming consumers of
    * one range agree row for row (the plain form's net multiset delta
    * trades that for one cheaper diff). The history walks every verb:
    * append, keyed UPDATE, second append, MOR DELETE; the oracle
    * restates all four commits' legs in closed form. At 100 TB each
    * tile reads only ITS commit's changed files, so the union costs
    * the changes, never versions x table. */
  def cdcTiledChanges(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_tiled_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 3).cast("long").as("slice"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("slice") === 0), overwrite = false)
    graftSql(s,
      s"GRAFT UPDATE '$table' SET nc = nc + 1000 WHERE doc_id % 5 = 0")
      .collect()
    graft.sources.SnapshotTable.commit(s, table,
      docs.filter(col("slice") === 1), overwrite = false)
    graftSql(s, s"GRAFT DELETE FROM '$table' WHERE doc_id % 7 = 0")
      .collect()
    graftSql(s, s"GRAFT CHANGES '$table' FROM 0 TILED")
      .groupBy(col("_commit_version").cast("long").as("commit_v"),
        col("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("nc")).as("sum_nc"))
      .orderBy(col("commit_v"), col("change_type"))
  }

  /** `GRAFT ANALYZE` end to end: load documents, run a selective MERGE
    * (which HONESTLY drops the cumulative NDV sketch — a bottom-k
    * cannot subtract), then [[graft.sources.SnapshotTable.analyze]]
    * recollects per-file zone maps + table NDV from the live files as
    * ONE stats-only commit. Output is the metadata-served column
    * statistics AFTER the repair — row/non-null counts, exact bounds,
    * and the KMV NDV estimate, which the oracle recomputes from the
    * post-merge table with the same md5-based estimator; agreement is
    * only possible because ANALYZE restored what the merge dropped.
    * At 100 TB this is the op that keeps broadcast-vs-shuffle planning
    * alive on tables that see DML. */
  def layoutAnalyze(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_anlz_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 40).cast("long").as("bucket"))
    graft.sources.SnapshotTable.commit(s, table, docs, overwrite = false)
    val upserts = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), (col("nc") + 500L).as("nc"), col("bucket"))
    val deletes = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
    graft.sources.SnapshotTable.merge(s, table, upserts, deletes, "doc_id")
    graft.sources.SnapshotTable.analyze(s, table)
    graft.sources.SnapshotTable.metaAgg(s, table)
      .filter(col("n_rows") > 0)
      .select(col("column"), col("n_rows"), col("n_nonnull"),
        col("min_long"), col("max_long"),
        round(col("est_ndv"), 0).cast("long").as("ndv"))
      .orderBy(col("column"))
  }

  /** Decimal zone-map pruning end to end: orders land with an exact
    * DECIMAL(13,2) money column (built from the rounded-cents integer
    * through a string cast — portable, no float-rounding ambiguity),
    * price-clustered into 8 files, then a money-band query filters on
    * decimal literals. The manifest stores the bounds as UNSCALED
    * longs; the band predicate prunes to the matching files
    * (`SnapshotTimeStatsSpec` pins the scan metric), and this oracle
    * pins that the unscaled-long comparison never drops a boundary
    * row — the money type is the one a warehouse prunes on most after
    * time. */
  def layoutSnapshotMoneyband(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_money_")
    tmpDirs.add(root)
    val table = root.resolve("orders").toString
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey").isNotNull && col("o_totalprice").isNotNull)
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        expr("CAST(concat(CAST(cents DIV 100 AS STRING), '.', " +
          "lpad(CAST(cents % 100 AS STRING), 2, '0')) AS DECIMAL(13,2))")
          .as("amount"))
    graft.sources.SnapshotTable.commitClustered(s, table, o,
      overwrite = false, nFiles = 8, clusterCols = Seq("amount"))
    graft.sources.SnapshotTable.readAsOf(s, table, 1)
      .filter(col("amount") >= expr("CAST(50000.00 AS DECIMAL(13,2))") &&
        col("amount") < expr("CAST(150000.00 AS DECIMAL(13,2))"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
        min(col("amount")).cast("string").as("min_amount"),
        max(col("amount")).cast("string").as("max_amount"))
      .orderBy(col("o_orderstatus"))
  }

  /** Timestamp zone-map pruning end to end: land events TIME-CLUSTERED
    * (`commitClustered` on `ts` — the layout a time-ordered append
    * stream converges to anyway), then answer a 3-day-window query.
    * The manifest's per-file epoch-micros bounds refute most files at
    * plan time — `SnapshotTimeStatsSpec` pins the scan metric (a
    * strict subset of files read); this oracle pins that the pruned
    * read returns EXACTLY the unpruned answer. On a time-ordered
    * 100 TB event table this is the predicate class that decides
    * whether a dashboard query reads gigabytes or the whole table. */
  def layoutSnapshotTimefilter(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_stime_")
    tmpDirs.add(root)
    val table = root.resolve("events").toString
    val ev = Tables.events(s, d)
      .filter(col("event_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    graft.sources.SnapshotTable.commitClustered(s, table, ev,
      overwrite = false, nFiles = 8, clusterCols = Seq("ts"))
    graft.sources.SnapshotTable.readAsOf(s, table, 1)
      .filter(col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        col("ts") < to_timestamp(lit("2024-01-13 00:00:00")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_value_c"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  def layoutSnapshotDeletes(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_sdel_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, table,
      docs.repartitionByRange(8, col("doc_id")), overwrite = false)
    val v2 = graft.sources.SnapshotTable
      .deleteWhere(s, table, col("nc") % 7 === 3).getOrElse(1)
    val v3 = graft.sources.SnapshotTable.absorbDeletes(s, table).getOrElse(v2)
    Seq(1 -> 1, 2 -> v2, 3 -> v3).map { case (step, v) =>
      val snap = graft.sources.SnapshotTable.readAsOf(s, table, v)
      val rel = if (snap.columns.isEmpty) docs.filter(lit(false)) else snap
      val meta = graft.sources.SnapshotTable.rowCount(s, table, v).getOrElse(-1L)
      rel.agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(step.toLong).as("step"), col("n_docs"),
          col("sum_chars"), col("sum_ids"), lit(meta).as("meta_rows"))
    }.reduce(_ unionByName _)
      .filter(col("n_docs") > 0)
      .orderBy(col("step"))
  }

  /** SHALLOW CLONE then independent divergence
    * ([[graft.sources.SnapshotTable.cloneTable]]): load two commits into
    * a source table, clone it by manifest reference (zero bytes
    * copied), then append DIFFERENT third slices to each side — the
    * clone gets the raw `%3==2` slice, the source gets it char-bumped
    * by 7. The four rollups (src@2, src@3, cln@1, cln@2) pin, in one
    * oracle-checkable result: the clone equals the cloned-from version
    * (cln@1 == src@2 rows), and post-clone writes are isolated in BOTH
    * directions (src@3 ≠ cln@2 by the +7 bump). The clone-branch
    * workflow every experiment pipeline wants — test a risky transform
    * on a branch of a 100 TB table for the cost of one manifest. */
  def layoutClone(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_clone_")
    tmpDirs.add(root)
    val src = root.resolve("src").toString
    val cln = root.resolve("cln").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, src,
      docs.filter(col("doc_id") % 3 === 0), overwrite = false)
    graft.sources.SnapshotTable.commit(s, src,
      docs.filter(col("doc_id") % 3 === 1), overwrite = false)
    graft.sources.SnapshotTable.cloneTable(s, src, cln)
    graft.sources.SnapshotTable.commit(s, cln,
      docs.filter(col("doc_id") % 3 === 2), overwrite = false)
    graft.sources.SnapshotTable.commit(s, src,
      docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), (col("nc") + 7L).as("nc")),
      overwrite = false)
    def roll(side: String, dir: String, v: Int) = {
      val snap = graft.sources.SnapshotTable.readAsOf(s, dir, v)
      val rel = if (snap.columns.isEmpty) docs.filter(lit(false)) else snap
      rel.agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(side).as("side"), lit(v.toLong).as("version"),
          col("n_docs"), col("sum_chars"), col("sum_ids"))
    }
    roll("src", src, 2).unionByName(roll("src", src, 3))
      .unionByName(roll("cln", cln, 1)).unionByName(roll("cln", cln, 2))
      .filter(col("n_docs") > 0)
      .orderBy(col("side"), col("version"))
  }

  /** Metadata-only ROLLBACK ([[graft.sources.SnapshotTable.restore]]):
    * append, append, overwrite (the "bad deploy"), then restore to the
    * pre-overwrite version — v4 must read exactly like v2 while v3
    * stays time-travelable, and the restore itself costs one manifest
    * publish regardless of table size. */
  def layoutRestore(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_restore_")
    tmpDirs.add(root)
    val t = root.resolve("tbl").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"))
    graft.sources.SnapshotTable.commit(s, t,
      docs.filter(col("doc_id") % 3 === 0), overwrite = false)
    graft.sources.SnapshotTable.commit(s, t,
      docs.filter(col("doc_id") % 3 === 1), overwrite = false)
    graft.sources.SnapshotTable.commit(s, t,
      docs.filter(col("doc_id") % 3 === 2), overwrite = true)
    graft.sources.SnapshotTable.restore(s, t, 2)
    (2 to 4).map { v =>
      val snap = graft.sources.SnapshotTable.readAsOf(s, t, v)
      val rel = if (snap.columns.isEmpty) docs.filter(lit(false)) else snap
      rel.agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(v.toLong).as("version"), col("n_docs"),
          col("sum_chars"), col("sum_ids"))
    }.reduce(_ unionByName _)
      .filter(col("n_docs") > 0)
      .orderBy(col("version"))
  }

  /** Metadata-served aggregates end to end: land orders (price nulled
    * on every 7th key, exercising the null accounting) in a snapshot
    * table across three append commits, then answer COUNT(*),
    * COUNT(col), MIN/MAX of a long, a double, and a string column from
    * [[graft.sources.SnapshotTable.metaAgg]] — the manifest's zone maps
    * alone, zero data-file reads (the spec proves it by garbaging the
    * data files first). At 100 TB this is the difference between a
    * full-table scan and one manifest read for the `SELECT count(*),
    * min(ts), max(ts)` class of query. The oracle recomputes the same
    * aggregates by actually scanning. */
  def layoutMetaAgg(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_magg_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val o = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("price"),
        col("o_orderstatus"))
    (0 to 2).foreach { k =>
      graft.sources.SnapshotTable.commit(s, table,
        o.filter(col("o_orderkey") % 3 === k), overwrite = false)
    }
    val ma = graft.sources.SnapshotTable.metaAgg(s, table)
    def pick(c: String, v: String) = max(when(col("column") === c, col(v)))
    ma.agg(
        pick("o_orderkey", "n_rows").as("n_rows"),
        pick("price", "n_nonnull").as("n_nonnull_price"),
        pick("o_orderkey", "min_long").as("min_key"),
        pick("o_orderkey", "max_long").as("max_key"),
        pick("price", "min_double").as("min_price"),
        pick("price", "max_double").as("max_price"),
        pick("o_orderstatus", "min_string").as("min_status"),
        pick("o_orderstatus", "max_string").as("max_status"),
        min(col("bounds_exact")).as("bounds_exact"),
        // metadata-served NDV: the manifest's cumulative bottom-64 KMV
        // sketch, min-K-merged across the three append commits — the
        // oracle replays the same sketch over the raw table
        round(pick("o_orderkey", "est_ndv"), 4).as("est_ndv_key"),
        round(pick("o_orderstatus", "est_ndv"), 4).as("est_ndv_status"))
      .filter(col("n_rows") > 0)
  }

  /** Physical file-provenance audit: land documents in a
    * directory-PARTITIONED parquet sink (`partitionBy(bucket)`,
    * bucket = doc_id % 4, one writer task per bucket), read it back
    * with the scanner's `_metadata` columns, and verify per bucket that
    * (a) exactly ONE file serves it, (b) `_metadata.row_index` is a
    * contiguous 0..n−1 sequence within that file, and (c) the content
    * rolls up to the source truth. This is the lineage primitive a
    * 100 TB pipeline leans on — "which file did this row come from, at
    * which position" is how deletion vectors, incremental audits, and
    * bad-file quarantines address rows — exercised here end to end
    * through a real write/scan cycle rather than assumed. */
  def layoutFileLineage(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_lin_")
    tmpDirs.add(root)
    val out = root.resolve("part").toString
    val docs = Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(0L)).as("nc"),
        (col("doc_id") % 4).cast("long").as("bucket"))
    // one shuffle keyed on the partition column → each bucket's rows
    // land in exactly one task → exactly one file per bucket directory
    docs.repartition(4, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(out)
    s.read.schema(docs.schema).parquet(out)
      .select(col("bucket"), col("doc_id"), col("nc"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("ri"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"),
        sum(col("nc")).as("sum_chars"),
        countDistinct(col("fp")).as("n_files"),
        (max(col("ri")) === count(lit(1)) - 1 && min(col("ri")) === 0 &&
          sum(col("ri")) === count(lit(1)) * (count(lit(1)) - 1) / 2)
          .as("rowidx_ok"))
      .orderBy(col("bucket"))
  }

  /** Materialized-view maintenance from the snapshot table's CHANGE
    * FEED — the lakehouse MV story end to end: the MV (orders per
    * priority: count + exact cents) is built ONCE from version 1, then
    * NEVER rescans the base — each subsequent version's
    * [[graft.sources.SnapshotTable.readChanges]] delta (insert/delete
    * rows) folds into the self-maintainable aggregates through one
    * keyed full-outer merge, O(changed keys) per refresh. The table
    * history exercised: v2 a pure APPEND (the CDF's zero-compute
    * added-files fast path), v3 a MERGE carrying an update (+500 on
    * every 6th key), an insert slice, and a delete slice — so the feed
    * crosses both CDF regimes (append fast path; exact multiset diff
    * over a rewrite). The oracle recomputes the FINAL state from the
    * raw table in closed form; agreement proves no change was lost,
    * duplicated, or mis-signed across either regime. */
  def mvCdfRefresh(s: SparkSession, d: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_mvcdf_")
    tmpDirs.add(root)
    val table = root.resolve("tbl").toString
    val o = Tables.orders(s, d).filter(col("o_orderkey").isNotNull)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    graft.sources.SnapshotTable.commit(s, table,
      o.filter(col("o_orderkey") % 3 === 0), overwrite = false) // v1
    graft.sources.SnapshotTable.commit(s, table,
      o.filter(col("o_orderkey") % 3 === 1), overwrite = false) // v2
    val upserts = o.filter(col("o_orderkey") % 3 === 2) // inserts
      .unionByName(o.filter(col("o_orderkey") % 6 === 0) // updates
        .select(col("o_orderkey"), col("prio"),
          (col("cents") + 500L).as("cents")))
    val deletes = o.filter(col("o_orderkey") % 18 === 3) // disjoint slice
      .select(col("o_orderkey"))
    graft.sources.SnapshotTable.merge(s, table, upserts, deletes,
      "o_orderkey") // v3
    // MV0: the one base scan, at MV creation
    val snap1 = graft.sources.SnapshotTable.readAsOf(s, table, 1)
    val base = if (snap1.columns.isEmpty) o.filter(lit(false)) else snap1
    var mv = base.groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    // each refresh folds ONLY the version's delta — never the base
    val latest = graft.sources.SnapshotTable
      .versions(s, table).lastOption.getOrElse(1)
    (2 to latest).foreach { v =>
      val delta = graft.sources.SnapshotTable.readChanges(s, table, v - 1, v)
        .select(col("prio"),
          // additive fold: postimages count like inserts, preimages
          // like deletes (single-commit ranges pair UPDATE legs)
          when(col("change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L).as("w"),
          when(col("change_type").isin("insert", "update_postimage"),
            col("cents")).otherwise(-col("cents")).as("wc"))
        .groupBy(col("prio"))
        .agg(sum(col("w")).as("dn"), sum(col("wc")).as("dc"))
      mv = mv.join(delta, Seq("prio"), "full_outer")
        .select(col("prio"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("sc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sc"))
        .filter(col("n") > 0)
    }
    mv.select(col("prio"), col("n"), col("sc").as("sum_cents"))
      .orderBy(col("prio"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_restore" -> layoutRestore,
    "layout_clone" -> layoutClone,
    "layout_zorder" -> layoutZorder,
    "layout_zorder3" -> layoutZorder3,
    "layout_compaction" -> layoutCompaction,
    "layout_global_index" -> layoutGlobalIndex,
    "layout_snapshots" -> layoutSnapshots,
    "layout_snapshot_merge" -> layoutSnapshotMerge,
    "layout_snapshot_prune" -> layoutSnapshotPrune,
    "layout_snapshot_changes" -> layoutSnapshotChanges,
    "layout_snapshot_bucketed" -> layoutSnapshotBucketed,
    "layout_snapshot_partitioned" -> layoutSnapshotPartitioned,
    "layout_snapshot_timefilter" -> layoutSnapshotTimefilter,
    "layout_partitioned_bucketed" -> layoutPartitionedBucketed,
    "layout_relayout" -> layoutRelayout,
    "layout_bucket_pack" -> layoutBucketPack,
    "layout_planner_stats" -> layoutPlannerStats,
    "layout_analyze" -> layoutAnalyze,
    "layout_sql_merge" -> layoutSqlMerge,
    "layout_sql_update" -> layoutSqlUpdate,
    "layout_rename" -> layoutRename,
    "layout_bloom_probe" -> layoutBloomProbe,
    "layout_nested_prune" -> layoutNestedPrune,
    "layout_map_prune" -> layoutMapPrune,
    "layout_array_prune" -> layoutArrayPrune,
    "layout_partition_evolution" -> layoutPartitionEvolution,
    "layout_evolved_update" -> layoutEvolvedUpdate,
    "layout_tag_read" -> layoutTagRead,
    "layout_branch_publish" -> layoutBranchPublish,
    "layout_branch_mor" -> layoutBranchMor,
    "cdc_sql_changes" -> layoutSqlChanges,
    "cdc_follow_merge" -> cdcFollowMerge,
    "cdc_tiled_changes" -> cdcTiledChanges,
    "layout_snapshot_moneyband" -> layoutSnapshotMoneyband,
    "layout_snapshot_deletes" -> layoutSnapshotDeletes,
    "layout_meta_agg" -> layoutMetaAgg,
    "layout_file_lineage" -> layoutFileLineage,
    "mv_cdf_refresh" -> mvCdfRefresh,
  )

  override val oracle: Map[String, String] = Map(
    // restore semantics in SQL: v2 = first two slices, v3 = the
    // overwrite, v4 = the rollback replaying v2
    "layout_restore" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |v AS (
        |  SELECT CAST(2 AS BIGINT) AS version, doc_id, nc FROM d
        |  WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 3, doc_id, nc FROM d WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT 4, doc_id, nc FROM d WHERE doc_id % 3 IN (0, 1))
        |SELECT version, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM v GROUP BY version
        |HAVING count(*) > 0
        |ORDER BY version""".stripMargin,
    // the clone-branch semantics restated in SQL: cln@1 mirrors src@2,
    // then each side's third slice diverges (+7 char bump on src only)
    "layout_clone" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (
        |  SELECT 'src' AS side, CAST(2 AS BIGINT) AS version, doc_id, nc
        |  FROM d WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'src', 3, doc_id,
        |    CASE WHEN doc_id % 3 = 2 THEN nc + 7 ELSE nc END FROM d
        |  UNION ALL
        |  SELECT 'cln', 1, doc_id, nc FROM d WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'cln', 2, doc_id, nc FROM d)
        |SELECT side, version, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM r GROUP BY side, version
        |HAVING count(*) > 0
        |ORDER BY side, version""".stripMargin,
    // versions: v1 = ids%3==0, v2 = v1 + ids%3==1, v3 = overwrite
    // with ids%3==2 only — the snapshot semantics restated in SQL
    "layout_snapshots" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |v AS (
        |  SELECT CAST(1 AS BIGINT) AS version, * FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, * FROM d WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 3, * FROM d WHERE doc_id % 3 = 2)
        |SELECT version, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM v GROUP BY version HAVING count(*) > 0
        |ORDER BY version""".stripMargin,
    // v1 = the %3==0 base; v2 = after MERGE: evens updated (+1000),
    // %3==1 inserted, odd %9==0 survivors deleted (an upsert for a key
    // also in the delete set wins — the query's stated semantics)
    "layout_snapshot_merge" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |v AS (
        |  SELECT CAST(1 AS BIGINT) AS version, doc_id, nc FROM d
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 2, doc_id, nc + 1000 FROM d
        |  WHERE doc_id % 3 = 0 AND doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 2, doc_id, nc FROM d
        |  WHERE doc_id % 3 = 0 AND doc_id % 2 = 1 AND doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT 2, doc_id, nc FROM d WHERE doc_id % 3 = 1)
        |SELECT version, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM v GROUP BY version HAVING count(*) > 0
        |ORDER BY version""".stripMargin,
    // the bucketed co-located join must equal the plain join exactly —
    // a mis-routed bucket would silently drop matches
    "layout_snapshot_bucketed" ->
      """SELECT c.c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NOT NULL
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    // the hive-partitioned round trip must equal the plain group-by —
    // a file filed under the wrong directory (or a value lost in the
    // directory-string round trip) would skew exactly one group
    "layout_snapshot_partitioned" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_orderpriority IS NOT NULL
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the partition-pruned bucket join must equal the plain join — a
    // mis-stamped bucket id drops matches, a mis-filed directory skews
    // a group
    "layout_partitioned_bucketed" ->
      """SELECT o.o_orderpriority, c.c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_custkey IS NOT NULL AND o.o_orderpriority IS NOT NULL
        |  AND c.c_custkey IS NOT NULL
        |  AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o.o_orderpriority, c.c_mktsegment
        |ORDER BY o.o_orderpriority, c.c_mktsegment""".stripMargin,
    // v1 = every row (flat), v2 = the SAME rows after the relayout
    // rewrite — history preserved, nothing lost in the re-filing
    "layout_relayout" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    doc_id % 4 AS bucket
        |  FROM documents WHERE doc_id IS NOT NULL),
        |v AS (
        |  SELECT CAST(1 AS BIGINT) AS version, * FROM d
        |  UNION ALL
        |  SELECT 2, * FROM d)
        |SELECT version, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM v GROUP BY version, bucket HAVING count(*) > 0
        |ORDER BY version, bucket""".stripMargin,
    // the decimal-pruned band must equal the plain band — an unscaled
    // bound off by one cent would clip exactly the boundary rows
    "layout_snapshot_moneyband" ->
      """WITH o AS (SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CAST(concat(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |        // 100 AS VARCHAR), '.',
        |      lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |        % 100 AS VARCHAR), 2, '0')) AS DECIMAL(13,2)) AS amount
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL)
        |SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(min(amount) AS VARCHAR) AS min_amount,
        |  CAST(max(amount) AS VARCHAR) AS max_amount
        |FROM o
        |WHERE amount >= CAST(50000.00 AS DECIMAL(13,2))
        |  AND amount < CAST(150000.00 AS DECIMAL(13,2))
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the pack's content rollup must equal raw orders (the three %3
    // slices union to the full key set), the file count must be one
    // per bucket, and version 4 pins that exactly one pack published
    "layout_bucket_pack" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_c,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
        |  CAST(8 AS BIGINT) AS n_files,
        |  CAST(4 AS BIGINT) AS version
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        |HAVING count(*) > 0""".stripMargin,
    // every planner-visible statistic recomputed in closed form: exact
    // counts/nulls, byte-exact avg width, external-string min/max, and
    // the KMV NDV estimate replayed hash-for-hash
    // the post-merge table restated in SQL (upserts win over deletes),
    // stats recomputed the way GRAFT ANALYZE does: exact counts/bounds
    // plus the SAME md5-based KMV NDV estimator over each column's
    // canonical long rendering — agreement requires the analyze commit
    // (the merge dropped the sketch; without ANALYZE est_ndv is NULL)
    "layout_analyze" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |m AS (
        |  SELECT doc_id, nc + 500 AS nc FROM d WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, nc FROM d
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0),
        |b AS (SELECT doc_id, nc, doc_id % 40 AS bucket FROM m),
        |indv AS (
        |  SELECT CAST(round(CASE WHEN count(*) < 64
        |      THEN CAST(count(*) AS DOUBLE)
        |      ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |    END, 0) AS BIGINT) AS ndv
        |  FROM (SELECT DISTINCT CAST(('0x' ||
        |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      AS h FROM b ORDER BY h LIMIT 64)),
        |nndv AS (
        |  SELECT CAST(round(CASE WHEN count(*) < 64
        |      THEN CAST(count(*) AS DOUBLE)
        |      ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |    END, 0) AS BIGINT) AS ndv
        |  FROM (SELECT DISTINCT CAST(('0x' ||
        |      substring(md5(CAST(nc AS VARCHAR)), 1, 15)) AS BIGINT)
        |      AS h FROM b ORDER BY h LIMIT 64)),
        |bndv AS (
        |  SELECT CAST(round(CASE WHEN count(*) < 64
        |      THEN CAST(count(*) AS DOUBLE)
        |      ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |    END, 0) AS BIGINT) AS ndv
        |  FROM (SELECT DISTINCT CAST(('0x' ||
        |      substring(md5(CAST(bucket AS VARCHAR)), 1, 15)) AS BIGINT)
        |      AS h FROM b ORDER BY h LIMIT 64))
        |SELECT * FROM (
        |  SELECT 'bucket' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(bucket) AS BIGINT) AS n_nonnull,
        |    CAST(min(bucket) AS BIGINT) AS min_long,
        |    CAST(max(bucket) AS BIGINT) AS max_long,
        |    (SELECT ndv FROM bndv) AS ndv
        |  FROM b HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 'doc_id', CAST(count(*) AS BIGINT),
        |    CAST(count(doc_id) AS BIGINT), CAST(min(doc_id) AS BIGINT),
        |    CAST(max(doc_id) AS BIGINT), (SELECT ndv FROM indv)
        |  FROM b HAVING count(*) > 0
        |  UNION ALL
        |  SELECT 'nc', CAST(count(*) AS BIGINT), CAST(count(nc) AS BIGINT),
        |    CAST(min(nc) AS BIGINT), CAST(max(nc) AS BIGINT),
        |    (SELECT ndv FROM nndv)
        |  FROM b HAVING count(*) > 0)
        |ORDER BY "column"""".stripMargin,
    // the SQL-driven upsert/delete pipeline restated relationally:
    // upserts (5k keys not deleted) replace, delete-keys (7k) go, the
    // predicate delete removes provably-true rows only
    "layout_sql_merge" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    doc_id % 40 AS bucket
        |  FROM documents WHERE doc_id IS NOT NULL),
        |m AS (
        |  SELECT doc_id, nc + 100 AS nc, bucket FROM d
        |  WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, nc, bucket FROM d
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0),
        |f AS (SELECT * FROM m WHERE NOT (nc > 20000))
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_nc
        |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the conditional assignment restated relationally
    "layout_sql_update" ->
      """WITH o AS (SELECT o_orderkey AS okey, o_custkey AS cust
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL),
        |u AS (SELECT okey,
        |  CASE WHEN okey % 10 = 0 THEN cust + 10000000 ELSE cust END AS cust
        |  FROM o)
        |SELECT cust >= 10000000 AS updated,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cust) AS BIGINT) AS sum_cust
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // the change feed in closed form: inserts = the appended %3==1
    // slice, deletes = the %6==0 rows the vector delete removed
    "cdc_sql_changes" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (
        |  SELECT 'insert' AS change_type, doc_id, nc FROM d
        |  WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 'delete' AS change_type, doc_id, nc FROM d
        |  WHERE doc_id % 6 = 0)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(nc) AS BIGINT) AS sum_nc
        |FROM c GROUP BY change_type ORDER BY change_type""".stripMargin,
    // the nested-band query's ANSWER, restated over the flat table
    // (the four nc-banded commits partition the rows, so the union of
    // slices IS the table)
    "layout_nested_prune" ->
      """WITH d AS (SELECT doc_id, coalesce(lang, 'und') AS lang,
        |    coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_nc,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM d WHERE nc >= 200 AND nc < 500
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the write-audit-publish pipeline in closed form: slices 0/1
    // passed through the branch (short docs re-counted), slice 2
    // landed on main after the fork (published rebase keeps it as-is)
    "layout_branch_publish" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    doc_id % 3 AS slice
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT CAST(slice AS BIGINT) AS slice,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN slice IN (0, 1) AND nc < 100
        |               THEN nc * 2 ELSE nc END) AS BIGINT) AS sum_nc
        |FROM d GROUP BY slice ORDER BY slice""".stripMargin,
    // both sides' MOR deletes in closed form: the branch's %7 erasure
    // saw slices 0 and 1, main's %11 erasure saw slices 0 and 2 — the
    // published vector union applies exactly those predicates per slice
    "layout_branch_mor" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    doc_id % 3 AS slice
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT CAST(slice AS BIGINT) AS slice,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_nc
        |FROM d
        |WHERE (slice = 0 AND doc_id % 7 <> 0 AND doc_id % 11 <> 0)
        |   OR (slice = 1 AND doc_id % 7 <> 0)
        |   OR (slice = 2 AND doc_id % 11 <> 0)
        |GROUP BY slice ORDER BY slice""".stripMargin,
    // the mirrored source state in closed form: slice-0 rows took the
    // %5 bump (applied before slice 1 landed), the %7 erasure removed
    // rows of both slices, then every surviving even doc took +7
    "cdc_follow_merge" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    doc_id % 3 AS slice
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 3 IN (0, 1)),
        |u AS (SELECT doc_id, slice,
        |    CASE WHEN slice = 0 AND doc_id % 5 = 0
        |      THEN nc + 1000 ELSE nc END AS nc1
        |  FROM d WHERE doc_id % 7 <> 0)
        |SELECT CAST(slice AS BIGINT) AS slice,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN nc1 + 7 ELSE nc1 END)
        |    AS BIGINT) AS sum_nc
        |FROM u GROUP BY slice ORDER BY slice""".stripMargin,
    // every commit's tile in closed form: v1 = slice-0 inserts, v2 =
    // the %5 UPDATE's paired images, v3 = slice-1 inserts, v4 = the %7
    // MOR delete over the updated slice 0 and slice 1
    "cdc_tiled_changes" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    doc_id % 3 AS slice
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s0 AS (SELECT doc_id, nc FROM d WHERE slice = 0),
        |s1 AS (SELECT doc_id, nc FROM d WHERE slice = 1),
        |u0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN nc + 1000 ELSE nc END AS nc
        |  FROM s0),
        |feed AS (
        |  SELECT 1 AS v, 'insert' AS ct, nc FROM s0
        |  UNION ALL SELECT 2, 'update_preimage', nc FROM s0
        |    WHERE doc_id % 5 = 0
        |  UNION ALL SELECT 2, 'update_postimage', nc + 1000 FROM s0
        |    WHERE doc_id % 5 = 0
        |  UNION ALL SELECT 3, 'insert', nc FROM s1
        |  UNION ALL SELECT 4, 'delete', nc FROM u0 WHERE doc_id % 7 = 0
        |  UNION ALL SELECT 4, 'delete', nc FROM s1 WHERE doc_id % 7 = 0
        |)
        |SELECT CAST(v AS BIGINT) AS commit_v, ct AS change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(nc) AS BIGINT) AS sum_nc
        |FROM feed GROUP BY v, ct ORDER BY commit_v, change_type""".stripMargin,
    // the cross-era answer restated flat: three slices by event-id
    // residue partition the rows, so their union IS the table
    "layout_partition_evolution" ->
      """WITH e AS (SELECT event_id, coalesce(event_type, 'unk') AS etype,
        |    coalesce(user_id, 0) AS uid
        |  FROM events WHERE event_id IS NOT NULL)
        |SELECT etype, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(uid) AS BIGINT) AS sum_uid,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid
        |FROM e WHERE etype IN ('click', 'view')
        |GROUP BY etype ORDER BY etype""".stripMargin,
    // the PINNED state (slices 0 and 1 — the tag was created before
    // the overwrite and survives the vacuum) restated flat
    "layout_tag_read" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id % 3 IN (0, 1))
        |SELECT doc_id % 10 AS band,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_nc,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM d GROUP BY band ORDER BY band""".stripMargin,
    // the cross-era DML answer restated flat: the three residue slices
    // partition the rows (their union IS the table), and the UPDATE's
    // effect is a closed-form CASE on the click rows of every slice
    "layout_evolved_update" ->
      """WITH e AS (SELECT event_id, coalesce(event_type, 'unk') AS etype,
        |    CASE WHEN coalesce(event_type, 'unk') = 'click'
        |      THEN coalesce(user_id, 0) + 1000000
        |      ELSE coalesce(user_id, 0) END AS uid
        |  FROM events WHERE event_id IS NOT NULL)
        |SELECT etype, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(uid) AS BIGINT) AS sum_uid,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid
        |FROM e GROUP BY etype ORDER BY etype""".stripMargin,
    // the map-key probe's ANSWER, restated over the flat columns (the
    // three lang slices partition the rows, so their union IS the table)
    "layout_map_prune" ->
      """SELECT coalesce(source, '') AS src,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents
        |WHERE doc_id IS NOT NULL AND coalesce(lang, 'und') = 'en'
        |GROUP BY src ORDER BY src""".stripMargin,
    // the array-element probe's ANSWER, restated flat (the lang slices
    // partition the rows; 'lang:en' is in a row's tags iff lang = 'en')
    "layout_array_prune" ->
      """SELECT coalesce(source, '') AS src,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM documents
        |WHERE doc_id IS NOT NULL AND coalesce(lang, 'und') = 'en'
        |GROUP BY src ORDER BY src""".stripMargin,
    // the Bloom-pruned point probe's ANSWER: the max-orderkey row
    "layout_bloom_probe" ->
      """SELECT o_orderkey AS okey, o_custkey AS cust FROM orders
        |WHERE o_custkey IS NOT NULL
        |  AND o_orderkey = (SELECT max(o_orderkey) FROM orders
        |                    WHERE o_custkey IS NOT NULL)""".stripMargin,
    // both halves (pre- and post-rename epochs) restated as one
    // relation under the FINAL column name
    "layout_rename" ->
      """WITH o AS (SELECT o_orderkey AS okey, o_custkey AS customer
        |  FROM orders
        |  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL)
        |SELECT customer % 50 AS cband, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(okey) AS BIGINT) AS sum_okey
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "layout_planner_stats" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderdate
        |  FROM orders WHERE o_orderkey IS NOT NULL),
        |dndv AS (
        |  SELECT CAST(round(CASE WHEN count(*) < 64
        |      THEN CAST(count(*) AS DOUBLE)
        |      ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |    END, 0) AS BIGINT) AS ndv
        |  FROM (SELECT DISTINCT CAST(('0x' ||
        |      substring(md5(CAST(epoch_us(o_orderdate) AS VARCHAR)),
        |        1, 15)) AS BIGINT)
        |      AS h FROM o WHERE o_orderdate IS NOT NULL
        |    ORDER BY h LIMIT 64)),
        |kndv AS (
        |  SELECT CAST(round(CASE WHEN count(*) < 64
        |      THEN CAST(count(*) AS DOUBLE)
        |      ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |    END, 0) AS BIGINT) AS ndv
        |  FROM (SELECT DISTINCT CAST(('0x' ||
        |      substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |      AS h FROM o ORDER BY h LIMIT 64)),
        |sndv AS (
        |  SELECT CAST(round(CASE WHEN count(*) < 64
        |      THEN CAST(count(*) AS DOUBLE)
        |      ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |    END, 0) AS BIGINT) AS ndv
        |  FROM (SELECT DISTINCT CAST(('0x' ||
        |      substring(md5(o_orderstatus), 1, 15)) AS BIGINT)
        |      AS h FROM o WHERE o_orderstatus IS NOT NULL
        |    ORDER BY h LIMIT 64))
        |SELECT 'o_orderdate' AS "column", 'timestamp_ntz' AS data_type,
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  (SELECT ndv FROM dndv) AS distinct_count,
        |  CAST(count(*) - count(o_orderdate) AS BIGINT) AS null_count,
        |  CAST(NULL AS BIGINT) AS avg_len,
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S.%f') AS "min",
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S.%f') AS "max"
        |FROM o HAVING count(*) > 0
        |UNION ALL
        |SELECT 'o_orderkey' AS "column", 'bigint' AS data_type,
        |  CAST(count(*) AS BIGINT) AS row_count,
        |  (SELECT ndv FROM kndv) AS distinct_count,
        |  CAST(0 AS BIGINT) AS null_count,
        |  CAST(NULL AS BIGINT) AS avg_len,
        |  CAST(min(o_orderkey) AS VARCHAR) AS "min",
        |  CAST(max(o_orderkey) AS VARCHAR) AS "max"
        |FROM o HAVING count(*) > 0
        |UNION ALL
        |SELECT 'o_orderstatus', 'string',
        |  CAST(count(*) AS BIGINT),
        |  (SELECT ndv FROM sndv),
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  CAST(GREATEST(1, sum(strlen(o_orderstatus))
        |    // count(o_orderstatus)) AS BIGINT),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |FROM o HAVING count(*) > 0
        |ORDER BY "column"""".stripMargin,
    // the zone-map-pruned window read must equal the plain filter —
    // an over-eager epoch-micros bound would silently drop rows at
    // the window edges
    "layout_snapshot_timefilter" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_value_c,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // step 1->2: append of the %3==1 slice (inserts only); step 2->3:
    // overwrite with the %3==2 slice (everything prior deleted, the new
    // slice inserted) — the change-feed contract in closed form
    "layout_snapshot_changes" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (
        |  SELECT 1 AS step, 'insert' AS change_type, doc_id, nc FROM d
        |  WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 2, 'delete', doc_id, nc FROM d WHERE doc_id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 2, 'insert', doc_id, nc FROM d WHERE doc_id % 3 = 2)
        |SELECT CAST(step AS BIGINT) AS step, change_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars
        |FROM c GROUP BY 1, 2 HAVING count(*) > 0
        |ORDER BY step, change_type""".stripMargin,
    // step 1 = full corpus; steps 2 (merge-on-read delete) and 3
    // (vectors absorbed) both = NOT (nc % 7 = 3) — absorb must change
    // nothing; meta_rows restates count(*) because the manifest-only
    // arithmetic must agree with the scan
    "layout_snapshot_deletes" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL),
        |v AS (
        |  SELECT CAST(1 AS BIGINT) AS step, * FROM d
        |  UNION ALL
        |  SELECT 2, * FROM d WHERE NOT (nc % 7 = 3)
        |  UNION ALL
        |  SELECT 3, * FROM d WHERE NOT (nc % 7 = 3))
        |SELECT step, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(count(*) AS BIGINT) AS meta_rows
        |FROM v GROUP BY step HAVING count(*) > 0
        |ORDER BY step""".stripMargin,
    // the same three 1%-wide bands over the raw table — agreement
    // proves the zone-map skip never drops a matching row
    "layout_snapshot_prune" ->
      """WITH m AS (SELECT max(l_orderkey) AS mx FROM lineitem
        |           WHERE l_orderkey IS NOT NULL),
        |b AS (SELECT k, (mx // 10) * (k * 3) AS lo,
        |             (mx // 10) * (k * 3) + mx // 100 AS hi
        |      FROM m, (VALUES (1), (2), (3)) AS t(k))
        |SELECT CAST(b.k AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_qty_c,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_pk
        |FROM lineitem l JOIN b ON l.l_orderkey >= b.lo AND l.l_orderkey < b.hi
        |GROUP BY b.k HAVING count(*) > 0
        |ORDER BY band""".stripMargin,
    // the oracle IS the naive single-window formulation — agreement
    // proves the range-partitioned two-phase numbering is exact
    "layout_global_index" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS global_seq,
        |  CAST(coalesce(n_chars, 0) AS BIGINT) AS n_chars_v
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY global_seq""".stripMargin,
    "layout_zorder" ->
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey,
         |    CAST(${zvalueSql("l_partkey", "l_suppkey")} AS BIGINT) AS zval
         |  FROM lineitem)
         |SELECT CAST(zval >> 8 AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n,
         |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
         |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
         |FROM z GROUP BY 1 ORDER BY cell""".stripMargin,
    // the 3-dim Morton code replayed from the SAME generated arithmetic
    "layout_zorder3" ->
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey, l_linenumber,
         |    CAST(${zvalueSqlN(Seq("l_partkey", "l_suppkey",
              "l_linenumber"))} AS BIGINT) AS zval
         |  FROM lineitem)
         |SELECT CAST(zval >> 9 AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n,
         |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
         |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk,
         |  min(l_linenumber) AS min_ln, max(l_linenumber) AS max_ln
         |FROM z GROUP BY 1 ORDER BY cell""".stripMargin,
    "layout_compaction" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_order,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum((l_orderkey * 1000003 + l_linenumber * 7919 +
        |    l_partkey * 31 + l_suppkey) % 1000000007) AS BIGINT) AS poly_sum
        |FROM lineitem""".stripMargin,
    // the oracle actually scans — agreement proves the manifest-served
    // aggregates (zero data reads on the engine side) are exact
    "layout_meta_agg" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE o_totalprice END AS price,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(price) AS BIGINT) AS n_nonnull_price,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |  min(price) AS min_price, max(price) AS max_price,
        |  min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status,
        |  TRUE AS bounds_exact,
        |  (SELECT round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |     ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) END, 4)
        |   FROM (SELECT DISTINCT CAST(('0x' ||
        |       substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |       AS h FROM o ORDER BY h LIMIT 64)) AS est_ndv_key,
        |  (SELECT round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |     ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) END, 4)
        |   FROM (SELECT DISTINCT CAST(('0x' ||
        |       substring(md5(o_orderstatus), 1, 15)) AS BIGINT)
        |       AS h FROM o WHERE o_orderstatus IS NOT NULL
        |     ORDER BY h LIMIT 64)) AS est_ndv_status
        |FROM o HAVING count(*) > 0""".stripMargin,
    // per bucket the oracle recomputes the content rollup and pins the
    // physical invariants the engine measured via _metadata: one file
    // per bucket, contiguous 0..n-1 row positions within it
    "layout_file_lineage" ->
      """SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_chars,
        |  CAST(1 AS BIGINT) AS n_files,
        |  TRUE AS rowidx_ok
        |FROM documents WHERE doc_id IS NOT NULL
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // the final state in closed form: ALL keys (v1 %3=0 + v2 %3=1 +
    // merged-in %3=2), minus the deleted %18=3 slice, every 6th key's
    // cents bumped by the merge's update — the MV folded ONLY deltas,
    // so agreement proves the CDF lost/duplicated/mis-signed nothing
    "mv_cdf_refresh" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey IS NOT NULL)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents + CASE WHEN k % 6 = 0 THEN 500 ELSE 0 END)
        |    AS BIGINT) AS sum_cents
        |FROM o WHERE k % 18 <> 3
        |GROUP BY prio HAVING count(*) > 0
        |ORDER BY prio""".stripMargin,
  )
}
