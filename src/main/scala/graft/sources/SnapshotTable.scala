package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A minimal versioned parquet table with atomic commits and time-travel
  * reads — the lakehouse contract (Delta/Iceberg shape) on nothing but a
  * filesystem with an atomic create-exclusive primitive:
  *
  *  - Every commit writes its data files to a fresh uniquely-named
  *    `data/` subdirectory (staged + renamed, never shared between
  *    writers), then publishes a manifest `_commits/v{N}.txt` holding
  *    the COMPLETE file list of that snapshot (append commits carry the
  *    previous list plus the new files; overwrite commits carry only
  *    the new files). The manifest PUBLISH is the commit point and is
  *    atomic for both racing writers and concurrent readers: the
  *    manifest content is fully written to a temp name first, then
  *    linked/renamed to the final version name with a primitive that
  *    FAILS if the name already exists — `Files.createLink` (POSIX
  *    link(2), atomic create-exclusive) on a local filesystem, the
  *    namenode-atomic no-overwrite rename on HDFS. A reader either
  *    sees the whole version or none of it; of two racing writers of
  *    the same version exactly one wins and the loser RETRIES at the
  *    next version number (bounded attempts) — no commit is lost.
  *  - Readers resolve a version by manifest only: data files never
  *    referenced by a published manifest (crashed writes, stragglers,
  *    uncommitted stages, racing writers' orphans) are invisible.
  *    `readAsOf(v)` reads exactly the files the v-manifest lists, so
  *    concurrent appends/overwrites never disturb a running read —
  *    snapshot isolation by construction.
  *  - Every manifest carries the cumulative PER-WRITER transaction
  *    watermarks (`#txnv:` metadata lines — writer id → highest
  *    committed version, the Delta txnAppId/txnVersion convention,
  *    carried forward commit over commit), so [[commitIdempotent]]'s
  *    replay check is ONE read of the latest manifest — constant per
  *    commit, not O(versions) — AND the manifest's replay metadata is
  *    ONE line per writer, not one per micro-batch ever committed: a
  *    streaming sink at batch 10000 pays the same driver cost and the
  *    same manifest bytes as at batch 1. (Legacy `#txn:` id lines
  *    still parse, as single-shot writers at version 0.)
  *  - Every manifest records its snapshot's read SCHEMA (`#schema:`
  *    line, Spark JSON). Appends may ADD columns (the snapshot schema
  *    is the ordered union; old files read NULL for new columns) and
  *    may omit columns (read back as NULL for the new files), but may
  *    never change an existing column's type; overwrites reset the
  *    schema to the committed frame's. Time travel returns each
  *    version under the schema it was committed with.
  *  - Every manifest entry carries the file's SIZE, ROW COUNT, and
  *    per-column ZONE MAPS (min/max/null counts, collected by one
  *    O(batch) pass at commit), so reads plan with ZERO filesystem
  *    calls and DATA-SKIP whole files against pushed-down filters;
  *    [[commitBucketed]] additionally records a bucket layout whose
  *    scans report their hash partitioning — key joins between
  *    bucketed snapshots run exchange-free.
  *  - [[merge]] is SELECTIVE copy-on-write (only files containing
  *    touched keys rewritten, conflicts re-plan instead of losing
  *    updates), [[deleteWhere]] is MERGE-ON-READ: it writes a tiny
  *    positional DELETION-VECTOR file (`(file, row_index)` pairs) and
  *    publishes it as a metadata-only commit — at 100 TB a 0.1%
  *    delete costs the matched positions, not a file rewrite; reads
  *    subtract the vectors with one broadcast-sized anti-join, and
  *    [[absorbDeletes]] later rewrites ONLY the files that carry
  *    deletes, restoring a vector-free table. [[compact]] is OPTIMIZE
  *    with optimistic concurrency, and [[vacuum]] bounds storage:
  *    expire all but the last K versions and delete every data file
  *    no retained manifest references — ordered so a crash mid-vacuum
  *    never breaks a retained reader (expired manifests drop first;
  *    only then unreferenced files).
  *  - GOVERNANCE: every manifest stamps its COMMIT TIMESTAMP
  *    ([[readAsOfTimestamp]] time-travels by wall clock; [[vacuum]]
  *    optionally expires by age), and named CHECK CONSTRAINTS
  *    ([[addConstraint]]) ride the manifest as table properties —
  *    every commit/merge validates its batch with ONE O(batch)
  *    aggregate and refuses violating writes, serializably.
  *  - Incremental consumers get [[readChanges]] (the change feed:
  *    insert/delete deltas, zero-compute on append chains),
  *    [[followChanges]] (durable-cursor exactly-once consumption), and
  *    a full streaming source ([[SnapshotSourceProvider]] —
  *    `spark.readStream` with version offsets and admission control),
  *    every one a thin call on one version range ([[ChangeRange]]: one
  *    `_commits` listing, each manifest decoded once);
  *    [[history]] and [[rowCount]] answer inspection queries from
  *    manifests alone.
  *  - At 100 TB the manifest stays tiny (one line per data file);
  *    commit cost is one staged write + a metadata link/rename,
  *    independent of table size for appends.
  */
object SnapshotTable {
  import ManifestCodec.{ColStat, Manifest}

  /** Data-file-manifest reads performed since process start — the
    * instrumentation hook for the O(1)-reads-per-commit contract
    * (see `SnapshotMaintenanceSpec`). */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** `_commits` listings ([[versions]] calls) since process start — the
    * twin instrument of [[manifestReads]] (see `SnapshotRangeReadsSpec`). */
  private[graft] val commitListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private val MaxCommitAttempts = 64

  private def fs(s: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), s.sparkContext.hadoopConfiguration)

  private def commitsDir(tableDir: String) = new HPath(tableDir, "_commits")

  private def manifestPath(tableDir: String, v: Int) =
    new HPath(commitsDir(tableDir), f"v$v%05d.txt")

  /** Published versions, ascending (empty for a fresh table). Version
    * numbers above 99999 lose their zero padding but stay fully
    * visible — parsing is numeric, so nothing caps at 100k commits. */
  def versions(s: SparkSession, tableDir: String): Seq[Int] = {
    commitListings.incrementAndGet()
    val f = fs(s, tableDir)
    val cd = commitsDir(tableDir)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toInt }
      .sorted
  }

  /** One manifest read and one decode. A manifest the codec rejects
    * fails here, naming the table and version. */
  private def readManifest(s: SparkSession, tableDir: String,
      version: Int): Manifest = {
    manifestReads.incrementAndGet()
    val f = fs(s, tableDir)
    val in = f.open(manifestPath(tableDir, version))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
    try ManifestCodec.decode(lines) catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"unreadable manifest v$version of $tableDir: ${e.getMessage}", e)
    }
  }

  /** The greatest version of `vs` (a [[versions]] listing) at or below
    * `asOf`; None when there is none. THE version resolver: the commit
    * loop and every reader go through it, via [[snapshotAt]] or a
    * [[ChangeRange]]. */
  private def floorIn(vs: Seq[Int], asOf: Int): Option[Int] =
    vs.takeWhile(_ <= asOf).lastOption

  /** [[floorIn]] over a fresh listing, with the version's manifest: one
    * `_commits` listing and one manifest decode. */
  private def snapshotAt(s: SparkSession, tableDir: String,
      asOf: Int = Int.MaxValue): Option[(Int, Manifest)] =
    floorIn(versions(s, tableDir), asOf).map(v => v -> readManifest(s, tableDir, v))

  /** [[snapshotAt]] for operations that need a published version. */
  private def requireSnapshot(s: SparkSession, tableDir: String, op: String,
      asOf: Int = Int.MaxValue): (Int, Manifest) =
    snapshotAt(s, tableDir, asOf).getOrElse(throw new IllegalArgumentException(
      s"$op: no published version <= $asOf in $tableDir"))

  /** The manifest of version `asOf`, or of the latest version for the
    * Int.MaxValue sentinel. An EXPLICIT `VERSION AS OF n` must name a
    * retained version — a floor would silently serve an older snapshot
    * labeled as the requested one when n was vacuumed or never
    * published (restore() and Delta both error). */
  private def retainedSnapshot(s: SparkSession, tableDir: String, asOf: Int,
      op: String): Manifest = {
    val (v, m) = requireSnapshot(s, tableDir, op, asOf)
    require(asOf == Int.MaxValue || v == asOf,
      s"$op: version $asOf of $tableDir is not a retained published " +
        s"version (the latest below it is v$v)")
    m
  }

  /** The manifest a commit plan needs: refuses a table with no
    * published version. */
  private def requirePublished(m: Option[Manifest], op: String,
      tableDir: String): Manifest =
    m.getOrElse(throw new IllegalArgumentException(
      s"$op: no published version in $tableDir"))

  /** The manifest's file entry ([[ManifestCodec.FileEntry]]). */
  private[sources] type FileEntry = ManifestCodec.FileEntry
  private[sources] val FileEntry = ManifestCodec.FileEntry

  /** Current stats-format version stamped into the coverage marker.
    * v2 = the round-15 kind set (long family incl. date/timestamp/NTZ/
    * decimal≤18, double family, string). v3 adds STRUCT-LEAF stats
    * (dotted `top.leaf` keys, [[statCols]]) — a v2-marked file's
    * missing nested stat means "values unknown" (the writer never
    * enumerated leaves), NOT "leaf absent from the batch", which is
    * why nested-leaf coverage claims must require the marker ≥ 3.
    * Adding a NEW eligible kind later must bump this AND register the
    * kind's introduction version in [[kindSinceVersion]], so older
    * markers are not misread as all-null for columns of the new kind. */
  private[sources] val StatsFormatVersion = 3

  /** The stats-format version at which `dt`'s kind became eligible —
    * every currently-eligible TOP-LEVEL atomic kind dates from v2
    * (struct-leaf paths date from v3, tracked where consumed). */
  private def kindSinceVersion(dt: DataType): Int = 2

  /** Does entry `e` POSITIVELY account for column `f` — either a
    * recorded stat, or a coverage marker proving the column was absent
    * from the entry's batch (⇒ all its rows read NULL for it)? False
    * means the column's values in this file are UNKNOWN. Zero-row
    * entries account vacuously. */
  private def accountsFor(e: FileEntry, f: StructField): Boolean =
    e.rows.contains(0L) || e.stats.contains(physName(f)) ||
      e.statsVer.exists(_ >= kindSinceVersion(f.dataType))

  /** A snapshot's scan plan, served straight from manifest metadata —
    * file list, sizes, schema, and zone maps all come from the one
    * manifest read, so planning a 10k-file snapshot costs zero
    * filesystem RPCs (the Delta/Iceberg discipline; handing the path
    * list to `spark.read.parquet` instead costs one driver-side
    * resolution per file — measured ~2.4 ms/file, 24 s at 10k files).
    * `listFiles` additionally DATA-SKIPS: files whose recorded column
    * ranges PROVE no row can satisfy the pushed-down filters are
    * dropped at plan time — with range-clustered layout (Z-order,
    * `repartitionByRange` writers, time-ordered appends) a selective
    * query reads a handful of files out of a 100 TB table. Pruning is
    * strictly conservative: any unknown bound, unhandled predicate
    * shape, or type mismatch keeps the file. */
  private final class ManifestFileIndex(tableRoot: HPath,
      entries: Seq[FileEntry],
      override val graftCatalog: Option[
        org.apache.spark.sql.catalyst.catalog.CatalogTable] = None,
      ambiguousNames: Set[String] = Set.empty)
      extends FileIndex with ManifestCatalogCarrier {
    private val pruner = new StatsPruning(ambiguousNames)
    override def rootPaths: Seq[HPath] = Seq(tableRoot)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[PartitionDirectory] = {
      val kept = entries.filter(e =>
        dataFilters.forall(p => pruner.mayMatch(p, e)))
      Seq(PartitionDirectory(InternalRow.empty, kept.map(_.status).toArray))
    }
    override def inputFiles: Array[String] =
      entries.map(_.status.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = entries.map(_.status.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)
  }

  /** Marker a manifest-backed `FileIndex` wears so the optimizer rule
    * ([[org.apache.spark.sql.graft.GraftManifestStatsRule]]) can attach
    * the manifest's catalog statistics to relations that reached the
    * plan through doorways the library does not construct itself — the
    * `CREATE TABLE ... USING` / `spark.read.format` paths, where Spark
    * builds the `LogicalRelation` and would otherwise plan stats-blind. */
  trait ManifestCatalogCarrier {
    def graftCatalog: Option[
      org.apache.spark.sql.catalyst.catalog.CatalogTable]
  }

  /** Skew knob for partitioned DATA commits
    * (`spark.graft.partitioned.writeSpread`, default 1): N > 1 salts
    * each partition tuple across up to N write tasks. Validated here so
    * a malformed setting fails with the conf key named, before any job
    * runs. Compaction never reads it — a sweep must PACK. */
  private def partitionedWriteSpread(s: SparkSession): Int = {
    val key = "spark.graft.partitioned.writeSpread"
    val raw = s.conf.get(key, "1").trim
    val n = try raw.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$raw'")
    }
    require(n >= 1, s"$key must be >= 1, got $n")
    n
  }

  /** Partition value types the hive layout supports (directory-string
    * round-trippable without locale/zone ambiguity). */
  private def supportedPartType(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Directory-string partition value → Catalyst internal value. */
  private def internalPartValue(dt: DataType, v: String): Any = dt match {
    case org.apache.spark.sql.types.StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(v)
    case org.apache.spark.sql.types.IntegerType => v.toInt
    case org.apache.spark.sql.types.LongType => v.toLong
    case org.apache.spark.sql.types.DateType =>
      java.time.LocalDate.parse(v).toEpochDay.toInt
    case other => throw new IllegalStateException(
      s"unsupported partition type ${other.catalogString}")
  }

  /** The hive-partitioned twin of [[ManifestFileIndex]]: entries carry
    * their partition value TUPLE in the manifest, so `listFiles` serves
    * one `PartitionDirectory` per tuple and evaluates Catalyst's
    * partitionFilters against it DRIVER-SIDE — a pruned partition's
    * files never reach the scan (directory-level pruning, composed
    * with the same zone-map data-skipping on `dataFilters`). On a
    * `year=/month=/`-partitioned 100 TB table, `WHERE year = Y AND
    * month = M` plans exactly one directory's files from one manifest
    * read; a filter on ANY prefix or subset of the levels prunes what
    * it can. */
  private[sources] final class PartitionedManifestFileIndex(tableRoot: HPath,
      entries: Seq[FileEntry],
      partFields: Seq[StructField],
      override val graftCatalog: Option[
        org.apache.spark.sql.catalyst.catalog.CatalogTable] = None,
      ambiguousNames: Set[String] = Set.empty)
      extends FileIndex with ManifestCatalogCarrier {
    import org.apache.spark.sql.catalyst.expressions._
    private val pruner = new StatsPruning(ambiguousNames)
    override def rootPaths: Seq[HPath] = Seq(tableRoot)
    override val partitionSchema: StructType = StructType(partFields)
    private def rowFor(vs: Seq[Option[String]]): InternalRow =
      InternalRow.fromSeq(partFields.zipWithIndex.map { case (fl, i) =>
        vs.lift(i).flatten.map(internalPartValue(fl.dataType, _)).orNull })
    /** Bind a partition filter's attributes to tuple positions; None
      * when any attribute is not a partition column (exact name first,
      * case-insensitive fallback) — the caller DROPS that filter, so an
      * unexpected expression shape keeps every directory instead of
      * throwing `partFields(-1)` at plan time. By construction Spark
      * only hands filters over `partitionSchema` attributes here, so
      * the fallback is unreachable today — but pruning is contractually
      * conservative (`:245-249`), never a crash. */
    private def bind(e: Expression): Option[Expression] = {
      var ok = true
      val bound = e.transform {
        case a: AttributeReference =>
          val i = partFields.indexWhere(_.name == a.name) match {
            case -1 => partFields.indexWhere(_.name.equalsIgnoreCase(a.name))
            case exact => exact
          }
          if (i < 0) { ok = false; a }
          else BoundReference(i, partFields(i).dataType,
            partFields(i).nullable)
      }
      if (ok) Some(bound) else None
    }
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val bound = partitionFilters.flatMap(bind)
      val pred = if (bound.isEmpty) None
        else Some(Predicate.createInterpreted(bound.reduce(And)))
      // lexicographic on the value SEQUENCE (not a joined string, whose
      // separator a value could contain) — deterministic directory order
      entries.groupBy(_.part.getOrElse(Nil)).toSeq
        .sortBy(_._1.map(_.getOrElse("")))(
          scala.math.Ordering.Implicits.seqOrdering[Seq, String])
        .flatMap { case (pv, es) =>
          val row = rowFor(pv)
          if (!pred.forall(_.eval(row))) None
          else Some(PartitionDirectory(row,
            es.filter(e => dataFilters.forall(p =>
                pruner.mayMatch(p, e)))
              .map(_.status).toArray))
        }
        .filter(_.files.nonEmpty)
    }
    override def inputFiles: Array[String] =
      entries.map(_.status.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = entries.map(_.status.getLen).sum
  }

  /** Zone-map pruning: can a file possibly hold a row matching `e`?
    * Sound over three-valued SQL semantics — a file is dropped only
    * when the recorded range/null evidence REFUTES every possible
    * match; anything not understood returns true.
    *
    * Column references resolve through BOTH shapes Catalyst pushes:
    * bare attributes (top-level columns, stat key = physical name) and
    * `GetStructField` chains (struct leaves, stat key = the dotted
    * path [[statCols]] recorded). `ambiguous` is the set of TOP-LEVEL
    * physical names containing a literal dot: a nested chain resolving
    * to (or through) one of them must NOT consult the stored stat —
    * the write side dropped the nested key for exactly that collision,
    * so the stat under the dotted name belongs to the top-level
    * column. Writer and pruner thereby agree on every key's meaning. */
  private final class StatsPruning(ambiguous: Set[String]) {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.unsafe.types.UTF8String

    /** The stat key a pushed column reference resolves to: an
      * attribute's own name, or a struct chain's dotted leaf path
      * (field names from the child's STRUCT TYPE by ordinal — exact
      * even when the expression's name hint differs in case). None =
      * not a column reference the stats language covers (caller keeps
      * the file). */
    private object Ref {
      def unapply(e: Expression): Option[String] = e match {
        case a: Attribute => Some(a.name)
        case g: GetStructField => unapply(g.child).map { p =>
            val n = g.child.dataType
              .asInstanceOf[org.apache.spark.sql.types.StructType](
                g.ordinal).name
            s"$p.$n"
          }.filterNot(ambiguous.contains)
        // map subscript by a string literal: `attrs['lang'] = v` probes
        // the declared per-key stat ([[setMapStatKeys]]); the key
        // format `top['key']` can never collide with a dotted struct
        // path, and a top-level name spelling it is in `ambiguous`
        case g: GetMapValue => (g.key match {
            case Literal(k: org.apache.spark.unsafe.types.UTF8String, _)
                if k != null => Some(k.toString)
            case _ => None
          }).flatMap(k => unapply(g.child).map(p => s"$p['$k']"))
            .filterNot(ambiguous.contains)
        case _ => None
      }
    }

    /** compare(storedBound, literal) in the column's collation; None =
      * incomparable (type mismatch, NaN literal) → caller keeps file. */
    private def cmp(kind: Char, bound: Any, lit: Any): Option[Int] =
      (kind, lit) match {
        case (_, null) => None
        case ('l', n: java.lang.Number) =>
          Some(java.lang.Long.compare(bound.asInstanceOf[Long], n.longValue))
        // a decimal literal compared against a bare attribute was
        // coerced to the COLUMN's decimal type (same scale as the
        // stored unscaled bound) — see statKind; precision ≤ 18 or the
        // column carries no stats at all
        case ('l', d: org.apache.spark.sql.types.Decimal) =>
          Some(java.lang.Long.compare(
            bound.asInstanceOf[Long], d.toUnscaledLong))
        case ('d', n: java.lang.Number) =>
          val d = n.doubleValue
          if (d.isNaN || d.isInfinite) None
          else {
            val b = bound.asInstanceOf[Double]
            // SQL comparison (and Spark's min/max) treat -0.0 == 0.0, but
            // java.lang.Double.compare orders -0.0 < 0.0 — a stored max of
            // -0.0 must NOT refute `x = 0.0`. Short-circuit IEEE equality
            // first (the parquet-stats convention) so signed zeros never
            // prune a matching file.
            if (b == d) Some(0)
            else Some(java.lang.Double.compare(b, d))
          }
        case ('s', u: UTF8String) =>
          Some(ManifestCodec.boundOrdering('s').compare(bound, u.getBytes))
        case _ => None
      }

    private def stat(e: FileEntry, key: String): Option[ColStat] =
      e.stats.get(key)

    /** Non-null row count if derivable: rows − nulls. */
    private def nonNull(e: FileEntry, st: ColStat): Option[Long] =
      e.rows.map(r => r - st.nulls)

    // a comparison can only match a non-null value; if the file provably
    // has none, no bound check is needed (vacuously refuted)
    private def cmpPred(e: FileEntry, key: String, lit: Any)(
        check: ColStat => Boolean): Boolean =
      stat(e, key) match {
        case None => true
        case Some(st) =>
          if (nonNull(e, st).contains(0L)) false
          else check(st)
      }

    /** Can `v` pass the file's membership Bloom? true = maybe (no
      * bloom recorded, unhashable literal, or all probe bits set);
      * false = PROVABLY absent. The hash must replay the write side
      * exactly: long kinds hashed xxhash64-of-BIGINT (dates as
      * epoch-days, timestamps as micros, decimals as the unscaled
      * long — all already the literal's internal form), strings
      * xxhash64 of the UTF-8 bytes; seed 42 (Spark's default) both
      * sides via the same XxHash64 kernel. */
    private def mayBloom(st: ColStat, v: Any): Boolean =
      st.bloom.forall { bl =>
        import org.apache.spark.sql.types.{LongType, StringType}
        val h: Option[Long] = (st.kind, v) match {
          case ('l', d: org.apache.spark.sql.types.Decimal) =>
            Some(XxHash64Function.hash(d.toUnscaledLong, LongType, 42L))
          case ('l', n: java.lang.Number) =>
            Some(XxHash64Function.hash(n.longValue, LongType, 42L))
          case ('s', u: UTF8String) =>
            Some(XxHash64Function.hash(u, StringType, 42L))
          case _ => None
        }
        h.forall(graft.functions.BloomBits.mightContain(bl, _))
      }

    private def mayEq(e: FileEntry, key: String, v: Any): Boolean =
      cmpPred(e, key, v) { st =>
        // v inside [min, max]; unknown bound = unbounded
        st.min.flatMap(m => cmp(st.kind, m, v)).forall(_ <= 0) &&
        st.max.flatMap(m => cmp(st.kind, m, v)).forall(_ >= 0) &&
        // the membership Bloom refutes point probes range checks
        // cannot (unclustered tables, where every file straddles v)
        mayBloom(st, v)
      }

    def mayMatch(expr: Expression, e: FileEntry): Boolean = expr match {
      case And(l, r) => mayMatch(l, e) && mayMatch(r, e)
      case Or(l, r) => mayMatch(l, e) || mayMatch(r, e)
      case EqualTo(Ref(n), Literal(v, _)) => mayEq(e, n, v)
      case EqualTo(Literal(v, _), Ref(n)) => mayEq(e, n, v)
      case EqualNullSafe(Ref(n), Literal(v, _)) if v != null => mayEq(e, n, v)
      case EqualNullSafe(Literal(v, _), Ref(n)) if v != null => mayEq(e, n, v)
      case In(Ref(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(l => mayEq(e, n, l.asInstanceOf[Literal].value))
      case InSet(Ref(n), vs) => vs.exists(v => mayEq(e, n, v))
      // ∃ value < v ⇔ min < v (min unknown → possible)
      case LessThan(Ref(n), Literal(v, _)) =>
        cmpPred(e, n, v)(st => st.min.flatMap(m => cmp(st.kind, m, v)).forall(_ < 0))
      case GreaterThan(Literal(v, _), Ref(n)) =>
        cmpPred(e, n, v)(st => st.min.flatMap(m => cmp(st.kind, m, v)).forall(_ < 0))
      case LessThanOrEqual(Ref(n), Literal(v, _)) =>
        cmpPred(e, n, v)(st => st.min.flatMap(m => cmp(st.kind, m, v)).forall(_ <= 0))
      case GreaterThanOrEqual(Literal(v, _), Ref(n)) =>
        cmpPred(e, n, v)(st => st.min.flatMap(m => cmp(st.kind, m, v)).forall(_ <= 0))
      // ∃ value > v ⇔ max > v (max unknown → possible)
      case GreaterThan(Ref(n), Literal(v, _)) =>
        cmpPred(e, n, v)(st => st.max.flatMap(m => cmp(st.kind, m, v)).forall(_ > 0))
      case LessThan(Literal(v, _), Ref(n)) =>
        cmpPred(e, n, v)(st => st.max.flatMap(m => cmp(st.kind, m, v)).forall(_ > 0))
      case GreaterThanOrEqual(Ref(n), Literal(v, _)) =>
        cmpPred(e, n, v)(st => st.max.flatMap(m => cmp(st.kind, m, v)).forall(_ >= 0))
      case LessThanOrEqual(Literal(v, _), Ref(n)) =>
        cmpPred(e, n, v)(st => st.max.flatMap(m => cmp(st.kind, m, v)).forall(_ >= 0))
      // a struct-leaf `IsNull` counts parent-null rows too — exactly
      // what the stored null count measured (`leaf IS NULL` over the
      // file), so the same refutation is sound for nested refs
      case IsNull(Ref(n)) =>
        stat(e, n).forall(_.nulls > 0)
      case IsNotNull(Ref(n)) =>
        stat(e, n).forall(st => !nonNull(e, st).contains(0L))
      // declared array-element stats ([[setBloomColumns]] on an array
      // column): a pushed `array_contains(col, v)` probes the ELEMENT
      // bounds and the element Bloom under the `col[]` stat key —
      // exactly the mayEq rule with elements as the value domain (a
      // file whose every array is null can never match; a v outside
      // [min_elem, max_elem] cannot be contained; the Bloom refutes
      // the rest). A top-level column literally named `x[]` makes the
      // key ambiguous — skipped, the dotted-key rule.
      case ArrayContains(Ref(n), Literal(v, _))
          if !ambiguous.contains(s"$n[]") =>
        mayEq(e, s"$n[]", v)
      case StartsWith(Ref(n), Literal(v, _)) if v != null =>
        // a prefix match needs SOME value in [prefix, prefix+∞): the max
        // must be >= prefix and the min must be < prefix's upper fence —
        // conservative form: min <= any string starting with the prefix,
        // so check prefix against max only (cheap and sound)
        cmpPred(e, n, v)(st => st.max.flatMap(m => cmp(st.kind, m, v)).forall(_ >= 0))
      case _ => true
    }
  }

  /** Writer ids with at least one committed transaction on this table —
    * the replay-detection surface of [[commitIdempotent]] (an opaque
    * txn id IS its writer id at version 0). ONE manifest read: every
    * manifest carries the per-writer watermark map forward. */
  def committedTxns(s: SparkSession, tableDir: String): Set[String] =
    committedTxnVersions(s, tableDir).keySet

  /** Per-writer transaction watermarks: writer id → the highest
    * `txnVersion` that writer ever committed (0 for opaque single-shot
    * ids). A replayed `(writer, version)` is a no-op iff
    * `version <= watermark(writer)` — the Delta txnAppId/txnVersion
    * contract, which keeps the manifest's replay metadata at ONE line
    * per writer instead of one per micro-batch ever committed. */
  def committedTxnVersions(s: SparkSession,
      tableDir: String): Map[String, Long] =
    snapshotAt(s, tableDir).fold(Map.empty[String, Long])(_._2.txns)

  /** Has `txn` (writer id, version) already landed per `m`'s per-writer
    * watermarks? Monotone: any version at or below the stored watermark
    * is a replay — a structured-streaming sink only ever replays its
    * LATEST uncommitted batch, so versions at or below the watermark
    * are by construction re-deliveries, never new work.
    *
    * Upgrade seam: sinks that predate per-writer watermarks stamped
    * each micro-batch as the opaque one-shot id `"$writer-$batch"`
    * (legacy `#txn:` manifest lines, parsed as that composite id at
    * version 0). A stream restarted from its old checkpoint across the
    * format change replays its last uncommitted batch under the NEW
    * `(writer, version)` identity — recognizing the legacy composite
    * here is what keeps that replay a no-op instead of a double
    * commit. The check consults ONLY ids that arrived as `#txn:` lines
    * (`legacyTxns` — manifests carry them in that form forever, see
    * nextManifest): a NEW one-shot id that merely spells
    * `"<writer>-<batch>"` lives in the `#txnv:` namespace and can
    * never mark another writer's batch as a replay — the composite
    * match would otherwise silently DROP that writer's batch, which is
    * strictly worse than the duplicate it prevents. Known boundary: a
    * table whose legacy lines were already re-encoded as
    * `#txnv:<id>:0` by an INTERMEDIATE format (before provenance was
    * preserved) gets no composite protection — its one exposed replay
    * (the single last-uncommitted batch of a stream restarted across
    * BOTH upgrades) needs a fresh checkpoint, per the [[writerIdFor]]
    * stable-identity contract. */
  private def txnLanded(m: Option[Manifest],
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (w, v) =>
      m.exists(mm => mm.txns.get(w).exists(_ >= v) ||
        mm.legacyTxns.contains(s"$w-$v"))
    }

  /** A sink's stable writer identity, derived from its checkpoint
    * location — the `txnId` a long-lived streaming writer passes to
    * [[commitIdempotent]]. The CHECKPOINT is the right identity root:
    * it is what makes two runs "the same stream" (same offsets, same
    * batch-id sequence), so replays collapse exactly when they should,
    * while two DISTINCT streams feeding one table hash to distinct
    * writers and can never mistake each other's batch versions for
    * replays (a fixed constant like "sink" would collide them and
    * silently skip real batches). Hashed, not the raw path: the
    * manifest line stays short for arbitrarily deep checkpoint URIs,
    * and trailing-slash spelling differences collapse.
    *
    * CONTRACT: a writer's identity must stay STABLE for the life of
    * its checkpoint. Changing it mid-stream — renaming the checkpoint
    * directory, or upgrading a sink that previously passed a different
    * `txnId` (e.g. a hand-rolled constant) — orphans the old watermark:
    * the first post-change batch would not be recognized as a replay
    * if it had already landed under the old identity. Start such a
    * stream from a FRESH checkpoint (and table, or an idempotent
    * downstream) instead. The one seam handled automatically is the
    * legacy per-batch `#txn:<writer>-<batch>` form — see
    * [[commitIdempotent]]. */
  def writerIdFor(checkpointLocation: String): String = {
    val norm = checkpointLocation.trim.stripSuffix("/")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes("UTF-8"))
    "ckpt-" + d.take(8).map(b => f"$b%02x").mkString
  }

  /** Fold `txn` into the carried watermark map (max per writer). */
  private def txnMerge(prev: Map[String, Long],
      txn: Option[(String, Long)]): Map[String, Long] =
    txn.fold(prev) { case (w, v) =>
      prev + (w -> prev.get(w).map(math.max(_, v)).getOrElse(v)) }

  /** Commit `df` as the next version. `overwrite = false` appends to the
    * previous snapshot's file list; `overwrite = true` replaces it.
    * Safe under concurrent committers: the loser of a version race
    * retries at the next number. Returns the committed version. */
  def commit(s: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean): Int =
    commitInternal(s, tableDir, df, overwrite, None).get

  /** Idempotent commit for replayable writers (a streaming `foreachBatch`
    * sink): if `(txnId, txnVersion)` ever committed — same writer id at
    * this version OR NEWER — the call is a no-op returning None, so a
    * micro-batch replayed after a crash-restart cannot land twice. The
    * watermark travels IN the manifest (`#txnv:` metadata, one line per
    * WRITER carrying its highest version — the Delta txnAppId
    * convention, O(writers) manifest bytes no matter how many batches
    * ever committed), so it is published by the same atomic
    * create-exclusive as the data — there is no window where data is
    * visible but its txn is not, and the replay check is re-evaluated
    * on every retry of a lost version race, so even two ZOMBIE writers
    * replaying the same batch concurrently land it exactly once.
    *
    * A long-lived sink passes a STABLE `txnId` (its writer identity —
    * [[writerIdFor]] derives one from the checkpoint location, which
    * also keeps two distinct streams feeding one table from colliding)
    * and the micro-batch id as `txnVersion` — batch versions from one
    * writer must be monotone, which structured streaming's batch ids
    * are. The `txnVersion` default (0) keeps the legacy one-shot form:
    * a UNIQUE opaque `txnId` per logical write, replay-detected by
    * pure membership. */
  def commitIdempotent(s: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean, txnId: String,
      txnVersion: Long = 0L): Option[Int] =
    commitInternal(s, tableDir, df, overwrite, Some((txnId, txnVersion)))

  /** Commit `df` hive-partitioned by `partitionBy`: data files land
    * under `<col>=<value>/` directories (the layout every migrating
    * lakehouse user expects), each file's partition value is recorded
    * IN the manifest, and reads prune whole directories from Catalyst's
    * partition filters before zone maps even look — `WHERE col = v` on
    * a 100 TB table plans one directory's files from one manifest read.
    * The partition column stays a regular column of the table schema
    * (reads reconstruct it; the data files do not store it, so its
    * storage cost is zero). Appends must keep the layout; an overwrite
    * may change it. Partition values must be
    * string/int/long/date — directory-string round-trippable.
    *
    * [[compact]] packs PER PARTITION (the partitioned writer keeps the
    * directory scheme), [[vacuum]] sweeps nested partition dirs,
    * [[deleteWhere]]/[[absorbDeletes]] work unchanged (deletion
    * vectors key on (file, position), layout-agnostic; the absorb
    * rewrite re-lands affected files under their hive directories),
    * and [[merge]]/[[mergeLatest]] run through the SELECTIVE path —
    * affected files rewritten in place, an upsert that changes a row's
    * partition value migrates it naturally. Interactions to know:
    * a merge with OUTSTANDING deletion vectors refuses (run
    * absorbDeletes first — the flat table's full-rewrite tolerance
    * would flatten this layout), as does a merge whose upserts do not
    * cover the full schema. [[rewriteZordered]] clusters WITHIN
    * partitions (prune the directory first, then the key box by zone
    * maps inside it); it declines with None when a Z dimension is the
    * partition column (constant within any directory) — and, exactly
    * as on flat tables, on outstanding deletion vectors
    * (absorbDeletes first), bucketed layouts, and empty snapshots. */
  def commitPartitioned(s: SparkSession, tableDir: String, df: DataFrame,
      partitionBy: String, overwrite: Boolean = false): Int =
    commitPartitionedBy(s, tableDir, df, Seq(partitionBy), overwrite)

  /** Multi-level variant: `partitionBy` columns nest as
    * `<a>=<v>/<b>=<w>/…` in the given order (the `year/month/day`
    * feed layout); partition filters on ANY subset of the levels
    * prune directories. */
  def commitPartitionedBy(s: SparkSession, tableDir: String, df: DataFrame,
      partitionBy: Seq[String], overwrite: Boolean = false): Int = {
    require(partitionBy.nonEmpty, "commitPartitionedBy: no partition columns")
    commitInternal(s, tableDir, df, overwrite, None,
      partitionBy = partitionBy).get
  }

  /** [[commitPartitioned]] × [[commitBucketed]] — Iceberg's
    * "partition by day, bucket by user within the day" shape: hive
    * directories per `partitionBy` value OUTSIDE, `nBuckets` hash
    * buckets on `bucketCol` INSIDE each directory. Reads prune
    * directories from partition filters AND report the bucket hash
    * partitioning, so the canonical event-store query — restrict to a
    * date range, join on the entity key — plans directory-pruned and
    * exchange-free in the same scan. One hash shuffle at write time
    * (task index = bucket id); appends must keep BOTH layout halves;
    * a plain partitioned append degrades the bucket half only
    * (readers stay correct, they lose the free partitioning); merge
    * refuses (rewrite the layout via [[relayout]] instead); compact /
    * Z-order decline as on flat bucketed tables. */
  def commitPartitionedBucketed(s: SparkSession, tableDir: String,
      df: DataFrame, partitionBy: Seq[String], nBuckets: Int,
      bucketCol: String, overwrite: Boolean = false): Int = {
    require(partitionBy.nonEmpty,
      "commitPartitionedBucketed: no partition columns")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(df.columns.contains(bucketCol),
      s"bucket column '$bucketCol' not in ${df.columns.mkString(",")}")
    commitInternal(s, tableDir, df, overwrite, None,
      bucket = Some((nBuckets, bucketCol)), partitionBy = partitionBy).get
  }

  /** PARTITION EVOLUTION as one atomic commit: rewrite the current
    * snapshot's rows into a new layout — hive-partitioned by
    * `partitionBy` (empty = flat), optionally bucketed by `bucketBy` —
    * published as a single overwrite version. History is preserved:
    * every prior version keeps its own recorded layout (the manifest
    * stores `#partby:`/`#bucket:` per version), so time travel still
    * reads the old scheme while new reads prune the new directories.
    * Outstanding merge-on-read deletes are absorbed by the rewrite
    * (the read applies them; the overwrite retires them). Txn
    * watermarks, constraints — table properties — survive; NDV
    * recollects from the rewrite pass. This is the documented escape
    * hatch from the append-must-keep-layout rule: the migrating user's
    * "repartition my table by day" is `relayout(s, dir, Seq("day"))`,
    * costing one full rewrite — never a manifest surgery.
    *
    * Serializable like every other whole-file rewrite (compact,
    * absorbDeletes, rewriteZordered): the publish re-reads the LATEST
    * manifest and aborts + re-plans if ANY commit landed since the
    * rewrite's read — "preserves rows" is the op's contract, and a
    * plain overwrite would silently erase a concurrent append. */
  def relayout(s: SparkSession, tableDir: String,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, String)] = None): Int = {
    commitLoop(s, tableDir, "relayout", replan = true,
        kind = Some("compact")) { (_, pm) =>
      val m0 = requirePublished(pm, "relayout", tableDir)
      val cur = snapshotFrame(s, tableDir, m0)
      require(cur.columns.nonEmpty,
        s"relayout: $tableDir has no published schema to re-lay")
      bucketBy.foreach { case (n, c) =>
        require(n > 0, s"nBuckets must be positive, got $n")
        require(cur.columns.contains(c),
          s"bucket column '$c' not in ${cur.columns.mkString(",")}")
        require(!partitionBy.contains(c),
          s"bucket column '$c' cannot also be a partition column")
      }
      // the same layout validations commitInternal gives its callers —
      // without them a malformed spec surfaces as Spark's generic
      // write-time error MID-rewrite instead of a targeted require
      require(partitionBy.distinct == partitionBy,
        s"relayout: duplicate partition columns: ${partitionBy.mkString(",")}")
      require(partitionBy.size < cur.schema.size || partitionBy.isEmpty,
        "relayout: at least one non-partition column is required")
      partitionBy.foreach { c =>
        require(cur.columns.contains(c),
          s"partition column '$c' not in ${cur.columns.mkString(",")}")
        require(supportedPartType(cur.schema(c).dataType),
          s"relayout: unsupported partition type " +
            s"${cur.schema(c).dataType.catalogString} for '$c' " +
            "(string/int/long/date)")
      }
      val sc = storedSchema(cur.schema)
      val written = writeDataDir(s, tableDir, cur, sc, bucketBy,
        partitionBy, partSpread = partitionedWriteSpread(s))
      beforePublishHook()
      // serializability: the rewrite read exactly m0's file + vector
      // state under m0's schema — publishing over a mid-flight commit
      // would erase its rows while claiming to preserve them, and over
      // a concurrent schema change would undo it (an added column
      // lost, a dropped one back with its data)
      Some(Plan(metadataRebase(m0)(m => Prepared(written.entries, sc,
        m.txns, bucketBy, Seq.empty, m.constraints,
        // all pre-drop files are rewritten away: dropped names are
        // safely re-usable, exactly as after any overwrite
        Set.empty[String], written.ndv, partBy = Some(partitionBy))),
        written.discard))
    }.get
  }

  /** [[commitPartitioned]] × [[commitIdempotent]]: the partitioned
    * streaming-sink commit — hive layout per batch, exactly-once by
    * per-writer watermark. See both for the contracts. */
  def commitPartitionedIdempotent(s: SparkSession, tableDir: String,
      df: DataFrame, partitionBy: String, txnId: String,
      txnVersion: Long): Option[Int] =
    commitInternal(s, tableDir, df, overwrite = false,
      Some((txnId, txnVersion)), partitionBy = Seq(partitionBy))

  /** The lossless widening chains appends may evolve a column along.
    * Exactly the pairs whose STAT KIND coincides (`byte/short/int/long`
    * all ride 'l', `float/double` ride 'd' — [[statKind]]), so every
    * zone-map bound, NDV hash rendering, and catalog statistic recorded
    * from narrower files stays sound under the wider read; Spark 4's
    * vectorized parquet reader promotes int32/float pages to
    * long/double natively, so old files need no rewrite. */
  private val widenChains: Seq[Seq[DataType]] = Seq(
    Seq(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType),
    Seq(org.apache.spark.sql.types.FloatType,
      org.apache.spark.sql.types.DoubleType))

  /** The wider of two types when both sit on one widening chain.
    * Decimals widen by PRECISION at the SAME scale (both ≤ 18 so the
    * unscaled-long stat kind holds): the stored unscaled zone-map
    * bounds are scale-dependent, so a scale change would make every
    * recorded bound compare wrong against re-coerced literals —
    * refused, while a precision-only widen leaves unscaled values
    * (and the parquet pages, which Spark promotes) untouched. */
  private def widened(a: DataType, b: DataType): Option[DataType] =
    (a, b) match {
      case (x: org.apache.spark.sql.types.DecimalType,
            y: org.apache.spark.sql.types.DecimalType)
          if x.scale == y.scale && x.scale >= 0 &&
            x.precision <= 18 && y.precision <= 18 =>
        Some(if (x.precision >= y.precision) x else y)
      case _ =>
        widenChains.find(c => c.contains(a) && c.contains(b))
          .map(c => if (c.indexOf(a) >= c.indexOf(b)) a else b)
    }

  /** Additive schema evolution: same-name columns keep their type or
    * WIDEN losslessly ([[widenChains]]) — the table schema takes the
    * WIDER side either way, so an int batch appended to a long column
    * stays long (its int32 pages read as longs) and a long batch
    * widens an int column to long for every epoch's files at once.
    * Any other change (narrowing, cross-family, string↔numeric) is
    * refused. `frozen` names may not change type at all: layout keys —
    * the bucket column's file placement is a TYPED hash (int 5 and
    * long 5 hash differently, so a widened bucket key would silently
    * mis-group the exchange-free join), and partition values bind
    * through the recorded directory tuples; [[relayout]] is the
    * escape hatch that re-keys. Columns new in `next` append after
    * the previous schema's. */
  private def mergeSchemas(prev: StructType, next: StructType,
      frozen: Set[String] = Set.empty): StructType = {
    val prevNames = prev.fieldNames.toSet
    val evolved = prev.fields.map { pf =>
      next.fields.find(_.name == pf.name) match {
        case Some(f) if f.dataType.catalogString == pf.dataType.catalogString =>
          pf
        case Some(f) =>
          val w = widened(pf.dataType, f.dataType)
          require(w.isDefined,
            s"snapshot schema evolution: column '${pf.name}' cannot change " +
              s"type ${pf.dataType.catalogString} -> " +
              s"${f.dataType.catalogString} (only lossless widening: " +
              "byte->short->int->long, float->double, decimal precision " +
              "at the same scale)")
          require(!frozen.contains(pf.name),
            s"snapshot schema evolution: cannot widen layout key " +
              s"'${pf.name}' (bucket/partition column) — relayout() to re-key")
          pf.copy(dataType = w.get)
        case None => pf
      }
    }
    // new fields enter PHYSICAL-marker-free (a marker riding a foreign
    // read must not alias a fresh column to some other table's storage)
    StructType(evolved ++ stripPhys(StructType(
      next.fields.filterNot(f => prevNames.contains(f.name)))).fields)
  }

  /** Zone-map eligibility: Long-family ('l'), Double-family ('d'),
    * String ('s'). Date and timestamp columns ride the LONG kind — a
    * date is its epoch-day, a timestamp its epoch-micros, which is
    * exactly Catalyst's own internal representation for their
    * literals, so the pruner's long comparison needs no
    * per-type conversion: `WHERE event_ts >= TIMESTAMP'...'` arrives
    * as `GreaterThanOrEqual(attr, Literal(micros))` and compares
    * directly against the stored micros bound. On a time-ordered
    * 100 TB event table that makes the single most common predicate —
    * a timestamp range — a file-skipping one instead of a full scan.
    * Other types carry no stats and are never pruned on. */
  private def statKind(dt: DataType): Option[Char] = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => Some('l')
    // the warehouse money type rides the long kind as its UNSCALED
    // value (5.25 @ scale 2 → 525) — exact, and scale-safe at the
    // pruner: the bare-attribute patterns only ever match when
    // Catalyst coerced the literal to the COLUMN's own decimal type
    // (a different-scale literal widens the comparison and wraps the
    // attribute in a Cast, which conservatively keeps the file), so
    // the literal's unscaled long is always in the stored bound's
    // scale. Precision ≤ 18 so the unscaled value fits a long.
    case dt: org.apache.spark.sql.types.DecimalType
        if dt.precision <= 18 && dt.scale >= 0 => Some('l')
    case org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType => Some('d')
    case org.apache.spark.sql.types.StringType => Some('s')
    case _ => None
  }

  /** SQL fragment rendering a column in its STORED stat representation:
    * dates as epoch-days (`unix_date`), timestamps as epoch-micros
    * (`unix_micros`) — Catalyst's internal forms, which is what makes
    * the pruning comparison conversion-free — everything else as
    * itself. TIMESTAMP_NTZ's internal form is the wall-clock reading's
    * micros AS IF UTC (zone-independent), so it is assembled from the
    * wall-clock FIELDS themselves: `CAST(ntz AS DATE)`, `hour`,
    * `minute`, and `extract(SECOND ...)` (micros-exact: DECIMAL(8,6))
    * all read an NTZ value's fields with NO zone conversion, and
    * epoch-day × 86400e6 + intra-day micros is exactly Catalyst's
    * internal long (the `LocalDateTime.toEpochSecond` identity, valid
    * on both sides of the epoch) — so collection is sound under ANY
    * session zone, and readers compare stored bounds against the
    * zone-independent NTZ literal correctly from any session too.
    * Null-preserving, order-preserving. `ref` is the already-QUOTED
    * column reference (single backquoted name, or a dotted
    * `` `a`.`b` `` struct-leaf path). */
  private def statSql(ref: String, dt: DataType): String = dt match {
    case org.apache.spark.sql.types.DateType => s"unix_date($ref)"
    case org.apache.spark.sql.types.TimestampType => s"unix_micros($ref)"
    case org.apache.spark.sql.types.TimestampNTZType =>
      s"(unix_date(CAST($ref AS DATE)) * 86400000000L + " +
        s"hour($ref) * 3600000000L + minute($ref) * 60000000L + " +
        s"CAST(extract(SECOND FROM $ref) * 1000000 AS BIGINT))"
    // unscaled long via an exact integer-literal multiply (decimal ×
    // integer is exact decimal arithmetic; precision ≤ 18 guarantees
    // the long cast cannot overflow)
    case dt: org.apache.spark.sql.types.DecimalType =>
      if (dt.scale == 0) s"CAST($ref AS BIGINT)"
      else s"CAST($ref * ${java.math.BigInteger.TEN.pow(dt.scale)} AS BIGINT)"
    case _ => ref
  }

  /** Struct-leaf traversal depth cap: stats enumerate leaves at most
    * this many levels down (top-level = 1). Crawl/event schemas nest
    * 2-3 deep in practice; unbounded recursion over a pathological
    * schema would bloat every manifest entry. */
  private val MaxStatDepth = 4

  /** Budget on NESTED stat keys per schema (top-level columns are
    * never capped — existing behavior): a pathologically wide struct
    * must not multiply every manifest entry and every commit's stats
    * pass. Schema order, deterministic; leaves beyond the budget
    * simply carry no stats, which the pruner treats as unknown —
    * sound, never wrong. (Delta's dataSkippingNumIndexedCols is the
    * same discipline.) */
  private val MaxNestedStatCols = 64

  /** One stat-eligible column path: the LOGICAL display name (dotted
    * for struct leaves), the PHYSICAL stat key (what manifests store —
    * renames are top-level only, so only the first segment differs),
    * the stat kind, the stored-representation SQL over the physical
    * path, and the stats-format version the path became eligible at
    * (top-level atomic = 2, struct leaf = 3 — what coverage-marker
    * consumers compare `statsVer` against). */
  private final case class StatPath(logical: String, key: String,
      kind: Char, sql: String, since: Int)

  /** Every stat-eligible column PATH of a schema: top-level atomic
    * columns of an eligible kind (keyed by PHYSICAL name — renames are
    * top-level only), plus struct LEAF fields of eligible kinds to
    * [[MaxStatDepth]], keyed `top.leaf[...]` in dotted form. Arrays
    * and maps are not traversed (no per-element zone map is sound
    * under SQL array semantics).
    *
    * Dotted-key collision guard, over the FULL enumeration: a nested
    * leaf's dotted key could collide with a top-level column name
    * (logical OR physical — a literal dot in either), or with ANOTHER
    * nested leaf's key (a dot inside a nested field name: struct
    * `a{`b.c`, b: struct{c}}` spells `a.b.c` twice). Any such key is
    * ambiguous, so EVERY nested path claiming it is DROPPED
    * (conservative: no stats → no pruning — a stored stat never
    * describes two columns), and the read side ignores dotted keys
    * matching a top-level name ([[StatsPruning]]'s `ambiguous` set),
    * so writer and pruner always agree on what a dotted key means. */
  private def statCols(schema: StructType): Seq[StatPath] = {
    val topKeys = schema.fields.iterator
      .flatMap(f => Iterator(f.name, physName(f))).toSet
    val nestedCounts = schema.fields.toSeq.flatMap(nestedPathsOf)
      .groupBy(_.key).view.mapValues(_.size).toMap
    var nestedBudget = MaxNestedStatCols
    schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case _: StructType =>
          val ls = nestedPathsOf(f)
            .filterNot(sp =>
              topKeys.contains(sp.key) || nestedCounts(sp.key) > 1)
            .take(nestedBudget)
          nestedBudget -= ls.size
          ls
        case dt =>
          val p = physName(f)
          statKind(dt).map(k =>
            StatPath(f.name, p, k, statSql(q(p), dt), since = 2)).toSeq
      }
    }
  }

  private def q(seg: String): String = "`" + seg + "`"

  /** The FULL nested enumeration of one top-level struct field — every
    * stat-eligible leaf to [[MaxStatDepth]], before collision dedup or
    * the [[MaxNestedStatCols]] budget. */
  private def nestedPathsOf(f: StructField): Seq[StatPath] = {
    def leaves(disp: String, key: String, ref: String, dt: DataType,
        depth: Int): Seq[StatPath] = dt match {
      case st: StructType if depth < MaxStatDepth =>
        st.fields.toSeq.flatMap(g =>
          leaves(s"$disp.${g.name}", s"$key.${g.name}", s"$ref.${q(g.name)}",
            g.dataType, depth + 1))
      case other =>
        statKind(other).map(k =>
          StatPath(disp, key, k, statSql(ref, other), since = 3)).toSeq
    }
    f.dataType match {
      case st: StructType =>
        val p = physName(f)
        st.fields.toSeq.flatMap(g =>
          leaves(s"${f.name}.${g.name}", s"$p.${g.name}",
            s"${q(p)}.${q(g.name)}", g.dataType, 2))
      case _ => Nil
    }
  }

  /** The stats-coverage marker version a stats pass over `schema` may
    * honestly stamp: [[StatsFormatVersion]] when the nested-leaf
    * enumeration is COMPLETE (every eligible leaf got a stat key), v2
    * when the [[MaxNestedStatCols]] budget or a dotted-key collision
    * dropped any — so a later schema change that frees budget (or
    * retires a collision) can never make [[metaAgg]] read an old
    * file's MISSING nested stat as "leaf absent from batch → all rows
    * null, exact": the v2 marker only vouches for top-level coverage,
    * and nested claims degrade to unknown until `GRAFT ANALYZE`
    * recollects. */
  private def statsMarkerVersion(schema: StructType): Int = {
    val full = schema.fields.toSeq.flatMap(nestedPathsOf).size ==
      statCols(schema).count(_.since >= 3)
    if (full) StatsFormatVersion else 2
  }

  /** The manifest-planned relation over an explicit entry subset —
    * shared by [[readAsOf]] and [[compact]] (which must read 10k small
    * files without 10k driver-side path resolutions).
    *
    * With `withStats` (full-snapshot reads), the manifest's EXACT row
    * counts, per-column null/byte accounting, and cumulative NDV
    * sketches are attached as `CatalogStatistics` — under
    * `spark.sql.cbo.planStats.enabled` Catalyst then sizes the scan as
    * rowCount × true row width instead of compressed file bytes, so a
    * join between snapshot tables picks broadcast-vs-shuffle from real
    * cardinalities. At 100 TB, stats-blind planning is the difference
    * between broadcasting a 10k-row dimension and shuffling the fact
    * table against it. Subset reads (compact, merge deltas, deletion
    * vectors) attach nothing: the table-cumulative NDV would oversell
    * a partial file list. */
  private def relationFor(s: SparkSession, tableDir: String, sc: StructType,
      es: Seq[FileEntry],
      bucket: Option[(Int, String)] = None,
      withStats: Option[Manifest] = None,
      partBy: Seq[String] = Nil): DataFrame = {
    // the scan plans in PHYSICAL column names (what the files store and
    // the manifest stats/pruner key on); renamed tables alias back to
    // the logical names in ONE projection on top — Catalyst pushes
    // filters and pruning straight through the aliases, so data
    // skipping and pushdown are untouched by a rename
    val scP = physicalSchema(sc)
    val cat = catalogStats(s, tableDir, scP, es, withStats)
    val rel = fsRelation(s, tableDir, scP, es, bucket, partBy, cat)
    val df = cat match {
      case Some(table) =>
        org.apache.spark.sql.GraftSqlShim.ofRowsWithStats(s, rel, table)
      case None => s.baseRelationToDataFrame(rel)
    }
    if (renamesOf(sc).nonEmpty)
      // empty alias metadata: the physical marker must not ride a READ
      // into some other table's commit
      df.select(sc.fields.toIndexedSeq.map(f =>
        org.apache.spark.sql.functions.col(physName(f))
          .as(f.name, org.apache.spark.sql.types.Metadata.empty)): _*)
    // the hive layout appends the reconstructed partition columns after
    // the data columns — restore the recorded schema order
    else if (partBy.nonEmpty && df.columns.toSeq != sc.fieldNames.toSeq)
      df.select(sc.fieldNames.toIndexedSeq.map(
        org.apache.spark.sql.functions.col): _*)
    else df
  }

  /** The shared `HadoopFsRelation` constructor: flat, bucketed, or
    * hive-partitioned per the manifest's recorded layout. */
  private def fsRelation(s: SparkSession, tableDir: String, sc: StructType,
      es: Seq[FileEntry], bucket: Option[(Int, String)],
      partBy: Seq[String],
      catalog: Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
        None): HadoopFsRelation = {
    // top-level names containing a literal dot, under BOTH identities
    // (the scan usually plans in physical names, but callers hand this
    // constructor logical-named schemas too — union covers every case)
    // — the pruner must not read a nested GetStructField chain's
    // dotted key as one of these (the write side dropped the colliding
    // nested stat; see statCols)
    val amb = sc.fields.iterator
      .flatMap(f => Iterator(f.name, physName(f)))
      .filter(n => n.contains('.') || n.contains('[')).toSet
    if (partBy.nonEmpty) {
      val partFields = partBy.map(c => sc.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(
          s"partition column '$c' missing from recorded schema of $tableDir")))
      HadoopFsRelation(
        new PartitionedManifestFileIndex(new HPath(tableDir), es, partFields,
          catalog, amb),
        partitionSchema = StructType(partFields),
        dataSchema = StructType(sc.fields.filterNot(f =>
          partBy.contains(f.name))),
        // bucket-within-partition: directory pruning outside, bucket-id
        // file grouping inside — the scan reports HashPartitioning on
        // the bucket column, so a join on it within (or across) pruned
        // partitions plans exchange-free. sortColumnNames: every
        // bucketed write sorts each task by (partition cols, bucket
        // col), and partition cols are constant within a hive output
        // file — so each bucket FILE is sorted by the bucket column,
        // and Spark drops the join-side SortExec too when a bucket has
        // at most one file (it falls back to sorting otherwise).
        bucketSpec = bucket.map { case (n, cc) =>
          org.apache.spark.sql.catalyst.catalog.BucketSpec(
            n, Seq(cc), Seq(cc)) },
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(s)
    } else {
      HadoopFsRelation(
        new ManifestFileIndex(new HPath(tableDir), es, catalog, amb),
        partitionSchema = StructType(Nil), dataSchema = sc,
        // sortColumnNames: the bucketed writer sorts every bucket by
        // its bucket column (`repartition(n, c).sortWithinPartitions(c)`
        // — one file per bucket per commit), so a fresh bucketed table
        // serves SORTED bucket scans and a key join skips SortExec as
        // well as Exchange; appended multi-file buckets make Spark fall
        // back to sorting automatically (file-count check at planning)
        bucketSpec = bucket.map { case (n, cc) =>
          org.apache.spark.sql.catalyst.catalog.BucketSpec(
            n, Seq(cc), Seq(cc)) },
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(s)
    }
  }

  /** Manifest metadata → `CatalogTable` carrying `CatalogStatistics`:
    * exact `rowCount` (Σ per-file rows), per-column `nullCount` (a file
    * without a recorded stat predates the column — its rows are
    * all-null for it), avg string width (Σ payload bytes / Σ non-null),
    * and `distinctCount` from the cumulative bottom-K NDV sketch. None
    * when any entry predates row-count collection. */
  private def catalogStats(s: SparkSession, tableDir: String,
      sc: StructType, es: Seq[FileEntry],
      withStats: Option[Manifest]): Option[
      org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    withStats.flatMap { m =>
      if (es.exists(_.rows.isEmpty)) None
      else {
        import org.apache.spark.sql.catalyst.catalog._
        val nRows = es.flatMap(_.rows).sum
        val colStats = sc.fields.toSeq.flatMap { f =>
          statKind(f.dataType).flatMap { kind =>
            val sts = es.map(e => (e.rows.get, e.stats.get(f.name)))
            // no file records a stat for an ELIGIBLE column: either the
            // files predate the column (its rows are all-null) or they
            // predate the column TYPE's stat eligibility (values
            // unknown — e.g. date/timestamp columns written before
            // those kinds were collected). Indistinguishable from the
            // manifest, so claim nothing rather than report rows as
            // nulls to CBO.
            if (sts.forall(_._2.isEmpty) && nRows > 0) None
            // a MIXED manifest: some value-bearing file lacks the stat
            // and carries no coverage marker vouching "column absent
            // from its batch" — its rows may hold unknown values
            // (pre-v15 writer, pre-eligibility kind), so nullCount and
            // bounds folded from the stat-bearing files only would be
            // confidently WRONG. Serve CBO the NDV sketch alone.
            else if (es.exists(e =>
                e.rows.exists(_ > 0) && !accountsFor(e, f)))
              Some(f.name -> CatalogColumnStat(
                distinctCount = m.ndv.get(f.name)
                  .map(sk => BigInt(math.round(
                    graft.functions.KmvDistinctAgg.estimate(sk))))))
            else Some {
            val nulls = sts.map { case (r, st) => st.fold(r)(_.nulls) }.sum
            val nonNull = nRows - nulls
            val byteSums = sts.flatMap(_._2).flatMap(_.bytes)
            // avg width only when EVERY value-bearing file recorded its
            // byte total (legacy entries would skew the mean)
            val avgLen =
              if (nonNull > 0 && f.dataType ==
                    org.apache.spark.sql.types.StringType &&
                  sts.forall { case (r, st) =>
                    st.forall(c => c.bytes.isDefined || r - c.nulls == 0) })
                Some(math.max(1L, byteSums.sum / nonNull))
              else None
            // table-level min/max (the manifest already holds the
            // per-file bounds — fold them): exact only when EVERY
            // value-bearing file recorded both bounds (a file with no
            // stat predates the column: its rows are all-null for it,
            // so it bears no values). Catalyst's FilterEstimation sizes
            // range predicates from these — without them a selective
            // `WHERE x < v` estimates at selectivity 1.0 and join
            // planning never sees the reduction. Strings are skipped:
            // plan-stat min/max is numeric/date/timestamp only. The
            // stored bounds are Catalyst's internal forms (epoch-day /
            // epoch-micros / long / double); Spark's own
            // `toExternalString` renders them in the encoding
            // `toPlanStat` will parse back (ISO strings for
            // date/timestamp, digits for the rest).
            val bearing = sts.collect {
              case (r, Some(st)) if r - st.nulls > 0 => st }
            val bounded = kind != 's' && bearing.nonEmpty &&
              bearing.forall(st => st.min.isDefined && st.max.isDefined)
            def fold(pick: (Any, Any) => Boolean,
                side: ColStat => Option[Any]): Option[String] =
              if (!bounded) None
              else {
                val v = bearing.flatMap(side(_))
                  .reduce((a, b) => if (pick(a, b)) a else b)
                val internal = f.dataType match {
                  case org.apache.spark.sql.types.DateType =>
                    v.asInstanceOf[Long].toInt
                  case dt: org.apache.spark.sql.types.DecimalType =>
                    // re-scale the stored unscaled long exactly
                    org.apache.spark.sql.types.Decimal(
                      java.math.BigDecimal.valueOf(
                        v.asInstanceOf[Long], dt.scale))
                  case _ => v
                }
                Some(CatalogColumnStat.toExternalString(
                  internal, f.name, f.dataType))
              }
            val ord = ManifestCodec.boundOrdering(kind)
            f.name -> CatalogColumnStat(
              distinctCount = m.ndv.get(f.name)
                .map(sk => BigInt(math.round(
                  graft.functions.KmvDistinctAgg.estimate(sk)))),
              min = fold(ord.lt, _.min),
              max = fold(ord.gt, _.max),
              nullCount = Some(BigInt(nulls)),
              avgLen = avgLen)
            }
          }
        }.toMap
        Some(CatalogTable(
          identifier = org.apache.spark.sql.catalyst.TableIdentifier(
            "graft_snapshot_" + math.abs(tableDir.hashCode).toString),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            locationUri = Some(new HPath(tableDir).toUri)),
          schema = sc,
          provider = Some("parquet"),
          stats = Some(CatalogStatistics(
            sizeInBytes = BigInt(es.map(_.status.getLen).sum),
            rowCount = Some(BigInt(nRows)),
            colStats = colStats))))
      }
    }

  /** The stored snapshot schema is always nullable at the top level:
    * under evolution any column may be absent from some epoch's files
    * (added later, or omitted by an append), and the vectorized parquet
    * reader refuses a REQUIRED column that a file lacks. */
  private def storedSchema(sc: StructType): StructType =
    StructType(sc.fields.map(_.copy(nullable = true)))

  /** Field-metadata key carrying a renamed column's PHYSICAL name —
    * the name its values are stored under in every data file and every
    * manifest stat/NDV entry. [[renameColumn]] is metadata-only (the
    * Iceberg/Delta-column-mapping discipline: a 100 TB rename must not
    * rewrite 100 TB): the schema field takes the new LOGICAL name and
    * this key remembers the physical one; scans read the physical
    * column and alias it, writes rename logical → physical before
    * touching parquet, and stats/pruning key on the physical name
    * throughout. Rides the `#schema:` json, so every schema-carrying
    * op (restore, clone, relayout conflict checks, time travel)
    * preserves it for free. */
  private[sources] val PhysKey = "graft.phys"

  /** The on-disk column name of a schema field (its own name unless a
    * rename recorded a physical alias). */
  private def physName(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  /** The schema as the data files store it: renamed fields under their
    * physical names. Invariant: physical names are unique, and no
    * field's logical name equals ANOTHER field's physical name (the
    * rename/append validations enforce both). */
  private def physicalSchema(sc: StructType): StructType =
    StructType(sc.fields.map(f => f.copy(name = physName(f))))

  /** logical → physical for the fields where the two differ. */
  private def renamesOf(sc: StructType): Map[String, String] =
    sc.fields.iterator
      .filter(f => physName(f) != f.name)
      .map(f => f.name -> physName(f)).toMap

  /** Rename a logically-named batch to its physical column names before
    * a data write — identity when the table has no renames. Columns
    * not in `sc` (schema-evolution additions) keep their own name. */
  private def toPhysical(df: DataFrame, sc: StructType): DataFrame = {
    val ren = renamesOf(sc)
    if (ren.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map(c =>
      org.apache.spark.sql.functions.col(c).as(ren.getOrElse(c, c))): _*)
  }

  /** Field-metadata key marking a column DECLARED for per-file Bloom
    * collection ([[setBloomColumns]]). Like [[PhysKey]] it rides the
    * `#schema:` json, so the declaration survives every schema-carrying
    * op and is reset by full rewrites. */
  private[sources] val BloomKey = "graft.bloom"

  /** Field-metadata key on a top-level STRUCT column listing its
    * Bloom-declared LEAF paths (dotted, relative to the column — leaf
    * names never rename, so logical = physical below the top level).
    * The nested twin of [[BloomKey]]; same schema-riding lifecycle. */
  private[sources] val BloomPathsKey = "graft.bloom.paths"

  /** Field-metadata key on a top-level ARRAY column declaring a
    * per-file Bloom over its ELEMENTS (`GRAFT BLOOM '<dir>' (tags)` on
    * an array<string>/array<long-family> column) — the third member of
    * the membership-probe family after struct leaves and map keys:
    * files record element bounds (array_min/array_max) plus a 1 KiB
    * element Bloom, and a pushed `array_contains(col, lit)` probe
    * file-skips on both. Same schema-riding lifecycle as [[BloomKey]]. */
  private[sources] val BloomElemsKey = "graft.bloom.arrayelems"

  /** The stat kind of `dt`'s array ELEMENT when array-element stats
    * are supported for it: long-family integers and strings (their
    * stored stat representation is the identity — no per-element
    * conversion SQL is needed inside the lambda). */
  private def arrayElemKind(dt: DataType): Option[Char] = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) => et match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => Some('l')
      case org.apache.spark.sql.types.StringType => Some('s')
      case _ => None
    }
    case _ => None
  }

  /** Is `f` declared for array-ELEMENT Bloom collection (and still an
    * eligible array type)? */
  private def bloomElemsDeclared(f: StructField): Boolean =
    f.metadata.contains(BloomElemsKey) &&
      f.metadata.getBoolean(BloomElemsKey) &&
      arrayElemKind(f.dataType).isDefined

  /** Array-element stat paths of a schema — ONLY for columns whose
    * element Bloom is declared (`declared` carries `phys[]` keys, the
    * bloomPhysCols threading discipline): keyed `top[]` (can collide
    * only with a top-level name spelling that literally — dropped,
    * the dotted-key ambiguity rule), kind = the element kind, `sql` =
    * the QUOTED array column reference (the aggregation builds its own
    * element expressions from it). */
  private def arrayElemStatPaths(schema: StructType,
      declared: Set[String]): Seq[StatPath] = {
    val topNames = schema.fields.iterator
      .flatMap(f => Iterator(f.name, physName(f))).toSet
    schema.fields.toSeq.flatMap { f =>
      val key = s"${physName(f)}[]"
      if (!declared.contains(key) || topNames.contains(key)) None
      else arrayElemKind(f.dataType).map(k =>
        StatPath(s"${f.name}[]", key, k, q(physName(f)),
          since = Int.MaxValue))
    }
  }

  /** Field-metadata key on a top-level MAP column listing the DECLARED
    * literal keys whose values get per-file zone maps
    * ([[setMapStatKeys]] / `GRAFT STATS KEYS`). Maps are unbounded, so
    * stats are opt-in PER KEY — the Bloom-declaration discipline
    * applied to `attrs['lang'] = 'en'`-shaped predicates. Same
    * schema-riding lifecycle as [[BloomKey]]: survives every
    * schema-carrying op, reset by full rewrites, backfilled by
    * [[analyze]]. Pruning-only: declared keys never appear in
    * [[metaAgg]] (a file without the stat — committed before the
    * declaration — is simply kept, never misread as all-null). */
  private[sources] val MapStatsKey = "graft.mapstats.keys"

  /** `f`'s declared map-key stat paths, filtered to maps whose VALUE
    * type is stat-eligible (string keys only — the predicate shape). */
  private def mapKeyDecls(f: StructField): Seq[String] =
    if (!f.metadata.contains(MapStatsKey)) Nil
    else f.dataType match {
      case org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, v, _)
          if statKind(v).isDefined =>
        f.metadata.getStringArray(MapStatsKey).toSeq
      case _ => Nil
    }

  /** physical top name -> declared map keys, from a MANIFEST schema —
    * what a stats pass over a marker-free BATCH schema must be handed
    * (the bloomPhysCols threading discipline). */
  private def mapStatDecls(sc: StructType): Map[String, Seq[String]] =
    sc.fields.iterator
      .map(f => physName(f) ->
        (mapKeyDecls(f) ++ bloomMapKeyDecls(f)).distinct)
      .filter(_._2.nonEmpty).toMap

  /** Every DECLARED map-key stat path of a schema, keyed
    * `top['key']` (unambiguous vs dotted struct-leaf keys) — from the
    * schema's own markers plus `extra` (manifest-side declarations,
    * keyed by physical name, for batch schemas that don't carry the
    * marker). A path whose key collides with any top-level name is
    * dropped — the same ambiguity rule dotted keys follow. */
  private def mapStatPaths(schema: StructType,
      extra: Map[String, Seq[String]] = Map.empty): Seq[StatPath] = {
    val topNames = schema.fields.iterator
      .flatMap(f => Iterator(f.name, physName(f))).toSet
    schema.fields.toSeq.flatMap { f =>
      val p = physName(f)
      val eligible = f.dataType match {
        case org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType, v, _) =>
          statKind(v).isDefined
        case _ => false
      }
      val decls =
        if (!eligible) Nil
        else (mapKeyDecls(f) ++ extra.getOrElse(p, Nil)).distinct
      if (decls.isEmpty) Nil
      else {
        val vt = f.dataType
          .asInstanceOf[org.apache.spark.sql.types.MapType].valueType
        decls.flatMap { k =>
          val key = s"$p['$k']"
          if (topNames.contains(key)) None
          else statKind(vt).map(kind => StatPath(s"${f.name}['$k']", key,
            kind, statSql(s"${q(p)}['$k']", vt), since = Int.MaxValue))
        }
      }
    }
  }

  /** Declare the map keys that get per-file zone maps — the FULL
    * desired set per map column, `col['key']` items (`Nil` clears
    * every declaration). Metadata-only commit, like
    * [[setBloomColumns]]: files committed BEFORE the declaration
    * carry no stat for the key (kept by the pruner, never misread);
    * [[analyze]] backfills them in one pass. Only `map<string, V>`
    * columns with a stat-eligible V qualify; keys must be non-empty
    * and quote-free (they embed in the collection SQL and the stat
    * key verbatim). */
  def setMapStatKeys(s: SparkSession, tableDir: String,
      decls: Seq[String]): Int = {
    val parsed: Map[String, Seq[String]] = decls.map { d =>
      val m = """^\s*([A-Za-z_][A-Za-z0-9_]*)\['([^'\]]+)'\]\s*$""".r
      d match {
        case m(c, k) => c -> k
        case _ => throw new IllegalArgumentException(
          s"setMapStatKeys: malformed declaration '$d' " +
            "(expected col['key'], key quote-free)")
      }
    }.groupMap(_._1)(_._2).map { case (c, ks) => c -> ks.distinct }
    commitLoop(s, tableDir, "setMapStatKeys", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "setMapStatKeys", tableDir)
      val sc0 = m0.schema
      parsed.foreach { case (c, _) =>
        val f = sc0.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"setMapStatKeys: no column '$c' in " +
              sc0.fieldNames.mkString(",")))
        f.dataType match {
          case org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, v, _) =>
            require(statKind(v).isDefined,
              s"setMapStatKeys: '$c' value type (${v.catalogString}) " +
                "is not stat-eligible")
          case other => throw new IllegalArgumentException(
            s"setMapStatKeys: '$c' (${other.catalogString}) is not a " +
              "map<string, V> column")
        }
      }
      val next = StructType(sc0.fields.map { f =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(MapStatsKey)
        parsed.get(f.name).foreach(ks =>
          mb.putStringArray(MapStatsKey, ks.toArray))
        val nm = mb.build()
        if (nm == f.metadata) f else f.copy(metadata = nm)
      })
      Some(Plan(metadataRebase(m0)(m => Prepared.of(m).copy(schema = next))))
    }.get
  }

  /** Field-metadata key on a top-level MAP column listing its
    * Bloom-declared literal KEYS — the map twin of [[BloomPathsKey]]
    * (`GRAFT BLOOM '<dir>' (attrs['k'])`). A Bloom-declared map key is
    * implicitly stats-enumerated too ([[mapStatDecls]]), so the probe
    * gets zone maps AND the membership filter, exactly like declared
    * struct leaves. Same schema-riding lifecycle. */
  private[sources] val BloomMapKeysKey = "graft.bloom.mapkeys"

  /** `f`'s Bloom-declared map keys, filtered to maps whose value type
    * is hashable (long-family/string). */
  private def bloomMapKeyDecls(f: StructField): Seq[String] =
    if (!f.metadata.contains(BloomMapKeysKey)) Nil
    else f.dataType match {
      case org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, v, _)
          if statKind(v).exists(k => k == 'l' || k == 's') =>
        f.metadata.getStringArray(BloomMapKeysKey).toSeq
      case _ => Nil
    }

  /** Is `f` declared for Bloom collection (and of a hashable kind)? */
  private def bloomDeclared(f: StructField): Boolean =
    f.metadata.contains(BloomKey) && f.metadata.getBoolean(BloomKey) &&
      statKind(f.dataType).exists(k => k == 'l' || k == 's')

  /** The data type at a dotted leaf path under `dt`, if it resolves
    * through struct fields all the way down. */
  private def leafType(dt: DataType, path: Seq[String]): Option[DataType] =
    path match {
      case Seq() => Some(dt)
      case head +: rest => dt match {
        case st: StructType =>
          st.fields.find(_.name == head)
            .flatMap(f => leafType(f.dataType, rest))
        case _ => None
      }
    }

  /** `f`'s declared nested Bloom leaf paths (relative), filtered to
    * the ones still resolving to a hashable kind. */
  private def bloomLeafPaths(f: StructField): Seq[String] =
    if (!f.metadata.contains(BloomPathsKey)) Nil
    else f.metadata.getStringArray(BloomPathsKey).toSeq.filter(p =>
      leafType(f.dataType, p.split('.').toSeq)
        .flatMap(statKind).exists(k => k == 'l' || k == 's'))

  /** The PHYSICAL stat keys of a schema's Bloom-declared columns —
    * top-level names plus dotted struct-leaf paths — what a stats pass
    * over written files keys on. */
  private def bloomPhysCols(sc: StructType): Set[String] =
    sc.fields.iterator.flatMap { f =>
      (if (bloomDeclared(f)) Seq(physName(f)) else Nil) ++
        (if (bloomElemsDeclared(f)) Seq(s"${physName(f)}[]") else Nil) ++
        bloomLeafPaths(f).map(p => s"${physName(f)}.$p") ++
        bloomMapKeyDecls(f).map(k => s"${physName(f)}['$k']")
    }.toSet

  /** Drop this format's schema markers — physical-name indirections
    * AND Bloom declarations — for schemas entering a FULL rewrite
    * (overwrite, relayout, full merge): every pre-rename file is
    * rewritten away under the logical names, so the indirection ends
    * (exactly as dropped-name reservations reset on overwrite). Also
    * the defense against STALE markers riding a foreign table's read
    * into a fresh commit's schema — a BloomKey carried through a read
    * would otherwise enable per-file Bloom collection on a table whose
    * owner never declared it, exactly the hazard PhysKey guards. Ops
    * that must PRESERVE a declaration across a same-table rewrite take
    * it from their own manifest ([[carryBloomDecls]]), never from a
    * read's schema. */
  private def stripPhys(sc: StructType): StructType =
    StructType(sc.fields.map { f =>
      if (!f.metadata.contains(PhysKey) && !f.metadata.contains(BloomKey) &&
          !f.metadata.contains(BloomPathsKey) &&
          !f.metadata.contains(MapStatsKey) &&
          !f.metadata.contains(BloomMapKeysKey) &&
          !f.metadata.contains(BloomElemsKey)) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysKey).remove(BloomKey)
          .remove(BloomPathsKey).remove(MapStatsKey)
          .remove(BloomMapKeysKey).remove(BloomElemsKey).build())
    })

  /** Re-apply `src`'s Bloom declarations onto `sc` by LOGICAL name —
    * the carry for same-table FULL rewrites (whose published schema is
    * marker-stripped because files land under logical names): a
    * declaration is table metadata the rewrite must not silently drop,
    * and taking it from the MANIFEST schema (never the read's) keeps
    * the foreign-marker defense intact. Declarations on columns the
    * rewrite dropped, or whose widened type left the hashable kinds,
    * do not carry. */
  private def carryBloomDecls(sc: StructType,
      src: Option[StructType]): StructType = {
    val want = src.map(_.fields.iterator.filter(bloomDeclared)
      .map(_.name).toSet).getOrElse(Set.empty)
    val wantPaths = src.map(_.fields.iterator
      .map(f => f.name -> bloomLeafPaths(f)).filter(_._2.nonEmpty).toMap)
      .getOrElse(Map.empty[String, Seq[String]])
    // map-key stat declarations carry on the same terms (a rewrite
    // must not silently drop them); re-validated against the possibly
    // evolved map type by the same mapKeyDecls gate collection uses
    val wantMapKeys = src.map(_.fields.iterator
      .map(f => f.name -> mapKeyDecls(f)).filter(_._2.nonEmpty).toMap)
      .getOrElse(Map.empty[String, Seq[String]])
    val wantBloomMapKeys = src.map(_.fields.iterator
      .map(f => f.name -> bloomMapKeyDecls(f)).filter(_._2.nonEmpty).toMap)
      .getOrElse(Map.empty[String, Seq[String]])
    val wantElems = src.map(_.fields.iterator.filter(bloomElemsDeclared)
      .map(_.name).toSet).getOrElse(Set.empty)
    if (want.isEmpty && wantPaths.isEmpty && wantMapKeys.isEmpty &&
      wantBloomMapKeys.isEmpty && wantElems.isEmpty) sc
    else StructType(sc.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      val top = want.contains(f.name) &&
        statKind(f.dataType).exists(k => k == 'l' || k == 's')
      // nested declarations carry only the paths still resolving to a
      // hashable leaf under the (possibly evolved) struct type
      val paths = wantPaths.getOrElse(f.name, Nil).filter(p =>
        leafType(f.dataType, p.split('.').toSeq)
          .flatMap(statKind).exists(k => k == 'l' || k == 's'))
      val mapKeys = wantMapKeys.getOrElse(f.name, Nil).filter(_ =>
        f.dataType match {
          case org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, v, _) =>
            statKind(v).isDefined
          case _ => false
        })
      val bloomMapKeys = wantBloomMapKeys.getOrElse(f.name, Nil).filter(_ =>
        f.dataType match {
          case org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, v, _) =>
            statKind(v).exists(k => k == 'l' || k == 's')
          case _ => false
        })
      val elems = wantElems.contains(f.name) &&
        arrayElemKind(f.dataType).isDefined
      if (!top && !elems && paths.isEmpty && mapKeys.isEmpty &&
        bloomMapKeys.isEmpty) f
      else {
        if (top) mb.putBoolean(BloomKey, true)
        if (elems) mb.putBoolean(BloomElemsKey, true)
        if (paths.nonEmpty) mb.putStringArray(BloomPathsKey, paths.toArray)
        if (mapKeys.nonEmpty) mb.putStringArray(MapStatsKey, mapKeys.toArray)
        if (bloomMapKeys.nonEmpty)
          mb.putStringArray(BloomMapKeysKey, bloomMapKeys.toArray)
        f.copy(metadata = mb.build())
      }
    })
  }

  /** Deletion-vector file schema: the parquet reader's positional row
    * identity — the scanned file's `_metadata.file_path` and the row's
    * `_metadata.row_index` within it. */
  private val delSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("__path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__pos",
      org.apache.spark.sql.types.LongType)))

  /** The deletion vectors of a snapshot as a (manifest-planned)
    * relation — empty when the snapshot has none. */
  private def delFrame(s: SparkSession, tableDir: String,
      m: Manifest): DataFrame =
    relationFor(s, tableDir, delSchema, m.dels)

  /** THE file-set reader: the rows of entries `es` of manifest `m`,
    * under schema `sc`. No entries: the empty frame of `sc`. Otherwise
    * one manifest-planned relation per partition-scheme era
    * ([[repartitionBy]] — each era's files read under THEIR layout:
    * new-era files prune by directory, old-era files by the zone maps
    * they carry for the same columns), unioned by name.
    *
    * `withDels` subtracts `m`'s deletion vectors per leg (hidden
    * `_metadata` does not cross a Union): one anti-join on the
    * reader's (file, row-position) identity. The vector side holds
    * only the MATCHED positions of past deletes — for the selective
    * deletes merge-on-read exists for it is broadcast-sized, so the
    * subtraction costs a hash probe per scanned row and never
    * re-shuffles the table (Catalyst sizes the join from the vector
    * files' true byte size, so a pathologically large vector set falls
    * back to a shuffled anti-join instead of OOMing the driver).
    * `positions` keeps that identity as leading `__path`/`__pos`
    * columns. `bucket` and `withStats` (the manifest's catalog
    * statistics) are for whole-snapshot reads only: a subset would
    * oversell the table-cumulative NDV. */
  private def filesFrame(s: SparkSession, tableDir: String, m: Manifest,
      es: Seq[FileEntry], sc: StructType,
      bucket: Option[(Int, String)] = None, withStats: Boolean = false,
      withDels: Boolean = true, positions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (es.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
    else m.eraLegs(es).map { case (scheme, ees) =>
      val rel = relationFor(s, tableDir, sc, ees, bucket,
        withStats = if (withStats) Some(m) else None, partBy = scheme)
      val subtract = withDels && m.dels.nonEmpty
      if (!subtract && !positions) rel
      else {
        val withPos = rel.select(col("_metadata.file_path").as("__path"),
          col("_metadata.row_index").as("__pos"), col("*"))
        val live =
          if (subtract) withPos.join(delFrame(s, tableDir, m),
            Seq("__path", "__pos"), "left_anti")
          else withPos
        if (positions) live
        else live.select(rel.columns.toIndexedSeq.map(col): _*)
      }
    }.reduce(_.unionByName(_))
  }

  /** THE affected-file probe: the entries of `es` whose file appears
    * in `files` (a one-column frame of file paths — `input_file_name()`
    * of a probe, or a vector file's `__path`) — one distinct job, the
    * paths collected to the driver. */
  private def affectedFiles(files: DataFrame,
      es: Seq[FileEntry]): Seq[FileEntry] = {
    val hit = files.distinct().collect()
      .map(r => new HPath(r.getString(0)).toUri.getPath).toSet
    es.filter(e => hit.contains(e.status.getPath.toUri.getPath))
  }

  /** MERGE-ON-READ delete: mark every current row satisfying
    * `predicate` deleted by writing its (file, row-position) pair into
    * a deletion-vector parquet and publishing a METADATA-ONLY commit —
    * no data file is rewritten, so a 0.1% delete over a 100 TB table
    * costs the matched positions, not a rewrite. Reads subtract the
    * vectors ([[filesFrame]]); [[absorbDeletes]] rewrites only the
    * files that carry them when the read-side tax should be retired.
    *
    * Serializable like [[merge]]: positions are computed against the
    * latest snapshot (with PRIOR vectors applied — a dead row can
    * never be re-deleted, keeping [[rowCount]] exact under metadata
    * arithmetic), and the publish aborts + re-plans if ANY commit
    * landed in between. Returns the new version, or None when no row
    * matched (no commit published). */
  def deleteWhere(s: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column): Option[Int] = {
    import org.apache.spark.sql.functions._
    val f = fs(s, tableDir)
    commitLoop(s, tableDir, "deleteWhere", replan = true,
        kind = Some("delete")) { (_, pm) =>
      val m0 = requirePublished(pm, "deleteWhere", tableDir)
      val (sc0, es0) = (m0.schema, m0.entries)
      // an empty snapshot (flat or hive) has nothing to delete
      if (es0.isEmpty) None
      else {
        // layout- AND era-agnostic: deletion vectors key on (file,
        // position), so merge-on-read deletes work unchanged on
        // hive-partitioned tables (the GDPR-delete-on-an-event-feed
        // case) and across partition-scheme ERAS ([[repartitionBy]]);
        // no data file is touched, so every layout survives by
        // construction
        val matched = filesFrame(s, tableDir, m0, es0, storedSchema(sc0),
            m0.bucket, positions = true)
          .filter(predicate).select(col("__path"), col("__pos"))
        // nothing matched: nothing to publish
        writeDelDir(s, tableDir, matched).map { case (delDir, vectors) =>
          beforePublishHook()
          val m0paths = m0.paths.toSet
          val scStored = storedSchema(sc0)
          Plan(_.flatMap { m =>
            // The positions were computed against m0's file + vector
            // state. They stay valid — and the publish REBASES instead
            // of re-planning — as long as every file they point into
            // is still live; a rewrite that dropped any m0 file
            // (merge/compact/overwrite) invalidates positions into it.
            // A concurrent vector DELETE composes as a union with no
            // extra work (a position deleted twice anti-joins
            // identically).
            if (!m0paths.subsetOf(m.paths.toSet)) None
            else {
              // STRICT serializability across concurrent commits that
              // ADDED files: their rows may match the predicate, and
              // the delete — serialized after them — must cover those
              // rows, so any match forces the full re-plan. The probe
              // reads ONLY the added files (zone-map pruned); a
              // non-matching append then composes retry-free
              // (identical final state in either serial order).
              val added = m.entries.filterNot(e => m0paths.contains(e.path))
              val addedOk = added.isEmpty ||
                (storedSchema(m.schema) == scStored &&
                  m.partBy == m0.partBy &&
                  m.partEras == m0.partEras &&
                  filesFrame(s, tableDir, m, added, scStored, m.bucket,
                    withDels = false).filter(predicate).isEmpty)
              if (!addedOk) None
              // rows removed: a bottom-k sketch cannot subtract — NDV
              // unknown until a full rewrite recollects
              else Some(Prepared.of(m).copy(dels = m.dels ++ vectors,
                ndv = Map.empty))
            }
          }, () => f.delete(delDir, true))
        }
      }
    }
  }

  /** UPDATE ... SET ... WHERE as ONE serializable commit — the third
    * row-changing verb next to [[merge]] and [[deleteWhere]]: every
    * current row satisfying `predicate` takes the `sets` assignments
    * (each cast back to its column's existing type — an UPDATE never
    * evolves the schema), rows where the predicate is FALSE or NULL
    * are untouched (SQL UPDATE semantics).
    *
    * Rewrite cost is SELECTIVE, twice over: the candidate probe is a
    * column-pruned scan whose pushed-down predicate the manifest zone
    * maps (and declared Blooms) file-skip at plan time, and only files
    * that actually HOLD a matching row are rewritten (their survivors
    * carried through the same new files); every untouched file rides
    * the manifest by reference — a point UPDATE on a clustered 100 TB
    * table rewrites a handful of files. Hive-partitioned tables
    * compose (rewritten rows re-land under their directories; an
    * update that CHANGES a partition value migrates the row), and so
    * do partition-scheme ERAS ([[repartitionBy]]): each era's files
    * probe and read under their own layout, and every rewritten file
    * re-lands under the CURRENT scheme — DML incrementally migrates
    * an evolved table instead of refusing on it; updated
    * rows re-validate every CHECK constraint; NDV sketches of the SET
    * columns drop to unknown (values changed), all others carry.
    *
    * Serializable like [[deleteWhere]]: re-plans when ANY commit lands
    * mid-update. Returns the new version; None when no row matched
    * (nothing published). Refused on bucketed layouts (a rewrite would
    * shear the bucket-id file naming — relayout first) and under
    * outstanding deletion vectors (the rewrite would resurrect deleted
    * rows in affected files — absorbDeletes first). */
  def updateWhere(s: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column]): Option[Int] = {
    import org.apache.spark.sql.functions._
    require(sets.nonEmpty, "updateWhere: no SET assignments")
    def plan(m0: Manifest): Option[Plan] = {
      val es0 = m0.entries
      val sc0 = storedSchema(m0.schema)
      sets.keys.foreach { c =>
        require(sc0.fieldNames.contains(c),
          s"updateWhere: no column '$c' in ${sc0.fieldNames.mkString(",")}")
      }
      require(m0.bucket.isEmpty,
        s"updateWhere: $tableDir is bucketed — a row-level rewrite would " +
          "shear the bucket-id file layout; relayout() to re-key first")
      require(m0.dels.isEmpty,
        s"updateWhere: $tableDir has outstanding deletion vectors — the " +
          "file rewrite would resurrect deleted rows; absorbDeletes first")
      if (es0.isEmpty) return None
      // candidate probe: pushed-down predicate + input_file_name; each
      // era's files probe under THEIR layout ([[filesFrame]]: directory
      // pruning on its hive columns, zone maps / Blooms on what it
      // stores as data), so the probe file-skips at plan time in every
      // era
      val affected = affectedFiles(filesFrame(s, tableDir, m0, es0, sc0)
        .filter(predicate).select(input_file_name()), es0)
      if (affected.isEmpty) return None
      // each affected file reads under ITS era's layout; the rewrite
      // re-lands below under the CURRENT scheme, so row-level DML
      // incrementally MIGRATES an evolved table toward its current
      // layout (the Iceberg partition-evolution behavior) — only
      // key-bearing files in each era move, untouched files ride the
      // manifest by reference under their recorded era
      val base = filesFrame(s, tableDir, m0, affected, sc0)
      // SQL UPDATE: provably-TRUE rows take the assignment, FALSE and
      // NULL keep their row; each assignment casts back to the
      // column's recorded type — no silent evolution through DML
      val upd = base.select(sc0.fields.toIndexedSeq.map { fl =>
        sets.get(fl.name) match {
          case Some(e) =>
            when(coalesce(predicate, lit(false)), e.cast(fl.dataType))
              .otherwise(col(fl.name)).as(fl.name)
          case None => col(fl.name)
        }
      }: _*)
      enforceConstraints(upd, m0.constraints)
      val written = writeDataDir(s, tableDir, upd, sc0,
        partitionBy = m0.partBy)
      val affectedEntryPaths = affected.map(_.path).toSet
      beforePublishHook()
      val setPhys = sc0.fields.filter(fl => sets.contains(fl.name))
        .map(physName).toSet
      val m0pathsAll = m0.paths.toSet
      Some(Plan(_.flatMap { m =>
        // STRICT serializability at FILE granularity: an identical
        // manifest publishes directly; a manifest a CONCURRENT
        // commit advanced still publishes — REBASED, the expensive
        // rewrite reused — when the update is equivalent to running
        // AFTER that commit: (a) every file this update rewrites is
        // still live (the other commit read/removed none of them —
        // and since the probe put every matching file in
        // affectedPaths, any file the other commit rewrote held no
        // matches); (b) no new deletion vectors (the rewrite would
        // resurrect their rows), no constraint/schema/layout change
        // (the rewrite was validated and physically named against
        // m0's); (c) files the other commit ADDED hold NO row
        // matching the predicate — probed here over ONLY those
        // files (zone-map pruned), because an update serialized
        // after an append must cover its matching rows (any match →
        // full re-plan, the same strict rule the delete path pins).
        // Two UPDATEs on disjoint hive partitions therefore BOTH
        // commit with zero rewrite retries.
        val exact = m.entries == m0.entries && m.dels == m0.dels &&
          m.constraints == m0.constraints
        lazy val structuralOk =
          m.dels == m0.dels && m.constraints == m0.constraints &&
            m.schema == m0.schema && m.bucket.isEmpty &&
            m.partBy == m0.partBy && m.partEras == m0.partEras &&
            affectedEntryPaths.subsetOf(m.paths.toSet)
        lazy val addedClean = {
          val added = m.entries.filterNot(e => m0pathsAll.contains(e.path))
          added.isEmpty ||
            filesFrame(s, tableDir, m, added, sc0).filter(predicate).isEmpty
        }
        if (!exact && !(structuralOk && addedClean)) None
        // keep every CURRENT file except the ones this update rewrites
        // (covers both the exact and rebased cases)
        else Some(Prepared.swap(m, affectedEntryPaths, written.entries)
          .copy(dels = Seq.empty,
            // SET columns' values changed (no sketch subtraction);
            // every other column's row SET is preserved — carry
            ndv = m.ndv -- setPhys))
      }, written.discard))
    }
    commitLoop(s, tableDir, "updateWhere", replan = true,
        kind = Some("update")) { (_, pm) =>
      plan(requirePublished(pm, "updateWhere", tableDir))
    }
  }

  /** Write the matched delete positions as a `data/del-*` parquet
    * (staged + renamed, race-free like every data write) and return
    * its manifest entries; None — and no directory left behind —
    * when nothing matched. Positions are range-clustered and sorted by
    * (file, position) so the vector files RLE-compress the path column
    * and probe in file order. */
  private def writeDelDir(s: SparkSession, tableDir: String,
      matched: DataFrame): Option[(HPath, Seq[FileEntry])] = {
    import org.apache.spark.sql.functions._
    val f = fs(s, tableDir)
    val uniq = java.util.UUID.randomUUID.toString.take(8)
    val staging = new HPath(tableDir, s".staging-$uniq")
    val delDir = new HPath(tableDir, s"data/del-$uniq")
    // rows per vector file from the count-only stats fold inside the
    // write job: no read-back of what was just written
    val counter = new StatsFoldJobTracker(new StatsFold(Array.empty), Nil, 0)
    org.apache.spark.sql.graft.GraftSqlShims.writeParquet(matched
        .repartitionByRange(4, col("__path"), col("__pos"))
        .sortWithinPartitions(col("__path"), col("__pos")),
      staging.toString, Nil, Some(counter))
    f.mkdirs(delDir.getParent)
    require(f.rename(staging, delDir),
      s"deletion-vector rename failed $staging -> $delDir")
    val counts = counter.fold.result(counter.files.toMap)._1
    val statuses = f.listStatus(delDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val entries = statuses.flatMap { st =>
      counts.get(st.getPath.getName) match {
        case Some((n, _)) => Some(FileEntry(st, Some(n), Map.empty))
        case None => f.delete(st.getPath, false); None // zero-row part
      }
    }
    if (entries.isEmpty) { f.delete(delDir, true); None }
    else Some((delDir, entries.sortBy(_.path)))
  }

  /** Retire a table's deletion vectors: rewrite ONLY the data files
    * they touch (with the vectors applied), carry every untouched file
    * through by reference, and publish a vector-free snapshot — the
    * deferred half of merge-on-read, run when the read-side anti-join
    * tax outweighs the rewrite (the Delta `REORG ... APPLY (PURGE)`
    * shape). [[vacuum]] later reclaims the superseded files and the
    * vectors themselves. Optimistic like [[compact]]: any concurrent
    * commit aborts the publish (output deleted, caller may re-run).
    * Rewriting a subset of a BUCKETED table drops the recorded bucket
    * layout (the rewritten files carry no bucket ids — readers stay
    * correct, they lose the free partitioning). Returns the new
    * version; None when there is nothing to absorb or on conflict. */
  def absorbDeletes(s: SparkSession, tableDir: String): Option[Int] = {
    def plan(m0: Manifest): Option[Plan] = {
      if (m0.dels.isEmpty) return None
      val (sc0, es0) = (storedSchema(m0.schema), m0.entries)
      // affected files come from the vectors themselves — vector-sized
      // driver work, never table-sized
      val affected =
        affectedFiles(delFrame(s, tableDir, m0).select("__path"), es0)
      // the rewrite keeps the table's layout: a partitioned table's
      // affected files re-land under their hive directories (the new
      // entries carry fresh partition values). Era-aware like the other
      // row-level rewrites: each affected file reads under ITS era's
      // layout (vectors subtracted) and re-lands under the CURRENT
      // scheme — absorbing deletes incrementally migrates an evolved
      // table too.
      val written = writeDataDir(s, tableDir,
        filesFrame(s, tableDir, m0, affected, sc0), sc0,
        partitionBy = m0.partBy)
      beforePublishHook()
      Some(Plan(_.flatMap { m =>
        if (m.entries != m0.entries || m.dels != m0.dels) None // conflict
        else Some(Prepared.swap(m, affected.map(_.path).toSet,
          written.entries).copy(
          bucket = if (affected.isEmpty) m.bucket else None,
          dels = Seq.empty))
      }, written.discard))
    }
    commitLoop(s, tableDir, "absorbDeletes", replan = false,
      kind = Some("compact")) { (_, pm) => pm.flatMap(plan) }
  }

  /** Filesystem schemes whose `rename` is atomic no-overwrite (fails,
    * rather than clobbers, when the destination exists): local POSIX
    * link(2) and the HDFS namenode family. Object stores (s3a, gs,
    * abfs, oss, wasb) implement rename as copy/check-then-act — two
    * racing writers of the same version can BOTH observe success and
    * one commit is silently lost, so the commit point refuses them
    * outright instead of silently weakening the guarantee. */
  private[sources] val AtomicRenameSchemes = Set("file", "hdfs", "viewfs")

  /** Fail fast when `scheme` cannot provide an atomic no-overwrite
    * rename — the primitive every snapshot-table commit point relies
    * on. Exposed for the spec; called on the remote branch of
    * [[publish]]. */
  private[sources] def requireAtomicRenameScheme(scheme: String): Unit =
    require(AtomicRenameSchemes.contains(scheme),
      s"snapshot-table commits need an atomic no-overwrite rename, which " +
        s"scheme '$scheme' does not provide (object-store rename is " +
        "check-then-act: two racing writers could both claim the same " +
        "version). Supported schemes: " +
        AtomicRenameSchemes.toSeq.sorted.mkString(", ") +
        ". Front object stores with an HDFS/metadata layer to use this table.")

  /** Atomic publish of a fully-written temp manifest under the final
    * version name. Local FS: hard-link (POSIX link(2) — atomic, fails
    * if the name exists, content complete at link time). Remote FS
    * (HDFS): no-overwrite rename, atomic at the namenode. Any scheme
    * outside [[AtomicRenameSchemes]] is refused — see
    * [[requireAtomicRenameScheme]]. Returns false when another writer
    * owns the name; the temp file is consumed either way. */
  private def publish(f: FileSystem, tmp: HPath, dst: HPath): Boolean =
    if ("file" == Option(dst.toUri.getScheme).getOrElse(f.getScheme)) {
      import java.nio.file.{Files, Paths, FileAlreadyExistsException}
      val lp = Paths.get(f.makeQualified(tmp).toUri.getPath)
      val dp = Paths.get(f.makeQualified(dst).toUri.getPath)
      try { Files.createLink(dp, lp); f.delete(tmp, false); true }
      catch { case _: FileAlreadyExistsException =>
        f.delete(tmp, false); false }
    } else {
      requireAtomicRenameScheme(Option(dst.toUri.getScheme).getOrElse(f.getScheme))
      val ok = f.rename(tmp, dst)
      if (!ok) f.delete(tmp, false)
      ok
    }

  /** The stat INPUT columns of the per-file [[StatsFold]] for `paths`,
    * laid out from ordinal `base` of the row the fold reads: per scalar
    * path its stored-form value, the KMV value hash (md5 of a canonical
    * rendering; nulls skip) and, for a declared Bloom, the packed
    * xxhash64; per declared ARRAY path the element bounds, the
    * null-array flag and the packed element hashes. Only the
    * order-insensitive fold runs outside Spark; every value the stats
    * record is computed by these Spark expressions. */
  private def statInputs(paths: Seq[StatPath], bloomCols: Set[String],
      base: Int): (Seq[org.apache.spark.sql.Column], Seq[FoldSlot]) = {
    import org.apache.spark.sql.functions._
    import graft.functions.{BloomBits, KmvDistinctAgg}
    val exprs = Seq.newBuilder[org.apache.spark.sql.Column]
    var at = base
    def add(c: org.apache.spark.sql.Column): Unit = {
      exprs += c.as(s"__graft_stat_$at"); at += 1
    }
    val slots = paths.map { sp =>
      val first = at
      if (sp.key.endsWith("[]")) {
        // element bounds (null and empty arrays contribute none), null
        // count = null-ARRAY rows (a null array never satisfies
        // array_contains), and one xxhash64 per non-null element,
        // packed like the scalar Bloom so the read-side probe replays it
        val ref = sp.sql
        val elemHash =
          if (sp.kind == 's') "xxhash64(x)" else "xxhash64(CAST(x AS BIGINT))"
        add(expr(s"array_min($ref)"))
        add(expr(s"array_max($ref)"))
        add(expr(ref).isNull)
        add(expr(s"transform(filter($ref, x -> x IS NOT NULL), " +
          s"x -> $elemHash & ${BloomBits.Mask52}L)"))
        FoldSlot(sp.key, sp.kind, isArray = true, first, hasBloom = true,
          org.apache.spark.sql.types.NullType)
      } else {
        val (n, k, sql) = (sp.key, sp.kind, sp.sql)
        // canonical rendering for the NDV hash: float-family values are
        // normalized with +0.0 first so -0.0 and 0.0 (SQL-equal, counted
        // once by count(DISTINCT)) hash identically; date/timestamp
        // render through their stored long form, independent of the
        // session zone
        val canon =
          if (k == 'd') s"CAST(($sql + CAST(0.0 AS DOUBLE)) AS STRING)"
          else s"CAST($sql AS STRING)"
        add(expr(sql))
        add(when(expr(sql).isNull, lit(KmvDistinctAgg.Skip))
          .otherwise(expr(s"CAST(conv(substring(md5($canon), 1, 15), 16, 10) AS BIGINT)")))
        // declared-column Bloom: ONE xxhash64 per row, whose low 52 bits
        // carry all four 13-bit positions; long kinds hash the stored
        // long form so the read-side probe (XxHash64 of the literal's
        // long) matches, strings hash their UTF-8 bytes
        val bloom = bloomCols.contains(n) && (k == 'l' || k == 's')
        if (bloom) {
          val hashSql =
            if (k == 's') s"xxhash64($sql)" else s"xxhash64(CAST(($sql) AS BIGINT))"
          add(when(expr(sql).isNull, lit(BloomBits.Skip))
            .otherwise(expr(s"$hashSql & ${BloomBits.Mask52}L")))
        }
        FoldSlot(n, k, isArray = false, first, hasBloom = bloom,
          org.apache.spark.sql.types.NullType)
      }
    }
    (exprs.result(), slots)
  }

  /** The per-file stats fold over `df`: the frame evaluating `prefix`
    * then the stat inputs of `paths`, and the [[StatsFold]] reading it
    * (slot value types resolved from that frame's schema). */
  private def statsFold(df: DataFrame, paths: Seq[StatPath],
      bloomCols: Set[String], prefix: Seq[org.apache.spark.sql.Column] = Nil)
      : (DataFrame, StatsFold) = {
    val (inputs, slots) = statInputs(paths, bloomCols, prefix.size)
    val probe = df.select(prefix ++ inputs: _*)
    (probe, new StatsFold(slots.map(sl =>
      sl.copy(valueType = probe.schema(sl.first).dataType)).toArray))
  }

  /** What a data write produced: the manifest entries (path, size,
    * rows, zone maps) of its files, the batch's NDV sketches, and the
    * `discard` that deletes them once the plan is abandoned. */
  private final case class Written(entries: Seq[FileEntry],
      ndv: Map[String, Seq[Long]], discard: () => Unit)

  /** THE data writer: write the logically-named `rows`, published under
    * the table schema `sc`, into a fresh, race-free uniquely-named data
    * directory (staged + renamed). From `sc` it derives the physical
    * column names the files store ([[toPhysical]]) and the declared
    * Bloom and map-key stats the fold collects ([[bloomPhysCols]],
    * [[mapStatDecls]]) — so every rewrite keeps the table's stats
    * declarations. With `bucket` set, the batch is hash-clustered into `n`
    * buckets first (`repartition(n, col)` — partition index i IS
    * Spark's bucket id: both are `pmod(murmur3(key), n)`), sorted
    * within each bucket, and each output file is renamed to carry its
    * bucket id in Spark's `_%05d` bucket-file convention so the scan
    * can group by bucket. `preShaped`: the caller already laid the rows
    * out (a per-partition Z-order rewrite range-partitions by
    * (partition cols, z)) — skip the hive-writer clustering
    * repartition that would destroy it.
    *
    * The per-file stats come from ONE fold inside the write job, for
    * every layout: a [[StatsFoldJobTracker]] rides the writer (Spark's
    * per-file `WriteTaskStatsTracker` hook, keyed by the real file
    * path, so hive directories and `maxRecordsPerFile` splits need no
    * matching), evaluates the stat inputs ([[statInputs]]) on each
    * written row and folds them per file. No job starts after the write
    * job: the stats need no read-back of the batch. */
  private def writeDataDir(s: SparkSession, tableDir: String, rows: DataFrame,
      sc: StructType, bucket: Option[(Int, String)] = None,
      partitionBy: Seq[String] = Nil,
      partSpread: Int = 1,
      preShaped: Boolean = false): Written = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, raise_error, when}
    val f = fs(s, tableDir)
    val df0 = toPhysical(rows, sc)
    val bloomCols = bloomPhysCols(sc)
    val uniq = java.util.UUID.randomUUID.toString.take(8)
    val staging = new HPath(tableDir, s".staging-$uniq")
    val dataDir = new HPath(tableDir, s"data/c-$uniq")
    // the hive writer files an EMPTY STRING under the null-partition
    // directory (the hive convention), which would read back as
    // NULL — refuse IN the write pass (zero extra jobs) rather than
    // silently corrupt the value. SKIPPED for pre-shaped rewrites:
    // their rows come from the table itself (whose commits already
    // enforced this), and the projection would alias the partition
    // column, erasing the caller's output ordering so the writer
    // re-sorts — and a spilling re-sort could scramble z-order
    // within equal partition keys
    def emptyStringGuarded: DataFrame =
      if (preShaped) df0
      else partitionBy.foldLeft(df0) { (d, c) =>
        if (d.schema(c).dataType == org.apache.spark.sql.types.StringType)
          d.withColumn(c, when(col(c) === lit(""), raise_error(lit(
            s"commitPartitioned: empty-string value in partition " +
              s"column '$c' — the hive directory form cannot represent " +
              "it (it would read back as NULL); use NULL or a sentinel")))
            .otherwise(col(c)))
        else d
      }
    val df = (bucket, partitionBy) match {
      // bucketed INSIDE hive partitions: ONE hash shuffle on the bucket
      // column — task index i IS the bucket id (both are
      // pmod(murmur3(key), n)), and each task emits at most one file
      // per partition directory it owns, every row of it bucket-i.
      // Pre-sorted by (partition cols, bucket col) so the hive writer
      // groups directories without its own spilling sort.
      case (Some((n, c)), cols) if cols.nonEmpty =>
        emptyStringGuarded.repartition(n, col(c))
          .sortWithinPartitions((cols :+ c).map(col): _*)
      case (Some((n, c)), _) =>
        df0.repartition(n, col(c)).sortWithinPartitions(col(c))
      case (None, cols) if cols.nonEmpty =>
        // cluster each partition tuple into one task first: the hive
        // writer otherwise emits one file per (task × tuple) — a
        // file-count explosion at scale. One task per tuple serializes
        // a SKEWED value's write, so partSpread = N > 1 (data commits
        // only — compaction always packs at spread 1) SALTS each tuple
        // across UP TO N tasks (AQE may coalesce a small batch back —
        // the cap matters on big ones): per-value parallelism scales to ~N
        // while total parallelism stays values × N (never capped at N
        // for the whole batch), at the cost of ≤ N files per value.
        // File-size capping composes via Spark's own
        // spark.sql.files.maxRecordsPerFile.
        if (preShaped) emptyStringGuarded
        else {
          val keys = cols.map(col) ++ (if (partSpread > 1)
            Seq(pmod(hash(df0.columns.toIndexedSeq.map(col): _*),
              lit(partSpread)))
          else Nil)
          emptyStringGuarded.repartition(keys: _*)
        }
      case _ => df0
    }
    val statPaths = statCols(df.schema) ++
      mapStatPaths(df.schema, mapStatDecls(sc)) ++
      arrayElemStatPaths(df.schema, bloomCols)
    val fold = if (statPaths.isEmpty) None
      else Some(statsFold(df, statPaths, bloomCols))
    val tracker = fold.map { case (probe, fd) =>
      import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences}
      // the stat inputs as analyzed over `df`, runtime-replaceable
      // functions lowered, bound to the row the writer hands over
      val layout = org.apache.spark.sql.graft.GraftSqlShims.writerRowLayout(df, partitionBy)
      val inputs = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
        probe.queryExecution.analyzed) match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          BindReferences.bindReferences(p.projectList, new AttributeSeq(layout))
        case other => throw new IllegalStateException(
          s"stats fold: unexpected stat input plan ${other.nodeName}")
      }
      new StatsFoldJobTracker(fd, inputs, partitionBy.size)
    }
    org.apache.spark.sql.graft.GraftSqlShims.writeParquet(df, staging.toString,
      partitionBy, tracker)
    f.mkdirs(dataDir.getParent)
    require(f.rename(staging, dataDir),
      s"snapshot commit: data rename failed $staging -> $dataDir")
    if (bucket.isDefined) {
      // task index == bucket id (hash-repartitioned write); stamp it
      // into the name where BucketingUtils.getBucketId finds it. With a
      // hive layout the part files live one directory level per
      // partition column down — walk them all; renames stay in place
      // (same parent directory), so partition values are untouched.
      val partRe = """part-(\d+)-.*""".r
      def parquetFiles(dir: HPath): Seq[FileStatus] =
        f.listStatus(dir).toSeq.flatMap { st =>
          if (st.isDirectory) parquetFiles(st.getPath)
          else if (st.isFile && st.getPath.getName.endsWith(".parquet"))
            Seq(st)
          else Nil
        }
      parquetFiles(dataDir).foreach { st =>
        val name = st.getPath.getName
        val bid = name match {
          case partRe(idx) => idx.toInt
          case _ => throw new IllegalStateException(
            s"bucketed commit: unrecognized part file name $name")
        }
        val dot = name.indexOf('.')
        val renamed = name.substring(0, dot) + f"_$bid%05d" + name.substring(dot)
        require(f.rename(st.getPath, new HPath(st.getPath.getParent, renamed)),
          s"bucketed commit: rename failed for $name")
        tracker.foreach { t =>
          val key = StatsFold.relKey(st.getPath.toString, partitionBy.size + 1)
          t.files.remove(key).foreach(ff =>
            t.files(key.stripSuffix(name) + renamed) = ff)
        }
      }
    }
    // flat layout lists files directly; hive layout walks one
    // `<col>=<value>` directory level PER partition column, decoding
    // each file's partition value tuple from its directory path (the
    // writer's own hive escaping)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def walkParts(dir: HPath, level: Int,
        acc: List[Option[String]]): Seq[(FileStatus, Seq[Option[String]])] =
      if (level == partitionBy.length)
        f.listStatus(dir).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_ -> acc.reverse.toSeq)
      else f.listStatus(dir).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"${partitionBy(level)}="))
        .flatMap { d =>
          val raw = d.getPath.getName.stripPrefix(s"${partitionBy(level)}=")
          val v: Option[String] =
            if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
            else Some(ExternalCatalogUtils.unescapePathName(raw))
          walkParts(d.getPath, level + 1, v :: acc)
        }
    val listed: Seq[(FileStatus, Option[Seq[Option[String]]])] =
      if (partitionBy.isEmpty)
        f.listStatus(dataDir).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_ -> None)
      else walkParts(dataDir, 0, Nil).map { case (st, vs) => st -> Some(vs) }
    val statuses = listed.map(_._1)
    val stats =
      if (statuses.isEmpty) None
      else tracker.map(t => t.fold.result(t.files.toMap))
    Written(listed.map { case (st, part) =>
      stats match {
        case Some((m, _)) =>
          m.get(StatsFold.relKey(st.getPath.toString, partitionBy.size + 1)) match {
          // the coverage marker asserts these stats are COMPLETE for the
          // batch schema at format N — see FileEntry; a
          // budget/collision-truncated nested enumeration earns only v2
          // (see statsMarkerVersion)
          case Some((rows, cols)) => FileEntry(st, Some(rows), cols, part,
            statsVer = Some(statsMarkerVersion(df.schema)))
          // the fold saw every written file, so a file without stats
          // is a ZERO-ROW file (a writer task with an empty partition)
          // — record that, don't leave the count unknown
          case None => FileEntry(st, Some(0L), Map.empty, part)
        }
        case None => FileEntry(st, None, Map.empty, part)
      }
    }.sortBy(_.path),
      stats.map(_._2).getOrElse(Map.empty), () => f.delete(dataDir, true))
  }

  /** Per-snapshot content handed back by a `prepare` callback: data
    * entries, read schema, per-writer txn watermarks (see
    * [[committedTxnVersions]]), bucket layout, deletion vectors, CHECK
    * constraints, reserved dropped names, and cumulative per-column NDV
    * sketches (the bottom-64 KMV of md5 value hashes — see
    * [[metaAgg]]'s `est_ndv`; carried/merged by ops that preserve or
    * append rows, DROPPED (unknown) by ops that remove or rewrite row
    * values — a bottom-k sketch cannot subtract), and the layout when the
    * operation sets it. The commit timestamp, legacy txn ids and
    * operation kind are stamped by [[nextManifest]]. */
  private final case class Prepared(entries: Seq[FileEntry],
      schema: StructType, txns: Map[String, Long],
      bucket: Option[(Int, String)], dels: Seq[FileEntry],
      constraints: Map[String, String], dropped: Set[String],
      ndv: Map[String, Seq[Long]],
      // None carries the previous manifest's partition columns (every
      // metadata/maintenance op); Some(cols) SETS them — only paths that
      // (re)define the layout pass them. `partEras` None: the previous
      // history rides on while an era-tagged entry survives.
      partBy: Option[Seq[String]] = None,
      partEras: Option[Seq[Seq[String]]] = None)

  private object Prepared {
    /** `m`'s content carried forward unchanged. */
    def of(m: Manifest): Prepared = Prepared(m.entries, m.schema, m.txns,
      m.bucket, m.dels, m.constraints, m.dropped, m.ndv)
    /** `m`'s content with the files at `victims` replaced by `added` —
      * the rebase of every file-replacing rewrite. */
    def swap(m: Manifest, victims: Set[String],
        added: Seq[FileEntry]): Prepared =
      of(m).copy(entries =
        m.entries.filterNot(e => victims.contains(e.path)) ++ added)
  }

  /** One plan of an operation's commit. `rebase` derives the next
    * snapshot's content from the latest manifest — the one the plan was
    * made against on its first attempt, the winner's after a lost race —
    * and returns None when the plan conflicts with it; `discard` removes
    * what the plan wrote once it is abandoned. */
  private final case class Plan(rebase: Option[Manifest] => Option[Prepared],
      discard: () => Unit = () => ())

  /** The rebase of a metadata-only commit planned against `m0`: it
    * publishes `next(latest)` only while the latest manifest still holds
    * m0's files, deletion vectors and schema — the state the operation
    * validated; any other commit in between re-plans it. */
  private def metadataRebase(m0: Manifest)(next: Manifest => Prepared)
      : Option[Manifest] => Option[Prepared] =
    _.filter(m => m.entries == m0.entries && m.dels == m0.dels &&
      m.schema == m0.schema).map(next)

  /** THE optimistic-commit loop: every operation that publishes a
    * version goes through it. Each attempt holds the latest published
    * version and its manifest, read once (one `_commits` listing, one
    * decode):
    *  - `plan` does the operation's work against that snapshot (None:
    *    nothing to publish, the loop returns None);
    *  - the plan's rebase is applied to that same manifest and the
    *    result published with the atomic create-exclusive at exactly the
    *    next version — an uncontended commit lists and reads once;
    *  - a lost race reads the new latest snapshot once and the next
    *    attempt rebases the plan onto it; a rebase that conflicts
    *    discards the plan, and the operation either re-plans against the
    *    manifest just read (`replan`) or gives up with None.
    * `txn`'s replay check runs against every manifest the loop reads: a
    * landed txn discards the plan and returns None. One bound,
    * [[MaxCommitAttempts]], covers all attempts of an operation. `kind`
    * is the operation kind the published manifest records. */
  private def commitLoop(s: SparkSession, tableDir: String, op: String,
      replan: Boolean, txn: Option[(String, Long)] = None,
      kind: Option[String] = None)(
      plan: (Int, Option[Manifest]) => Option[Plan]): Option[Int] = {
    val f = fs(s, tableDir)
    val uniq = java.util.UUID.randomUUID.toString.take(8)
    def latest(): (Int, Option[Manifest]) =
      snapshotAt(s, tableDir).fold((0, Option.empty[Manifest])) {
        case (v, m) => (v, Some(m)) }
    var (version, prev) = latest()
    var planned = Option.empty[Plan]
    def abandon(): Unit = { planned.foreach(_.discard()); planned = None }
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      if (txnLanded(prev, txn)) { abandon(); return None }
      if (planned.isEmpty) planned = plan(version, prev) match {
        case None => return None
        case p => p
      }
      planned.get.rebase(prev) match {
        case None =>
          abandon()
          if (!replan) return None
        case Some(p) =>
          val next = nextManifest(p, prev, kind)
          val cd = commitsDir(tableDir)
          f.mkdirs(cd)
          val tmp = new HPath(cd, s".tmp-$uniq-$attempt")
          val out = f.create(tmp, true)
          try out.write(ManifestCodec.encode(next).getBytes("UTF-8"))
          finally out.close()
          // the commit point: atomic create-exclusive of the version name
          if (publish(f, tmp, manifestPath(tableDir, version + 1)))
            return Some(version + 1)
          // lost the race: the next attempt rebases onto the winner
          val (v, m) = latest()
          version = v
          prev = m
      }
    }
    abandon()
    throw new IllegalStateException(
      s"$op: lost $MaxCommitAttempts commit races in $tableDir")
  }

  /** The manifest a commit publishes: `p` stamped with the commit time,
    * the operation's `kind`, the layout and its era history, and the
    * legacy txn ids carried from `prev`. */
  private def nextManifest(p: Prepared, prev: Option[Manifest],
      kind: Option[String]): Manifest = {
    val partBy = p.partBy.getOrElse(prev.map(_.partBy).getOrElse(Nil))
    // scheme-era history ([[repartitionBy]]): carried as long as any
    // era-tagged entry survives; a FULL rewrite (all-fresh untagged
    // entries) retires it — the table is single-era again. Fresh entries
    // landing on an era'd table are tagged with the CURRENT era here, so
    // every entry always knows its directory layout.
    val tagged = p.entries.exists(_.era.isDefined)
    val partEras = p.partEras.orElse(
      prev.flatMap(_.partEras).filter(_ => tagged))
    require(partEras.isDefined || !tagged,
      "snapshot publish: era-tagged entries without a #parteras " +
        "history — the caller must carry it (Prepared.partEras)")
    val entries = partEras.fold(p.entries)(eras => p.entries.map(e =>
      if (e.era.isDefined) e else e.copy(era = Some(eras.size - 1))))
    // genuinely-legacy one-shot ids keep their own `#txn:` line form
    // forever: re-encoding them as `#txnv:` would erase the provenance
    // the upgrade-seam composite check keys on
    Manifest(p.txns, prev.map(_.legacyTxns).getOrElse(Set.empty), p.schema,
      entries, p.bucket, p.dels, Some(System.currentTimeMillis()),
      p.constraints, p.dropped, p.ndv, partBy, partEras,
      // the producing operation's kind — THIS commit's, never carried
      // from the previous manifest
      kind)
  }

  private def commitInternal(s: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean, txn: Option[(String, Long)],
      bucket: Option[(Int, String)] = None,
      partitionBy: Seq[String] = Nil): Option[Int] = {
    // bucketed AND hive-partitioned compose (Iceberg's
    // partition + bucket-transform shape): partition directories
    // outside, bucket-id files inside each directory — but the bucket
    // column must be a DATA column (a partition column is constant
    // within any directory; bucketing on it would put every row of a
    // directory in one bucket)
    bucket.foreach { case (_, c) =>
      require(!partitionBy.contains(c),
        s"bucket column '$c' cannot also be a partition column")
    }
    require(partitionBy.distinct == partitionBy,
      s"duplicate partition columns: ${partitionBy.mkString(",")}")
    require(partitionBy.size < df.schema.size || partitionBy.isEmpty,
      "at least one non-partition column is required")
    partitionBy.foreach { c =>
      val fl = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"commitPartitioned: column '$c' not in ${df.columns.mkString(",")}"))
      require(supportedPartType(fl.dataType),
        s"commitPartitioned: unsupported partition type " +
          s"${fl.dataType.catalogString} for '$c' (string/int/long/date)")
    }
    // the data write happens ONCE; version races retry only the (tiny)
    // manifest publish
    var written: Option[Written] = None
    // the logical→physical rename map the staged write used (a lost
    // race against a concurrent rename must restage under the new map)
    var writtenRen: Map[String, String] = Map.empty
    // the replay check runs in the loop on every manifest it reads: a
    // zombie writer racing the live one with the same txn loses the
    // version race, re-reads, and sees the txn landed
    commitLoop(s, tableDir, "commit", replan = false, txn = txn,
        kind = Some(if (overwrite) "overwrite" else "append")) { (_, _) =>
      Some(Plan({ prevManifest =>
        // CHECK gate per attempt: a lost race may have added a
        // constraint mid-commit — the retry re-reads and re-validates
        enforceConstraints(df,
          prevManifest.map(_.constraints).getOrElse(Map.empty))
        // a dropped column NAME may not return via append: pre-drop
        // files still store it, and name-based projection would
        // silently resurface their values (the haunted-column hazard)
        if (!overwrite) {
          val bad = prevManifest.map(_.dropped).getOrElse(Set.empty)
            .intersect(df.columns.toSet)
          require(bad.isEmpty,
            s"append re-adds dropped column(s) ${bad.mkString(",")} — " +
              "dropped names are reserved until an overwrite resets the table")
        }
        // a bucketed APPEND requires the live layout to be the same
        // bucket spec (its file names must all parse bucket ids, and
        // mixed specs have no partitioning meaning)
        if (bucket.isDefined && !overwrite)
          prevManifest.filter(_.entries.nonEmpty).foreach { m =>
            require(m.bucket == bucket,
              s"bucketed append ${bucket.get} onto a table laid out as " +
                s"${m.bucket.map(_.toString).getOrElse("unbucketed")} — " +
                "overwrite to re-bucket")
          }
        // hive layout is a whole-table property: an append must match it
        // exactly — a plain append's files would lack partition values,
        // a differently-partitioned one would shear the directory scheme
        if (!overwrite)
          prevManifest.filter(_.entries.nonEmpty).foreach { m =>
            require(m.partBy == partitionBy,
              s"append partitioned by " +
                s"${if (partitionBy.isEmpty) "(none)" else partitionBy.mkString(",")} " +
                s"onto a table laid out by " +
                s"${if (m.partBy.isEmpty) "(none)" else m.partBy.mkString(",")} " +
                "— overwrite to re-layout")
          }
        // a NEW column may not land under a name reserved as the
        // PHYSICAL storage of a renamed column: the new files would
        // store it under that name, and pre-rename files' old values
        // (owned by the renamed logical column) would resurface under
        // the newcomer — the haunted-column hazard, physical edition
        if (!overwrite) {
          val reserved = prevManifest
            .map(m => renamesOf(m.schema).values.toSet).getOrElse(Set.empty)
          val clash = df.columns.toSet.intersect(reserved)
          require(clash.isEmpty,
            s"append writes column(s) ${clash.mkString(",")} under a " +
              "name reserved as the physical storage of a renamed " +
              "column — pre-rename files would resurface their old " +
              "values; use another name (or rename the column back)")
        }
        // schema BEFORE the write: evolution refusals must not orphan a
        // data dir, and the write must know the physical column names
        val schema = storedSchema(
          // overwrite / first commit: all-new files under the batch's
          // own (logical) names — rename indirections reset
          if (overwrite) stripPhys(df.schema)
          else prevManifest.map(_.schema)
            .map(mergeSchemas(_, df.schema,
              frozen = prevManifest.toSet.flatMap((m: Manifest) =>
                m.bucket.map(_._2).toSet ++ m.partBy) ++
                bucket.map(_._2) ++ partitionBy))
            .getOrElse(stripPhys(df.schema)))
        // data files ALWAYS store physical names: a renamed column's
        // batch values are written under its original on-disk name, so
        // every epoch's files stay name-compatible in one scan. If a
        // lost race changed the rename map (concurrent rename), the
        // staged files are stale — rewrite them under the new mapping.
        val renNow = renamesOf(schema)
        if (written.nonEmpty && writtenRen != renNow) {
          written.get.discard()
          written = None
        }
        if (written.isEmpty) {
          written = Some(writeDataDir(s, tableDir, df, schema, bucket,
            partitionBy, partSpread = partitionedWriteSpread(s)))
          writtenRen = renNow
        }
        val base = if (overwrite) Seq.empty
          else prevManifest.map(_.entries).getOrElse(Seq.empty)
        // txn watermarks accumulate across commits — including
        // overwrites: replay detection must survive a table rewrite
        val txns = txnMerge(
          prevManifest.map(_.txns).getOrElse(Map.empty), txn)
        // the resulting layout property: a bucketed commit asserts it, a
        // PLAIN append onto a bucketed table DEGRADES it (the new files
        // carry no bucket ids — readers fall back to unbucketed scans
        // rather than mis-grouping), an overwrite resets it
        val outBucket =
          if (overwrite) bucket
          else if (bucket.isDefined) bucket
          else None
        // deletion vectors reference the carried files: appends carry
        // them forward untouched, an overwrite retires them with the
        // files they applied to
        val dels =
          if (overwrite) Seq.empty
          else prevManifest.map(_.dels).getOrElse(Seq.empty)
        // NDV sketches: an overwrite (or first commit) takes the batch's;
        // an append min-K-MERGES per column. A column the batch lacks
        // keeps the previous sketch (its appended rows read NULL — NDV
        // counts non-null distincts); a column the previous TABLE never
        // had (schema evolution) takes the batch's alone (old rows are
        // all-null for it); a column whose previous sketch is UNKNOWN
        // (dropped by a row-removing op) stays
        // unknown — merging against an incomplete history would
        // undercount silently.
        val batchNdv = written.get.ndv
        val ndv =
          if (overwrite || prevManifest.forall(_.entries.isEmpty)) batchNdv
          else {
            val pm = prevManifest.get
            // NDV sketches key on PHYSICAL names (what the stats pass
            // sees) — so does this whole merge
            val prevCols = pm.schema.fields.map(physName).toSet
            val carried = pm.ndv.flatMap { case (c, sk) =>
              batchNdv.get(c) match {
                case Some(b) => Some(c -> graft.functions.KmvDistinctAgg
                  .merge(sk.toArray, b.toArray).toSeq)
                // "batch lacks the sketch" must mean "batch lacks the
                // COLUMN" (its appended rows read NULL — carry is then
                // exact). If the column IS in the batch schema and
                // eligible, its values went unsketched (a gated/failed
                // collection pass): carrying forward would undercount
                // distinct_count silently forever — drop to unknown,
                // the claim-nothing-rather-than-wrong rule.
                case None =>
                  // c is a PHYSICAL name — resolve it to the logical
                  // column via the merged schema before probing the
                  // (logically-named) batch
                  val inBatch = schema.fields.exists(fl =>
                    physName(fl) == c && df.columns.contains(fl.name) &&
                      statKind(fl.dataType).isDefined)
                  // a batch that wrote NO files appended no values —
                  // the carried sketch stays exact regardless
                  if (inBatch && written.get.entries.nonEmpty) None
                  else Some(c -> sk)
              }
            }
            carried ++ batchNdv.filter { case (c, _) =>
              !carried.contains(c) && !prevCols.contains(c) }
          }
        // constraints are table properties: they survive overwrites
        Some(Prepared(base ++ written.get.entries, schema, txns, outBucket, dels,
          prevManifest.map(_.constraints).getOrElse(Map.empty),
          if (overwrite) Set.empty[String]
          else prevManifest.map(_.dropped).getOrElse(Set.empty),
          ndv, partBy = Some(partitionBy)))
      }, () => written.foreach(_.discard())))
    }
  }

  /** Commit hash-CLUSTERED by `bucketCol` into `nBuckets` buckets —
    * Spark's bucketed-table layout inside the snapshot table: the scan
    * reports `HashPartitioning(bucketCol, nBuckets)`, so joins and
    * aggregations on the bucket key between bucketed snapshots (or
    * self-joins) run EXCHANGE-FREE — the co-located-join answer at
    * 100 TB, where re-shuffling the fact table per query is the
    * dominant cost. Appends must keep the same spec (refused
    * otherwise); a plain append degrades the table to unbucketed
    * (readers stay correct, they just lose the free partitioning);
    * an overwrite re-buckets. Zone maps, time travel, txns, vacuum,
    * and the change feed all compose unchanged. */
  def commitBucketed(s: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean, nBuckets: Int, bucketCol: String): Int = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(df.columns.contains(bucketCol),
      s"bucket column '$bucketCol' not in ${df.columns.mkString(",")}")
    commitInternal(s, tableDir, df, overwrite, None,
      Some((nBuckets, bucketCol))).get
  }

  /** Test hook: runs between a maintenance operation's data write (or
    * validation) and its publish attempt — lets a spec inject a
    * concurrent commit into the race window. */
  private[graft] var beforePublishHook: () => Unit = () => ()

  /** Commit RANGE-CLUSTERED by `clusterCols`: the batch is
    * range-partitioned into `nFiles` files and sorted within each on
    * the cluster key — the write-side layout discipline the manifest
    * zone maps feed on (one-dimensional Z-order). A selective read on
    * the cluster key then plans a handful of files out of the whole
    * table. Pure composition: everything else (atomicity, stats,
    * evolution, txns, vectors) is [[commit]]'s. */
  def commitClustered(s: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean, nFiles: Int, clusterCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    require(nFiles > 0, s"nFiles must be positive, got $nFiles")
    require(clusterCols.nonEmpty, "commitClustered needs cluster columns")
    val cols = clusterCols.map(col)
    commit(s, tableDir,
      df.repartitionByRange(nFiles, cols: _*).sortWithinPartitions(cols: _*),
      overwrite)
  }

  /** Commit Z-ORDERED on two dimension columns: rows are arranged along
    * the Morton curve of (colA, colB) ([[graft.operators.LayoutOps.zvalue]])
    * before the write, so each data file covers an axis-aligned SQUARE
    * of the key plane instead of a slab of one dimension — the manifest
    * zone maps then prune selective predicates on EITHER column (the
    * Delta/Iceberg `ZORDER BY` discipline, landed as one atomic
    * snapshot commit). The curve column is computed, used for the
    * arrangement, and dropped — row content is untouched. */
  def commitZordered(s: SparkSession, tableDir: String, df: DataFrame,
      overwrite: Boolean, nFiles: Int, colA: String, colB: String): Int =
    commit(s, tableDir,
      graft.operators.LayoutOps.zCluster(df, colA, colB, nFiles), overwrite)

  /** OPTIMIZE: bin-pack the current snapshot's small files
    * (< `smallFileBytes`) into ~`targetFileBytes` replacements,
    * published as ONE new version whose manifest carries every large
    * file through UNTOUCHED — readers see identical rows before and
    * after, history still serves the old layout, and [[vacuum]] later
    * reclaims the superseded small files. The read-side win is plan
    * fan-out (one task per tiny file) and zone-map quality; the
    * rewrite cost is the small-file bytes only, never the table.
    *
    * Optimistic concurrency: the publish attempt re-reads the LATEST
    * manifest and aborts (returns None, deleting its output) if any
    * compacted file is no longer live there — a concurrent overwrite/
    * merge/vacuum/competing-compaction would otherwise have its effect
    * silently resurrected. Concurrent APPENDS commute: their files are
    * carried through by the re-read. Returns the new version, or None
    * when there was nothing to compact or a conflict aborted. */
  def compact(s: SparkSession, tableDir: String, smallFileBytes: Long,
      targetFileBytes: Long): Option[Int] = {
    require(smallFileBytes > 0 && targetFileBytes > 0,
      "compact thresholds must be positive")
    def plan(m0: Manifest): Option[Plan] = {
      // a bucketed table's file-per-bucket mapping IS its layout —
      // bin-packing across buckets would destroy it; per-bucket
      // compaction is a re-bucketing overwrite (commitBucketed) instead
      if (m0.bucket.isDefined) return None
      // outstanding deletion vectors: the bin-pack read would resurrect
      // deleted rows — absorbDeletes IS the compaction of those files
      if (m0.dels.nonEmpty) return None
      // mixed/superseded partition-scheme eras: the pack read+rewrite
      // assumes ONE current layout — relayout()/overwrite unifies
      if (!eraUniform(m0)) return None
      val sc0 = storedSchema(m0.schema)
      val small = m0.entries.filter(_.status.getLen < smallFileBytes)
      if (small.size <= 1) return None
      val nOut = math.max(1, math.ceil(
        small.map(_.status.getLen).sum.toDouble / targetFileBytes).toInt)
      // hive layout packs PER PARTITION: the partitioned writer
      // re-clusters by value and emits packed files inside fresh
      // `<col>=<value>/` dirs — the maintenance a partitioned
      // streaming sink's small-file tail needs (one packed file per
      // partition per sweep; only files under `smallFileBytes` are
      // selected, so output stays near the small-file mass per value)
      val packed = filesFrame(s, tableDir, m0, small, sc0)
      val written =
        if (m0.partBy.nonEmpty)
          writeDataDir(s, tableDir, packed, sc0, partitionBy = m0.partBy)
        else writeDataDir(s, tableDir, packed.repartition(nOut), sc0)
      val compacted = small.map(_.path).toSet
      beforePublishHook()
      Some(Plan(_.flatMap { m =>
        // conflict: a compacted file left the live set, or a
        // deletion vector landed mid-compaction (the rewrite read
        // the small files WITHOUT it — publishing would resurrect
        // the deleted rows)
        if (!compacted.subsetOf(m.paths.toSet) || m.dels.nonEmpty) None
        else Some(Prepared.swap(m, compacted, written.entries))
      }, written.discard))
    }
    commitLoop(s, tableDir, "compact", replan = false,
      kind = Some("compact")) { (_, pm) => pm.flatMap(plan) }
  }

  /** Per-BUCKET compaction — the maintenance op of the bucketed
    * layout: every bucket (per hive partition, on the combined layout)
    * holding MORE than one file is rewritten to exactly one, restoring
    * the fresh-commit shape — one file per bucket, sorted by the
    * bucket column — that makes bucketed joins exchange-free AND
    * (under `spark.sql.legacy.bucketedTableScan.outputOrdering`)
    * sort-free again after appends fragmented it. Single-file buckets
    * are carried through untouched, so the rewrite cost is the
    * fragmented buckets' bytes, never the table. Correctness rests on
    * the writer's identity: re-hashing a bucket's rows assigns them
    * the SAME bucket id (both sides are pmod(murmur3(key), n)), so
    * rows can never migrate buckets during the pack.
    *
    * Same optimistic concurrency as [[compact]]: the publish re-reads
    * the latest manifest and aborts (returns None, output deleted) if
    * any packed file left the live set or a deletion vector landed
    * mid-pack; concurrent appends commute. None when every bucket is
    * already single-file, on outstanding vectors (absorbDeletes
    * first), or on unbucketed tables. */
  def compactBuckets(s: SparkSession, tableDir: String): Option[Int] = {
    def plan(m0: Manifest): Option[Plan] = {
      val (nBuckets, bucketCol) = m0.bucket.getOrElse(return None)
      if (m0.dels.nonEmpty) return None
      val es0 = m0.entries
      // bucket id from the writer's `_%05d` file-name stamp; every
      // file of a bucketed manifest carries one by construction
      val idRe = """.*_(\d{5})\.[^/]*$""".r
      def bucketId(e: FileEntry): Int = e.status.getPath.getName match {
        case idRe(id) => id.toInt
        case other => throw new IllegalStateException(
          s"compactBuckets: no bucket id in file name $other")
      }
      val affected = es0.groupBy(e => (e.part, bucketId(e)))
        .filter(_._2.size > 1).values.flatten.toSeq
      if (affected.isEmpty) return None
      val sc0 = storedSchema(m0.schema)
      // the subset read reconstructs partition values (partBy) but
      // claims NO bucket partitioning (it is a plain row source for
      // the re-bucketing writer, which re-derives the ids)
      val written = writeDataDir(s, tableDir,
        filesFrame(s, tableDir, m0, affected, sc0), sc0,
        bucket = Some((nBuckets, bucketCol)), partitionBy = m0.partBy)
      val packed = affected.map(_.path).toSet
      beforePublishHook()
      Some(Plan(_.flatMap { m =>
        if (!packed.subsetOf(m.paths.toSet) || m.dels.nonEmpty) None
        else Some(Prepared.swap(m, packed, written.entries))
      }, written.discard))
    }
    commitLoop(s, tableDir, "compactBuckets", replan = false,
      kind = Some("compact")) { (_, pm) => pm.flatMap(plan) }
  }

  /** OPTIMIZE ZORDER: rewrite the current snapshot's ENTIRE live file
    * set arranged along the Morton curve of (colA, colB) — Delta's
    * `OPTIMIZE ... ZORDER BY` — published as ONE new version. Files
    * then cover axis-aligned squares of the two-key space, so the
    * manifest zone maps prune selective predicates on EITHER column
    * (see [[graft.operators.LayoutOps.zvalue]]); history still serves
    * the old layout until [[vacuum]]. `nFiles <= 0` auto-sizes to
    * ~128 MB output files from the manifest's recorded sizes (zero
    * filesystem calls).
    *
    * Optimistic concurrency, the [[compact]] discipline: the publish
    * re-reads the LATEST manifest — a rewritten file that left the live
    * set (concurrent overwrite/merge/vacuum) or a deletion vector
    * landing mid-rewrite aborts (returns None, deleting the staged
    * output); files APPENDED mid-rewrite commute — they carry through
    * unclustered and the next OPTIMIZE picks them up. Refused (None,
    * not an error) on bucketed layouts (the bucket mapping IS the
    * layout), snapshots with outstanding deletion vectors
    * ([[absorbDeletes]] first), and empty snapshots. */
  def rewriteZordered(s: SparkSession, tableDir: String,
      colA: String, colB: String, nFiles: Int = 0): Option[Int] =
    rewriteZorderedBy(s, tableDir, Seq(colA, colB), nFiles)

  /** The n-dimensional generalization (2–4 Z dimensions — bit-identical
    * to the 2-arg form at n = 2): each rewritten file covers an
    * axis-aligned HYPER-box, so zone maps prune selective predicates on
    * ANY of the dimensions — the 3-way physical design a (tenant, key,
    * day-bucket) access pattern wants when directories are spent on
    * something else. Bits per dimension shrink with n (16/16/15), i.e.
    * per-dimension resolution trades off against dimension count —
    * past ~4 dims the curve's pruning power dilutes, which is why the
    * arity is capped rather than open. */
  def rewriteZorderedBy(s: SparkSession, tableDir: String,
      zCols: Seq[String], nFiles: Int = 0): Option[Int] = {
    import org.apache.spark.sql.functions.col
    require(zCols.size >= 2 && zCols.size <= 4,
      s"rewriteZorderedBy: 2..4 dimensions, got ${zCols.mkString(",")}")
    require(zCols.map(_.toLowerCase).distinct.size == zCols.size,
      s"rewriteZorderedBy: duplicate dimensions in ${zCols.mkString(",")}")
    def plan(m0: Manifest): Option[Plan] = {
      if (m0.bucket.isDefined || m0.dels.nonEmpty) return None
      if (!eraUniform(m0)) return None // superseded-era files: relayout first
      // a partition column cannot also be a Z-order dimension: within any
      // one directory it is constant, so the curve would degenerate to a
      // plain sort on the other columns. Case-INSENSITIVE like Spark's
      // default column resolution — `ZORDER BY (K, v)` on a table
      // partitioned by `k` must decline, not silently burn a rewrite
      if (m0.partBy.exists(p => zCols.exists(p.equalsIgnoreCase)))
        return None
      val (schema0, es0) = (m0.schema, m0.entries)
      if (es0.isEmpty) return None
      // every dimension must resolve — a top-level column, or a
      // DOTTED struct leaf (`meta.k`): the curve then clusters by
      // the leaf and the nested zone maps prune on it. Validated
      // here so a typo fails before any rewrite job runs.
      zCols.foreach { c =>
        val resolves = schema0.fields.exists(_.name == c) ||
          (c.contains('.') && {
            val segs = c.split('.').toSeq
            schema0.fields.find(_.name == segs.head)
              .flatMap(f => leafType(f.dataType, segs.tail)).isDefined
          })
        require(resolves, s"rewriteZorderedBy: '$c' is neither a " +
          s"column nor a struct leaf of ${schema0.fieldNames.mkString(",")}")
      }
      val n =
        if (nFiles > 0) nFiles
        else math.max(1, math.ceil(es0.map(_.status.getLen).sum.toDouble /
          (128L * 1024 * 1024)).toInt)
      val all = es0.map(_.path).toSet
      val sc0 = storedSchema(schema0)
      // hive layout: cluster WITHIN partitions (range by
      // (partition cols, z) — each output stripe is one value's
      // contiguous z-run) and hand the pre-shaped frame to the
      // partitioned writer untouched; flat tables are the
      // empty-partCols case of the same pipeline
      val clustered = graft.operators.LayoutOps.zClusterWithinN(
        filesFrame(s, tableDir, m0, es0, sc0), m0.partBy, zCols, n)
      // the writer's toPhysical is a pure projection — per-partition
      // z-run order survives, so preShaped stays valid
      val written = writeDataDir(s, tableDir, clustered, sc0,
        partitionBy = m0.partBy, preShaped = true)
      beforePublishHook()
      Some(Plan(_.flatMap { m =>
        if (!all.subsetOf(m.paths.toSet) || m.dels.nonEmpty) None
        else Some(Prepared.swap(m, all, written.entries))
      }, written.discard))
    }
    commitLoop(s, tableDir, "rewriteZorderedBy", replan = false,
      kind = Some("compact")) { (_, pm) => pm.flatMap(plan) }
  }

  /** CHECK-constraint gate over a batch about to commit: SQL CHECK
    * semantics — a row violates only when the expression evaluates to
    * FALSE (NULL passes, as in standard SQL). ONE O(batch) aggregate
    * for ALL constraints; throws naming the first violated one. */
  private def enforceConstraints(df: DataFrame,
      cs: Map[String, String]): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions._
    val ordered = cs.toSeq.sortBy(_._1)
    val aggs = ordered.map { case (n, e) =>
      sum(when(expr(e) === false, 1L).otherwise(0L)).as(s"__c_$n") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    ordered.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) throw new IllegalArgumentException(
        s"CHECK constraint '$n' ($e) violated by $bad row(s) of the commit")
    }
  }

  /** Add a named CHECK constraint (a SQL boolean expression over the
    * table's columns — the Delta `ALTER TABLE ADD CONSTRAINT` shape).
    * The CURRENT snapshot is validated first (one scan), then the
    * constraint publishes as a metadata-only commit; every subsequent
    * commit/merge validates its batch (O(batch), piggybacked as one
    * aggregate) and refuses violating writes. Serializable: a commit
    * landing mid-validation aborts the publish and the validation
    * re-runs against the new state. */
  def addConstraint(s: SparkSession, tableDir: String, name: String,
      sqlExpr: String): Int = {
    require(name.nonEmpty, "constraint name must be non-empty")
    commitLoop(s, tableDir, "addConstraint", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "addConstraint", tableDir)
      require(!m0.constraints.contains(name),
        s"constraint '$name' already exists on $tableDir")
      enforceConstraints(snapshotFrame(s, tableDir, m0), Map(name -> sqlExpr))
      beforePublishHook()
      Some(Plan(_.flatMap { m =>
        // the validation ran against m0's exact state: a commit landing
        // mid-validation re-validates
        if (m.entries != m0.entries || m.dels != m0.dels) None
        else Some(Prepared.of(m).copy(
          constraints = m.constraints + (name -> sqlExpr)))
      }))
    }.get
  }

  /** Drop a named CHECK constraint as a metadata-only commit. No-op
    * returning None when the constraint does not exist. */
  def dropConstraint(s: SparkSession, tableDir: String,
      name: String): Option[Int] =
    commitLoop(s, tableDir, "dropConstraint", replan = false) { (_, _) =>
      Some(Plan(_.filter(_.constraints.contains(name)).map(m =>
        Prepared.of(m).copy(constraints = m.constraints - name))))
    }

  /** A version's recorded commit timestamp (epoch millis); None for
    * legacy manifests committed before stamping. */
  private[sources] def commitTimestamp(s: SparkSession, tableDir: String,
      version: Int): Option[Long] =
    readManifest(s, tableDir, version).ts

  /** METADATA-ONLY column drop (the Delta/Iceberg `ALTER TABLE DROP
    * COLUMN` shape): publish a new version whose recorded schema omits
    * the column — no data file is touched; reads simply stop
    * projecting it (the parquet reader reads only requested columns),
    * and time travel still serves pre-drop versions WITH the column.
    * Refused while a CHECK constraint references the column (by name
    * match — conservative) and for the table's bucket column (the
    * layout is keyed on it). The dropped NAME is recorded in the
    * manifest and appends may NOT re-add it (old files still store the
    * column, so name-based projection would silently resurface the
    * pre-drop values — the haunted-column hazard; Delta solves it with
    * id-based column mapping, this format by refusing reuse) until an
    * OVERWRITE resets the table. */
  def dropColumn(s: SparkSession, tableDir: String, colName: String): Int = {
    commitLoop(s, tableDir, "dropColumn", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "dropColumn", tableDir)
      val sc0 = m0.schema
      require(sc0.fieldNames.contains(colName),
        s"dropColumn: no column '$colName' in ${sc0.fieldNames.mkString(",")}")
      require(sc0.fields.length > 1,
        s"dropColumn: cannot drop the only column of $tableDir")
      require(!m0.bucket.exists(_._2 == colName),
        s"dropColumn: '$colName' is the bucket column of $tableDir")
      require(!m0.partBy.contains(colName) &&
        !m0.partEras.exists(_.exists(_.contains(colName))),
        s"dropColumn: '$colName' is a hive partition column (current " +
          s"or a retained scheme era) of $tableDir")
      m0.constraints.foreach { case (n, e) =>
        require(!e.contains(colName),
          s"dropColumn: constraint '$n' ($e) references '$colName' — drop it first")
      }
      val next = StructType(sc0.fields.filterNot(_.name == colName))
      // reserve the PHYSICAL name too: a renamed column's files store
      // it under that name, and a future append re-adding it would
      // resurface the dropped values exactly like the logical hazard
      val phys = physName(sc0(colName))
      Some(Plan(metadataRebase(m0)(m => Prepared.of(m).copy(schema = next,
        dropped = m.dropped + colName + phys, ndv = m.ndv - phys))))
    }.get
  }

  /** ADD COLUMN, metadata-only: publish the schema with one appended
    * NULLABLE field — zero data movement; every existing file simply
    * reads NULL for it (the schema-evolution read contract), and the
    * coverage markers keep stats exact (a marked file provably lacks
    * the column, so its rows count as nulls). Implicit evolution via
    * an append containing the new column does the same thing — this is
    * the EXPLICIT doorway for declaring the column before any data
    * arrives (a type contract the next append must then match or
    * widen). Refused: existing names, reserved dropped names, another
    * column's physical storage name (the haunted-name hazards). */
  def addColumn(s: SparkSession, tableDir: String, name: String,
      dataType: DataType): Int = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"addColumn: '$name' is not a plain identifier")
    commitLoop(s, tableDir, "addColumn", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "addColumn", tableDir)
      val sc0 = m0.schema
      require(!sc0.fieldNames.contains(name),
        s"addColumn: column '$name' already exists in $tableDir")
      require(!m0.dropped.contains(name),
        s"addColumn: '$name' is a reserved dropped name — pre-drop " +
          "files still store it")
      require(!sc0.fields.exists(f => physName(f) == name && f.name != name),
        s"addColumn: '$name' is the physical storage name of a renamed " +
          "column — pre-rename files would resurface its values")
      val next = StructType(sc0.fields :+
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true))
      Some(Plan(metadataRebase(m0)(m => Prepared.of(m).copy(schema = next))))
    }.get
  }

  /** RENAME COLUMN, metadata-only (the Iceberg field-id / Delta
    * column-mapping discipline re-expressed through field metadata): a
    * 100 TB rename publishes ONE manifest whose schema field carries
    * the new LOGICAL name plus its on-disk PHYSICAL name
    * ([[PhysKey]]) — zero data files touched. Scans keep planning,
    * zone-map pruning, and NDV/catalog statistics on the physical name
    * and alias to the logical one in a single projection (pushdown and
    * data skipping are untouched); appends write the column back under
    * its physical name, so every epoch's files stay one-scan
    * compatible; time travel shows each version its own name. Renaming
    * BACK to the original name removes the indirection; any full
    * rewrite (overwrite, [[relayout]]) retires it.
    *
    * Refused: a target name that already exists, is
    * a reserved dropped name, or is another column's physical storage
    * name (pre-rename files would resurface foreign values under it);
    * layout keys (bucket/partition columns — their file placement and
    * directory names are spelled with the stored name; [[relayout]]
    * re-keys); columns referenced by CHECK constraints (their SQL text
    * would dangle). Serializable like [[dropColumn]]: re-plans on any
    * concurrent commit. */
  def renameColumn(s: SparkSession, tableDir: String, from: String,
      to: String): Int = {
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"renameColumn: '$to' is not a plain identifier")
    require(from != to, s"renameColumn: '$from' -> '$to' is a no-op")
    commitLoop(s, tableDir, "renameColumn", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "renameColumn", tableDir)
      val sc0 = m0.schema
      require(sc0.fieldNames.contains(from),
        s"renameColumn: no column '$from' in ${sc0.fieldNames.mkString(",")}")
      require(!sc0.fieldNames.contains(to),
        s"renameColumn: column '$to' already exists in $tableDir")
      require(!m0.dropped.contains(to),
        s"renameColumn: '$to' is a reserved dropped name — pre-drop " +
          "files still store it")
      require(!sc0.fields.exists(f => f.name != from && physName(f) == to),
        s"renameColumn: '$to' is the physical storage name of another " +
          "renamed column — pre-rename files would resurface its values")
      require(!m0.partBy.contains(from) &&
        !m0.partEras.exists(_.exists(_.contains(from))) &&
        !m0.bucket.exists(_._2 == from),
        s"renameColumn: '$from' is a layout key (bucket/partition " +
          "column, current or a retained scheme era) — relayout() to " +
          "re-key first")
      m0.constraints.foreach { case (n, e) =>
        require(!e.contains(from),
          s"renameColumn: constraint '$n' ($e) references '$from' — " +
            "drop it first")
      }
      val fromField = sc0(from)
      val phys = physName(fromField)
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(fromField.metadata)
      // renaming BACK to the stored name ends the indirection cleanly
      val newMeta = if (phys == to) mb.remove(PhysKey).build()
        else mb.putString(PhysKey, phys).build()
      val next = StructType(sc0.fields.map(f =>
        if (f.name == from) f.copy(name = to, metadata = newMeta) else f))
      // stats/NDV stay keyed on the physical name — values did not
      // change, so neither does any statistic
      Some(Plan(metadataRebase(m0)(m => Prepared.of(m).copy(schema = next))))
    }.get
  }

  /** Declare the columns future commits collect a per-file membership
    * BLOOM for ([[graft.functions.BloomBits]] — 1 KiB per (file,
    * column), riding the one existing commit-stats pass): the manifest
    * then refutes `col = v` point probes on files whose min/max range
    * cannot (the UNCLUSTERED point lookup — on an append-ordered
    * 100 TB table every file straddles every key, so zone maps keep
    * all of them; a Bloom keeps ~FPR of them). Size-budgeted by
    * design: the filter saturates (degrades to keep-all, never
    * unsound) when a file holds ≫8k distinct declared-column values —
    * declare point-lookup KEYS, and keep per-file key cardinality
    * bounded the same way zone maps want it (clustering/compaction).
    *
    * Metadata-only commit (the declaration is a schema field marker,
    * like a rename's physical name). Takes the FULL desired set: named
    * columns gain the marker, all others lose it. Only long-family /
    * string / decimal / date / timestamp columns qualify (the hashable
    * stat kinds). A DOTTED name (`meta.request_id`) declares a struct
    * LEAF — the Bloom then refutes `WHERE meta.request_id = v` point
    * probes through the same nested stats keys zone maps use. Files
    * committed BEFORE the declaration carry no Bloom — [[analyze]]
    * backfills them in one pass. */
  def setBloomColumns(s: SparkSession, tableDir: String,
      cols: Seq[String]): Int = {
    commitLoop(s, tableDir, "setBloomColumns", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "setBloomColumns", tableDir)
      val sc0 = m0.schema
      // a `col['key']` item declares a MAP KEY; a dotted name declares
      // a STRUCT LEAF (`meta.request_id`) when its first segment names
      // a struct column; otherwise it must match a top-level column
      // literally (names may contain dots)
      val MapItem = """^\s*([A-Za-z_][A-Za-z0-9_]*)\['([^'\]]+)'\]\s*$""".r
      val (mapDecls0, rest) = cols.partition(MapItem.findFirstIn(_).isDefined)
      val mapByCol: Map[String, Seq[String]] = mapDecls0.map {
        case MapItem(c, k) => c -> k
      }.groupMap(_._1)(_._2).map { case (c, ks) => c -> ks.distinct }
      mapByCol.foreach { case (c, _) =>
        val f = sc0.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"setBloomColumns: no column '$c' in " +
              sc0.fieldNames.mkString(",")))
        f.dataType match {
          case org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType, v, _) =>
            require(statKind(v).exists(k => k == 'l' || k == 's'),
              s"setBloomColumns: '$c' value type (${v.catalogString}) " +
                "is not a hashable stat kind (long-family/string)")
          case other => throw new IllegalArgumentException(
            s"setBloomColumns: '$c' (${other.catalogString}) is not a " +
              "map<string, V> column")
        }
      }
      def isLeafPath(c: String): Boolean = c.contains('.') &&
        !sc0.fieldNames.contains(c) && {
          val segs = c.split('.').toSeq
          sc0.fields.find(_.name == segs.head)
            .exists(_.dataType.isInstanceOf[StructType])
        }
      val (leafDecls, topDecls) = rest.partition(isLeafPath)
      topDecls.foreach { c =>
        val f = sc0.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"setBloomColumns: no column '$c' in " +
              sc0.fieldNames.mkString(",")))
        // an ARRAY column declares an ELEMENT Bloom (probed by pushed
        // array_contains); scalars keep the value-Bloom rule
        require(statKind(f.dataType).exists(k => k == 'l' || k == 's') ||
          arrayElemKind(f.dataType).isDefined,
          s"setBloomColumns: '$c' (${f.dataType.catalogString}) is not " +
            "a hashable stat kind (long-family/string, or an array of " +
            "long-family integers/strings)")
      }
      val leafByTop: Map[String, Seq[String]] = leafDecls.map { c =>
        val segs = c.split('.').toSeq
        require(segs.size <= MaxStatDepth,
          s"setBloomColumns: '$c' exceeds the stats depth cap " +
            s"($MaxStatDepth levels)")
        val top = sc0.fields.find(_.name == segs.head).get
        val lt = leafType(top.dataType, segs.tail).getOrElse(
          throw new IllegalArgumentException(
            s"setBloomColumns: '$c' does not resolve to a struct leaf"))
        require(statKind(lt).exists(k => k == 'l' || k == 's'),
          s"setBloomColumns: '$c' (${lt.catalogString}) is not a " +
            "hashable stat kind (long-family/string)")
        top.name -> segs.tail.mkString(".")
      }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.distinct }
      val (arrDecls, scalarDecls) = topDecls.partition(c =>
        sc0.fields.find(_.name == c)
          .exists(f => arrayElemKind(f.dataType).isDefined))
      val want = scalarDecls.toSet
      val wantElems = arrDecls.toSet
      val next = StructType(sc0.fields.map { f =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(BloomKey).remove(BloomPathsKey)
          .remove(BloomMapKeysKey).remove(BloomElemsKey)
        if (want.contains(f.name)) mb.putBoolean(BloomKey, true)
        if (wantElems.contains(f.name)) mb.putBoolean(BloomElemsKey, true)
        leafByTop.get(f.name).foreach(ps =>
          mb.putStringArray(BloomPathsKey, ps.toArray))
        mapByCol.get(f.name).foreach(ks =>
          mb.putStringArray(BloomMapKeysKey, ks.toArray))
        val nm = mb.build()
        if (nm == f.metadata) f else f.copy(metadata = nm)
      })
      Some(Plan(metadataRebase(m0)(m => Prepared.of(m).copy(schema = next))))
    }.get
  }

  /** PARTITION EVOLUTION — change the hive directory scheme for FUTURE
    * commits while every already-written file stays readable under ITS
    * era's layout (the Iceberg partition-evolution contract, manifest
    * edition): ONE metadata-only publish records the new scheme in
    * `#partby:`, appends it to the `#parteras:` history, and tags
    * every existing entry with its era index — zero of 100 TB
    * rewritten. Reads plan mixed-era tables as one union of per-era
    * relations: a new-era file prunes by DIRECTORY on the new columns,
    * an old-era file (which stores them as data) prunes by its ZONE
    * MAPS — both eras answer a partition-pruned query with a strict
    * file subset. Appends must match the CURRENT scheme (the existing
    * layout gate). Row-level DML (merge/update/delete/absorbDeletes)
    * works ACROSS eras: probe and read plan per era, rewritten files
    * re-land under the CURRENT scheme — so ordinary DML incrementally
    * migrates the table (the Iceberg behavior). Whole-table layout ops
    * (compact/Z-order/ANALYZE/stats declarations) still refuse on a
    * mixed-era table — `relayout()` (or any overwrite) rewrites
    * everything under one scheme and retires the history.
    * `newBy = Nil` evolves back to a flat layout.
    * Refused on bucketed tables (bucket metadata is scheme-global) and
    * when the scheme is unchanged. */
  def repartitionBy(s: SparkSession, tableDir: String,
      newBy: Seq[String]): Int = {
    require(newBy.distinct.size == newBy.size,
      s"repartitionBy: duplicate column in ${newBy.mkString(",")}")
    commitLoop(s, tableDir, "repartitionBy", replan = true) { (_, pm) =>
      val m0 = requirePublished(pm, "repartitionBy", tableDir)
      val sc0 = m0.schema
      require(m0.bucket.isEmpty,
        s"repartitionBy: $tableDir is bucketed — overwrite/relayout to " +
          "change the scheme")
      require(newBy != m0.partBy,
        s"repartitionBy: $tableDir is already partitioned by " +
          s"${if (newBy.isEmpty) "(none)" else newBy.mkString(",")}")
      newBy.foreach { c =>
        val f = sc0.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"repartitionBy: no column '$c' in ${sc0.fieldNames.mkString(",")}"))
        require(supportedPartType(f.dataType),
          s"repartitionBy: '$c' (${f.dataType.catalogString}) is not a " +
            "supported partition type (string/int/long/date)")
        require(!renamesOf(sc0).contains(c),
          s"repartitionBy: '$c' carries a rename indirection — " +
            "relayout first")
      }
      val oldEras = m0.partEras.getOrElse(Seq(m0.partBy))
      val oldIdx = oldEras.size - 1
      Some(Plan(metadataRebase(m0)(m => Prepared.of(m).copy(
        // tag the surviving entries with the era they were written
        // under (nextManifest's auto-tag would wrongly claim the NEW
        // era for them)
        entries = m.entries.map(e =>
          if (e.era.isDefined) e else e.copy(era = Some(oldIdx))),
        partBy = Some(newBy), partEras = Some(oldEras :+ newBy)))))
    }.get
  }

  /** Is every data file plannable under the CURRENT `partBy` scheme?
    * False on a mixed-era table ([[repartitionBy]]) and when the
    * single era's files live under a superseded scheme (right after a
    * repartition, before any new-era commit). */
  private def eraUniform(m: Manifest): Boolean =
    !m.mixedEras(m.entries) &&
      m.entries.headOption.forall(e => m.eraScheme(m.eraOf(e)) == m.partBy)

  /** Refusal gate for whole-table layout/stats ops on a table whose
    * files are not all under the CURRENT partition scheme
    * ([[repartitionBy]]): their planning assumes one directory scheme
    * for every file. Row-level DML no longer takes this gate (it
    * plans per era — see [[updateWhere]]); compact/Z-order/ANALYZE/
    * metaAgg and the bare relation doorway still do. Honest refusal
    * with the escape hatch named; single-era tables (including
    * evolved ones whose files are all current-era) pass. */
  private def requireSingleEra(m: Manifest, op: String): Unit =
    require(eraUniform(m),
      s"$op: table has partition-scheme eras " +
        s"(${m.partEras.map(_.map(e => if (e.isEmpty) "(flat)"
          else e.mkString("+")).mkString(" -> ")).getOrElse("")}) " +
        "not matching the current layout — relayout()/overwrite to " +
        "unify the layout first")

  // ---------- branches: write-audit-publish ----------

  /** The table directory a branch's writes land in. */
  def branchDir(tableDir: String, name: String): String =
    s"$tableDir/_branches/$name"

  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_\\-]{1,64}"),
      s"branch name '$name' (allowed: letters, digits, _, -, <= 64 chars)")

  private def forkFile(tableDir: String, name: String): HPath =
    new HPath(s"$tableDir/_branches", s".$name.fork")

  /** CREATE a branch — the write-audit-publish primitive (Nessie/
    * LakeFS shape, manifest edition): a zero-copy SHALLOW CLONE of
    * main's latest snapshot into `<dir>/_branches/<name>`, plus the
    * recorded FORK VERSION. Writers then use the branch directory
    * through every normal API (commit/merge/DELETE/UPDATE/compact —
    * it is a full snapshot table); main never sees a byte until
    * [[publishBranch]]. Main's vacuum cannot touch branch data (it
    * sweeps only its own `data/`); the branch's own vacuum must keep
    * any version main later publishes (the shallow-clone caveat).
    * Branches STACK: a branch is a full snapshot table, so
    * `branchCreate(branchDir, ...)` forks a sub-branch that publishes
    * inward (sub → branch) then outward (branch → main) — the drop
    * guard's path containment sees through the nesting. Returns the
    * branch's version 1. */
  def branchCreate(s: SparkSession, tableDir: String, name: String,
      asOf: Int = Int.MaxValue): Int = {
    requireBranchName(name)
    val vs = versions(s, tableDir)
    require(vs.nonEmpty, s"branchCreate: no published version in $tableDir")
    // AS OF: fork from a RETAINED version instead of the latest —
    // reproduce the past, fix forward, publish as a rebase (everything
    // main committed since the fork counts as "main moved"). An
    // explicit version must be retained, exactly [[cloneTable]]'s rule.
    val forkV =
      if (asOf == Int.MaxValue) vs.last
      else {
        require(vs.contains(asOf),
          s"branchCreate: version $asOf of $tableDir is not a retained " +
            s"published version (retained: ${vs.mkString(",")})")
        asOf
      }
    val v = cloneTable(s, tableDir, branchDir(tableDir, name), forkV)
    val f = fs(s, tableDir)
    val out = f.create(forkFile(tableDir, name), false) // exclusive
    try out.write(forkV.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Branch names with a live fork marker under `<dir>/_branches`. */
  def branches(s: SparkSession, tableDir: String): Seq[String] = {
    val f = fs(s, tableDir)
    val root = new HPath(tableDir, "_branches")
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(".") && n.endsWith(".fork") =>
        n.stripPrefix(".").stripSuffix(".fork") }.sorted
  }

  /** PUBLISH a branch onto main as ONE atomic commit:
    *
    *  - FAST-FORWARD when main has not moved since the fork: main's
    *    next version replays the branch's full state (files, schema,
    *    deletion vectors, constraints, layout, NDV). Atomic by the
    *    optimistic publish — a commit racing the publish aborts it,
    *    and the retry re-validates (then rebases or refuses).
    *  - REBASE (file granularity — the DML conflict rule) when main
    *    moved: the branch's delta vs the fork (files added, files
    *    removed/rewritten) replays onto main's CURRENT file set,
    *    valid iff no file the branch removed was also removed on main
    *    (rewrite-rewrite = conflict), and neither side changed
    *    schema/constraints/layout in between. DELETION VECTORS
    *    compose by the same union law as concurrent [[deleteWhere]]:
    *    each side's vectors ADDED since the fork splice in (positions
    *    BOTH sides deleted are deduped into a fresh vector file so
    *    [[rowCount]]'s manifest arithmetic stays exact), vectors a
    *    side RETIRED (its absorb/overwrite rewrote every carrier
    *    file) drop — conflict only when a side's added vectors point
    *    INTO a file the OTHER side rewrote (those positions reference
    *    dead row numbering; the check is a distributed semi-join of
    *    the tiny vector parquets against the removed-path set, never
    *    a driver path collect). Every violation refuses LOUDLY naming
    *    the conflict; re-branch from the new main and re-apply.
    *    Rebased NDV is dropped (honest unknown — `GRAFT ANALYZE`
    *    repairs).
    *
    * Main references the branch's data files afterwards (zero-copy,
    * the shallow-clone caveat): keep the branch directory, or run a
    * full-rewrite op on main to migrate the bytes, before
    * [[dropBranch]]. The fork marker is consumed — the branch is
    * re-creatable after a drop. Returns main's new version. */
  def publishBranch(s: SparkSession, tableDir: String, name: String): Int = {
    requireBranchName(name)
    val f = fs(s, tableDir)
    require(f.exists(forkFile(tableDir, name)),
      s"publishBranch: no branch '$name' in $tableDir")
    val forkV = {
      val in = f.open(forkFile(tableDir, name))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
    require(versions(s, tableDir).contains(forkV),
      s"publishBranch: fork version $forkV of $tableDir expired " +
        "(vacuumed) — the branch's base is gone; re-branch from the " +
        "current state")
    val (_, mB) = snapshotAt(s, branchDir(tableDir, name)).getOrElse(
      throw new IllegalArgumentException(
        s"publishBranch: branch '$name' has no versions"))
    val mF = readManifest(s, tableDir, forkV)
    val v = commitLoop(s, tableDir, "publishBranch", replan = true) { (cur, pm) =>
      val mM = requirePublished(pm, "publishBranch", tableDir)
      // deterministic-interleave test point: a commit racing in HERE
      // (after the state read, before the publish) must abort the
      // planned fast-forward and replan it as a rebase
      beforePublishHook()
      val ffwd = cur == forkV && mM.entries == mF.entries &&
        mM.dels == mF.dels && mM.schema == mF.schema
      // the branch-side content and a vector dir written for this plan
      val (branchSide, spliceDir): (Prepared, Option[HPath]) =
        if (ffwd) (Prepared.of(mB), None)
        else {
          // file-granularity rebase: both sides' metadata must be
          // untouched since the fork, and the removed-file sets must
          // be disjoint (a file BOTH sides rewrote carries two
          // incompatible row versions)
          def fail(what: String): Nothing =
            throw new IllegalStateException(
              s"publishBranch: main moved since fork v$forkV and " +
                s"cannot rebase — $what; re-branch from the current " +
                "state and re-apply")
          if (mM.schema != mF.schema || mB.schema != mF.schema)
            fail("schema changed")
          if (mM.constraints != mF.constraints ||
            mB.constraints != mF.constraints) fail("constraints changed")
          if (mM.bucket != mF.bucket || mB.bucket != mF.bucket ||
            mM.partBy != mF.partBy || mB.partBy != mF.partBy ||
            mM.partEras != mF.partEras || mB.partEras != mF.partEras)
            fail("layout changed")
          val forkPaths = mF.paths.toSet
          val branchRemoved = forkPaths -- mB.paths.toSet
          val mainRemoved = forkPaths -- mM.paths.toSet
          val clash = branchRemoved.intersect(mainRemoved)
          if (clash.nonEmpty)
            fail(s"both sides rewrote ${clash.size} file(s), e.g. " +
              clash.head)
          // deletion vectors compose like concurrent deleteWhere —
          // union of what each side ADDED since the fork, minus what
          // a side RETIRED (its absorb rewrote every carrier, and the
          // carriers are in its removed set, clash-checked above) —
          // UNLESS a side's added vectors point into a file the OTHER
          // side rewrote: those positions reference replaced row
          // numbering, and splicing them would silently lose (or
          // misdirect) the delete. The check reads the tiny vector
          // parquets distributed and semi-joins against the removed
          // paths — never a driver path collect.
          val forkDels = mF.dels.toSet
          val addedBDels = mB.dels.filterNot(forkDels)
          val addedMDels = mM.dels.filterNot(forkDels)
          val retiredB = forkDels -- mB.dels.toSet
          def delConflict(vecs: Seq[FileEntry], removed: Set[String],
              who: String, whose: String): Unit =
            if (vecs.nonEmpty && removed.nonEmpty) {
              import s.implicits._
              val vecPaths = relationFor(s, tableDir, delSchema, vecs)
                .select("__path").distinct()
              val hits = vecPaths.join(
                removed.toSeq.toDF("__path"), Seq("__path"), "left_semi")
                .count()
              if (hits > 0)
                fail(s"$who deleted rows in $hits file(s) $whose " +
                  "rewrote since the fork — absorb deletes (or " +
                  "re-apply them) before publishing")
            }
          delConflict(addedBDels, mainRemoved, "the branch", "main")
          delConflict(addedMDels, branchRemoved, "main", "the branch")
          // positions BOTH sides deleted since the fork (two erasures
          // hitting the same rows — the expected concurrent-GDPR case)
          // would double-count in the manifest's row arithmetic
          // ([[rowCount]] subtracts vector ROW counts), so the
          // branch's additions splice MINUS the overlap, rewritten as
          // fresh vector files under main when any exists (the branch
          // keeps its originals). The fork's vectors can overlap
          // NEITHER side's additions — each side planned its deletes
          // with the inherited vectors applied, and a dead row is
          // never re-deleted — so only addedB × addedM needs the
          // check; both frames are vector-sized.
          val spliced: (Seq[FileEntry], Option[HPath]) =
            if (addedBDels.isEmpty || addedMDels.isEmpty)
              (addedBDels, None)
            else {
              val dfB = relationFor(s, tableDir, delSchema, addedBDels)
              val dfM = relationFor(s, tableDir, delSchema, addedMDels)
              if (dfB.join(dfM, Seq("__path", "__pos"), "left_semi")
                  .isEmpty) (addedBDels, None)
              else writeDelDir(s, tableDir,
                dfB.join(dfM, Seq("__path", "__pos"), "left_anti"))
                .map { case (dd, vecs) => (vecs, Some(dd)) }
                .getOrElse((Seq.empty, None))
            }
          val rebasedDels = mM.dels.filterNot(retiredB) ++
            spliced._1.filterNot(mM.dels.toSet)
          val branchAdded = mB.entries.filterNot(e => forkPaths.contains(e.path))
          val mainKept = mM.entries.filterNot(e => branchRemoved.contains(e.path))
          (Prepared.of(mB).copy(
            entries = (mainKept ++ branchAdded).sortBy(_.path),
            dels = rebasedDels, ndv = Map.empty), spliced._2)
        }
      // the state this publish was planned against must still be
      // current — a racing commit re-plans (ffwd may become a rebase, a
      // rebase re-merges) and drops the deduped vector dir written for
      // this plan
      Some(Plan(metadataRebase(mM) { m =>
        // idempotency watermarks stay MONOTONE across the merge: per
        // writer, the max of both sides
        val txns = (m.txns.keySet ++ mB.txns.keySet).map { w =>
          w -> math.max(m.txns.getOrElse(w, 0L), mB.txns.getOrElse(w, 0L))
        }.toMap
        branchSide.copy(txns = txns, dropped = m.dropped ++ mB.dropped,
          partBy = Some(mB.partBy), partEras = mB.partEras)
      }, () => spliceDir.foreach(f.delete(_, true))))
    }.get
    f.delete(forkFile(tableDir, name), false) // marker consumed
    v
  }

  /** DROP a branch: delete its directory and fork marker. Refused
    * while ANY retained main version still references a file under it
    * (published-but-unmigrated data — the same keep-set union
    * [[vacuum]] sweeps by: after a publish, main may compact so the
    * LATEST manifest drops the branch paths while an older retained
    * version still time-travels into them; dropping then would dangle
    * that history). Run a full-rewrite op on main AND vacuum past the
    * publish version first. Deletion-vector files count like data. */
  def dropBranch(s: SparkSession, tableDir: String, name: String): Unit = {
    requireBranchName(name)
    val f = fs(s, tableDir)
    val bDir = branchDir(tableDir, name)
    val marker = s"/_branches/$name/"
    versions(s, tableDir).find { v =>
      val m = readManifest(s, tableDir, v)
      (m.entries.iterator ++ m.dels.iterator).exists(_.path.contains(marker))
    }.foreach { v =>
      throw new IllegalArgumentException(
        s"dropBranch: retained version $v of main still references data " +
          s"under branch '$name' — compact/overwrite main to migrate " +
          "the bytes, then vacuum past that version, before dropping")
    }
    f.delete(new HPath(bDir), true)
    f.delete(forkFile(tableDir, name), false)
    ()
  }

  // ---------- tags: immutable named snapshot pins ----------

  private def tagFile(tableDir: String, name: String): HPath =
    new HPath(s"$tableDir/_tags", s"$name.tag")

  /** CREATE an immutable named pin on `version` (default: the latest)
    * — the dataset-reproducibility primitive (Iceberg's tag shape):
    * a `tag=<name>` read resolves to the pinned version forever, and
    * [[vacuum]] treats tagged versions as RETAINED — their manifest
    * and every file they reference survive any keep-count/age window
    * — until [[dropTag]] releases the pin. Create-exclusive like a
    * branch fork marker: a name exists once (drop to re-pin); the pin
    * is a tiny version file, zero data copied. Returns the pinned
    * version. */
  def createTag(s: SparkSession, tableDir: String, name: String,
      version: Option[Int] = None): Int = {
    requireBranchName(name) // same lexical rule as branch names
    val vs = versions(s, tableDir)
    require(vs.nonEmpty, s"createTag: no published version in $tableDir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"createTag: version $v of $tableDir is not retained (" +
        s"${vs.headOption.getOrElse("-")}..${vs.lastOption.getOrElse("-")})")
    val f = fs(s, tableDir)
    f.mkdirs(new HPath(tableDir, "_tags"))
    val out = f.create(tagFile(tableDir, name), false) // exclusive
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Every live tag: name -> pinned version. */
  def tags(s: SparkSession, tableDir: String): Map[String, Int] = {
    val f = fs(s, tableDir)
    val root = new HPath(tableDir, "_tags")
    if (!f.exists(root)) Map.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tag"))
      .map { st =>
        val in = f.open(st.getPath)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toInt finally in.close()
        st.getPath.getName.stripSuffix(".tag") -> v
      }.toMap
  }

  /** The version tag `name` pins; throws on an unknown tag. */
  def tagVersion(s: SparkSession, tableDir: String, name: String): Int =
    tags(s, tableDir).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' in $tableDir (tags: " +
        s"${tags(s, tableDir).keys.toSeq.sorted.mkString(",") match {
          case "" => "none"; case t => t }})"))

  /** The snapshot tag `name` pins, read under its own layout/schema. */
  def readTag(s: SparkSession, tableDir: String, name: String): DataFrame =
    readAsOf(s, tableDir, tagVersion(s, tableDir, name))

  /** DROP a tag: the pinned version re-joins the normal retention
    * rules (the next vacuum may expire it). */
  def dropTag(s: SparkSession, tableDir: String, name: String): Unit = {
    requireBranchName(name)
    val f = fs(s, tableDir)
    require(f.delete(tagFile(tableDir, name), false),
      s"dropTag: no tag '$name' in $tableDir")
    ()
  }

  /** RESTORE to an earlier version (the Delta `RESTORE TABLE ... TO
    * VERSION AS OF` shape): publish a NEW latest version whose manifest
    * replays version `version`'s state — file list, schema, deletion
    * vectors, bucket layout, CHECK constraints, and dropped-name
    * reservations. METADATA-ONLY (two manifest reads + one publish),
    * O(manifest) at any table size; nothing is rewritten and history
    * is preserved — the rolled-back versions stay time-travelable
    * until [[vacuum]] expires them, and because restore moves FORWARD
    * a crashed restore leaves the table untouched. The CURRENT
    * idempotent-txn set is carried (not the restored version's): a
    * replayed producer txn after a rollback must still deduplicate. */
  def restore(s: SparkSession, tableDir: String, version: Int): Int = {
    val vs = versions(s, tableDir)
    require(vs.contains(version),
      s"restore: version $version is not published in $tableDir " +
        s"(published: ${vs.mkString(",")})")
    val m = readManifest(s, tableDir, version)
    commitLoop(s, tableDir, "restore", replan = false) { (_, _) =>
      Some(Plan(pm => Some(Prepared.of(m).copy(
        txns = pm.map(_.txns).getOrElse(Map.empty[String, Long]),
        partBy = Some(m.partBy), partEras = m.partEras))))
    }.get
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` shape):
    * publish version 1 of `dstDir` whose manifest REFERENCES the
    * source snapshot's data files by their recorded absolute paths —
    * zero bytes copied, O(manifest) driver work, any table size. The
    * clone then evolves independently: appends, merges, deletes,
    * constraints, and maintenance all land under `dstDir` and never
    * touch the source (every destructive op here — [[vacuum]],
    * compaction swaps — only deletes under its OWN `tableDir/data`).
    * Deletion vectors, CHECK constraints, bucket layout, and dropped-
    * name reservations carry over with the snapshot.
    *
    * Caveat (identical to Delta's shallow clone): the clone borrows
    * the source's files, so a vacuum on the SOURCE that expires the
    * cloned-from version strands the clone — retain that version, or
    * run a full-rewrite op on the clone (compaction/overwrite) to
    * migrate the borrowed bytes into its own data dirs first. */
  def cloneTable(s: SparkSession, srcDir: String, dstDir: String,
      asOf: Int = Int.MaxValue): Int = {
    val m = retainedSnapshot(s, srcDir, asOf, "cloneTable")
    commitLoop(s, dstDir, "cloneTable", replan = false) { (_, _) =>
      Some(Plan { pm =>
        require(pm.isEmpty,
          s"cloneTable: destination $dstDir already has published versions")
        Some(Prepared.of(m).copy(txns = Map.empty,
          partBy = Some(m.partBy), partEras = m.partEras))
      })
    }.get
  }

  /** Schema introspection for the SQL doorway — one row per column of
    * the LATEST snapshot: logical name, type, PHYSICAL storage name
    * (differs from the logical one after a metadata-only rename),
    * Bloom declaration, and layout role (partition/bucket key). One
    * manifest read, zero data I/O — the view a SQL-only operator needs
    * to see what [[renameColumn]]/[[setBloomColumns]]/layout commits
    * actually recorded. */
  def describeColumns(s: SparkSession, tableDir: String): DataFrame = {
    import s.implicits._
    val (_, m) = requireSnapshot(s, tableDir, "describeColumns")
    val sc = m.schema
    // the SAME budgeted enumeration the stats pass uses, computed once
    // for the whole schema; `since >= 3` marks struct leaves (a
    // top-level atomic whose NAME contains a dot is since-2 and must
    // not be mistaken for one)
    val nested = statCols(sc).filter(_.since >= 3)
    sc.fields.toSeq.flatMap { f =>
      val role =
        if (m.partBy.contains(f.name)) "partition"
        else if (m.bucket.exists(_._2 == f.name))
          s"bucket(${m.bucket.get._1})"
        else ""
      val declaredLeaves = bloomLeafPaths(f).toSet
      // bloomDeclared, not the raw marker: a marker that rode onto a
      // non-hashable column must display as what collection will DO.
      // A struct column shows true when any LEAF path is declared, and
      // each stat-eligible LEAF gets its own row (dotted name, its own
      // type and Bloom flag) — exactly the paths GRAFT STATS serves.
      val top = (f.name, f.dataType.catalogString, physName(f),
        bloomDeclared(f) || declaredLeaves.nonEmpty, role)
      val leafRows =
        if (!f.dataType.isInstanceOf[StructType]) Nil
        else nested.filter(_.logical.startsWith(f.name + ".")).map { sp =>
          val rel = sp.logical.stripPrefix(f.name + ".")
          val lt = leafType(f.dataType, rel.split('.').toSeq)
          (sp.logical, lt.map(_.catalogString).getOrElse(""),
            sp.key, declaredLeaves.contains(rel), "")
        }
      top +: leafRows
    }.toDF("column", "data_type", "physical_name", "bloom", "layout_role")
  }

  /** The table's CHECK constraints (name → SQL expression). */
  def constraints(s: SparkSession, tableDir: String): Map[String, String] =
    snapshotAt(s, tableDir).fold(Map.empty[String, String])(_._2.constraints)

  /** Time travel by WALL-CLOCK time: the greatest version whose
    * recorded commit timestamp is <= `tsMillis` (the Delta
    * `TIMESTAMP AS OF` shape). Timestamps are the committing writer's
    * clock at publish; under clock skew resolution stays deterministic
    * — the maximum qualifying VERSION wins, so a later version with an
    * earlier (skewed) stamp can only widen, never corrupt, the answer.
    * Legacy manifests without a stamp sort before any stamped one.
    * O(retained versions) manifest reads — an inspection query, like
    * [[history]]. */
  def readAsOfTimestamp(s: SparkSession, tableDir: String,
      tsMillis: Long): DataFrame =
    readAsOf(s, tableDir, versionAtTimestamp(s, tableDir, tsMillis))

  /** The greatest version committed at or before `tsMillis` — the
    * wall-clock → version resolution every `TIMESTAMP AS OF` verb
    * shares. Refuses at BOTH temporal edges rather than flooring to
    * garbage (the Delta rule):
    *  - every retained commit is NEWER → the earliest state the table
    *    can serve is its earliest retained version, and silently
    *    serving it for an older timestamp would misrepresent history
    *    after a vacuum;
    *  - the timestamp is AFTER the newest retained commit →
    *    temporally unstable: "latest as of that future stamp" is
    *    whatever happens to be latest at call time, and the same
    *    query re-run after one more commit would silently resolve to
    *    a different version. Address the head explicitly (omit the
    *    clause, or `VERSION AS OF` the latest) instead. */
  def versionAtTimestamp(s: SparkSession, tableDir: String,
      tsMillis: Long): Int = {
    val vs = versions(s, tableDir)
    require(vs.nonEmpty, s"no published version in $tableDir")
    // MONOTONIZED stamps (the Delta rule): raw stamps are each writer's
    // own System.currentTimeMillis, so under multi-writer clock skew a
    // newer version can carry an OLDER stamp than a retained
    // predecessor. Resolution reads each version's effective stamp as
    // the running max of recorded stamps up to it — version order stays
    // the source of truth, and a request at or after an earlier
    // retained stamp can never be refused by a skewed later one. A
    // legacy unstamped version inherits its predecessor's effective
    // stamp (it cannot prove it committed later).
    val stamped = vs.map(v => v -> readManifest(s, tableDir, v).ts)
    var run = Option.empty[Long]
    val mono = stamped.map { case (v, ts) =>
      run = (run.toSeq ++ ts.toSeq).reduceOption((a: Long, b: Long) =>
        math.max(a, b))
      (v, run)
    }
    val qual = mono.collect { case (v, eff) if eff.getOrElse(0L) <= tsMillis => v }
    require(qual.nonEmpty,
      s"no version of $tableDir committed at or before $tsMillis " +
        s"(earliest retained commit is newer)")
    // legacy manifests without any stamp cannot prove instability — only
    // a RECORDED (monotonized) newest stamp strictly below the request
    // refuses
    mono.last._2.foreach(newest => require(tsMillis <= newest,
      s"timestamp $tsMillis is after the newest retained commit of " +
        s"$tableDir (stamped $newest) — temporally unstable: the " +
        "resolution would change as soon as another commit lands; " +
        "read the head without TIMESTAMP AS OF (or pin VERSION AS OF " +
        s"${mono.last._1})"))
    qual.max
  }

  /** Snapshot read: exactly the files version `asOf`'s manifest lists
    * (the greatest published version ≤ `asOf`), under that version's
    * recorded schema — files committed before a column was added read
    * NULL for it, and a version committed before the column existed
    * never shows it. */
  def readAsOf(s: SparkSession, tableDir: String, asOf: Int): DataFrame =
    snapshotFrame(s, tableDir, requireSnapshot(s, tableDir, "readAsOf", asOf)._2)

  /** The rows of the snapshot `m` describes — [[readAsOf]] for a
    * manifest already in hand. */
  private def snapshotFrame(s: SparkSession, tableDir: String,
      m: Manifest): DataFrame = {
    // the zero-RPC plan: file list, sizes, schema, zone maps, row
    // counts/NDV (as catalog statistics), and bucket layout all from the
    // manifest — constant driver cost no matter how many files,
    // pushed-down filters data-skip whole files, a bucketed layout
    // reports its hash partitioning, and join planning sees exact
    // cardinalities; outstanding deletion vectors subtract as one
    // anti-join. An EVOLVED table whose entries all belong to one era
    // plans under that era's scheme (not necessarily the current one —
    // new commits will be). A table spanning partition-scheme ERAS
    // reads one leg per era and claims neither table-wide statistics
    // nor a bucket layout for any leg.
    val oneEra = !m.mixedEras(m.entries)
    filesFrame(s, tableDir, m, m.entries, m.schema,
      m.bucket.filter(_ => oneEra), withStats = oneEra)
  }

  /** MERGE (upsert + delete) as a new snapshot version: rows of the
    * current snapshot whose `key` appears in `upserts` are replaced,
    * rows whose key appears in `deleteKeys` are removed, and all
    * `upserts` rows land — published as ONE atomic commit, so readers
    * see the pre-merge or post-merge table, never a mixture.
    *
    * Rewrite cost is SELECTIVE: one column-pruned key scan finds the
    * files that actually CONTAIN touched keys, only those are
    * rewritten (keyed anti-joins + the upserts), and every untouched
    * file is carried through the manifest by reference — at 100 TB a
    * merge touching 0.1% of keys rewrites ~0.1% of files, not the
    * table. Published with conflict detection: if ANY commit landed
    * since the merge planned (the live file set changed), the publish
    * aborts and the whole merge re-plans against the new state —
    * serializable read-modify-write, unlike a blind overwrite which
    * would silently drop a concurrent append. Falls back to the
    * full-rewrite overwrite for fresh/bucketed tables or when
    * the upsert schema diverges from the table's. */
  def merge(s: SparkSession, tableDir: String, upserts: DataFrame,
      deleteKeys: DataFrame, key: String): Int =
    mergeInternal(s, tableDir, upserts, deleteKeys, key, None).get

  /** Idempotent MERGE for replayable writers (a streaming `foreachBatch`
    * CDC apply): if `(txnId, txnVersion)` ever committed — same writer
    * at this version or newer — the call is a no-op returning None,
    * the [[commitIdempotent]] contract for merges (stable writer id +
    * monotone batch version for long-lived sinks; unique opaque id at
    * the default version 0 for one-shot writers). The watermark is
    * recorded ATOMICALLY with the merge commit (it rides the same
    * manifest publish), and the replay check re-runs on every
    * lost-race retry, so two zombie writers replaying the same batch
    * land it exactly once. */
  def mergeIdempotent(s: SparkSession, tableDir: String, upserts: DataFrame,
      deleteKeys: DataFrame, key: String, txnId: String,
      txnVersion: Long = 0L): Option[Int] =
    mergeInternal(s, tableDir, upserts, deleteKeys, key,
      Some((txnId, txnVersion)))

  /** [[mergeIdempotent]] with a caller-supplied touched-key set: a
    * consumer that already aggregated its feed per key (the keyed
    * FOLLOW apply) passes the COMPLETE distinct non-null key set of
    * `upserts` ∪ `deleteKeys` (≤ 1024 entries) so the merge skips its
    * own touched-set job. The set must be EXACT — a superset would
    * drop survivor rows whose keys were never upserted (data loss), a
    * subset would miss affected files; both are the caller's contract
    * to uphold, which is why this stays `private[sources]`. */
  private[sources] def mergeIdempotentKeyed(s: SparkSession,
      tableDir: String, upserts: DataFrame, deleteKeys: DataFrame,
      key: String, txnId: String, txnVersion: Long,
      touchedKeys: Seq[Any]): Option[Int] =
    mergeInternal(s, tableDir, upserts, deleteKeys, key,
      Some((txnId, txnVersion)), touchedKeys = Some(touchedKeys))

  private def mergeInternal(s: SparkSession, tableDir: String,
      upserts: DataFrame, deleteKeys: DataFrame, key: String,
      txn: Option[(String, Long)],
      touchedKeys: Option[Seq[Any]] = None): Option[Int] =
    // the replay check runs on every manifest the loop reads: a merge
    // whose conflicting commit WAS this txn (zombie writer) sees it
    // landed and returns the no-op
    commitLoop(s, tableDir, "merge", replan = true, txn = txn,
        kind = Some("merge")) { (_, pm) =>
      Some(pm match {
        // outstanding deletion vectors route to the full rewrite (the
        // snapshot read applies them; the overwrite retires them). A
        // hive-partitioned table takes the selective path even when
        // EMPTY (merge can bootstrap it — the rewrite re-lands under
        // hive dirs either way); a flat empty table keeps the cheaper
        // full path.
        case Some(m0) if m0.bucket.isEmpty && m0.dels.isEmpty &&
            (m0.entries.nonEmpty || m0.partBy.nonEmpty) &&
            upserts.columns.sorted.sameElements(m0.schema.fieldNames.sorted) =>
          mergeSelective(s, tableDir, m0, upserts, deleteKeys, key, txn,
            touchedKeys)
        case _ =>
          // the full-rewrite fallback would FLATTEN a hive layout —
          // refuse loudly (one site: exactly the conditions that did
          // not route selective above)
          pm.foreach(m0 => require(m0.partBy.isEmpty,
            s"merge: $tableDir uses the hive partition layout — " +
              "merging needs the selective path (upserts covering " +
              "the full schema, no outstanding deletion vectors, no " +
              "bucket layout); run absorbDeletes / align the upsert " +
              "columns, or relayout() to re-lay"))
          mergeFull(s, tableDir, pm, upserts, deleteKeys, key, txn)
      })
    }

  /** CDC apply with per-key event ordering — the streaming-upsert-sink
    * primitive: among `upserts` the row with the greatest `orderCols`
    * value (lexicographic struct comparison) wins per key, and it is
    * applied only when STRICTLY newer than the key's current row — so
    * replayed batches, out-of-order feeds, and late changes can never
    * regress committed state (the "apply if newer" contract of a CDC
    * consumer / compacted-topic materializer). Null-key upserts are
    * dropped (a CDC key is non-null by definition). Cost: one keyed
    * partial-agg over the batch + one column-pruned (key, orderCols)
    * scan of the table for the newer-than probe + the selective merge
    * — O(batch) compute against O(touched files) rewrite, never a
    * table rewrite. Returns the committed version; None when the txn
    * already landed. A no-op batch (nothing newer) still commits to
    * record its txn id. */
  def mergeLatest(s: SparkSession, tableDir: String, upserts: DataFrame,
      key: String, orderCols: Seq[String],
      txnId: Option[String] = None, txnVersion: Long = 0L): Option[Int] = {
    import org.apache.spark.sql.functions._
    require(orderCols.nonEmpty, "mergeLatest needs at least one order column")
    val txn = txnId.map(_ -> txnVersion)
    val m0 = snapshotAt(s, tableDir).map(_._2)
    if (txnLanded(m0, txn)) return None
    val ord = struct(orderCols.map(col): _*)
    val winners = upserts.filter(col(key).isNotNull)
      .groupBy(col(key).as("__k"))
      .agg(max_by(struct(upserts.columns.toIndexedSeq.map(col): _*), ord)
        .as("__r"))
      .select(col("__r.*"))
    val effective = m0.map(snapshotFrame(s, tableDir, _)) match {
      case None => winners
      case Some(cur) =>
        if (cur.columns.isEmpty) winners
        else {
          // the newer-than probe: winners are batch-sized, so the join
          // streams the (column-pruned) table past a broadcast of them.
          // A SMALL winner set is inlined as a literal IN-list first, so
          // on a key-clustered table the probe scan itself is zone-map
          // pruned to the candidate files (the mergeSelective discipline)
          // — a small CDC batch then probes file-sized data, not the
          // table
          val keys = winners.select(col(key)).limit(1025).collect()
            .map(_.get(0))
          val curPruned =
            if (keys.isEmpty) cur.filter(lit(false)) // no winners at all
            else if (keys.length <= 1024)
              cur.filter(col(key).isin(keys.toIndexedSeq: _*))
            else cur
          val curKeyed = curPruned.select(col(key).as("__ck"),
            struct(orderCols.map(col): _*).as("__cord"))
          winners.join(curKeyed, winners(key) === col("__ck"), "left")
            .filter(col("__cord").isNull || ord > col("__cord"))
            .drop("__ck", "__cord")
        }
    }
    mergeInternal(s, tableDir, effective,
      upserts.select(col(key)).filter(lit(false)), key, txn)
  }

  /** The full-rewrite merge plan against `m0` (fresh/bucketed tables,
    * outstanding deletion vectors, diverging upsert schema): anti-join
    * the whole current snapshot and land everything as one overwrite.
    * SERIALIZABLE like the selective path: the rewrite reads an exact
    * (file, vector) state and the rebase refuses — the caller re-plans —
    * if ANY commit (or constraint change) landed in between; a blind
    * overwrite here would silently drop a racing append. */
  private def mergeFull(s: SparkSession, tableDir: String, m0: Option[Manifest],
      upserts: DataFrame, deleteKeys: DataFrame, key: String,
      txn: Option[(String, Long)]): Plan = {
    import org.apache.spark.sql.functions.{col, lit}
    // merging into a fresh (or empty-snapshot) table: the current state
    // is the empty relation in the upserts' schema
    val cur = m0.map(snapshotFrame(s, tableDir, _))
      .filter(_.columns.nonEmpty).getOrElse(upserts.filter(lit(false)))
    // one anti-join against the union of upsert + delete keys instead
    // of two sequential anti-joins (one distinct exchange, identical
    // semantics — see the mergeSelective survivor rule)
    val kept = cur
      .join(upserts.select(col(key)).unionByName(deleteKeys.select(col(key)))
        .distinct(), Seq(key), "left_anti")
    val out = kept.unionByName(upserts)
    enforceConstraints(out, m0.map(_.constraints).getOrElse(Map.empty))
    // the full rewrite lands under LOGICAL names (marker indirections
    // end, like overwrite) but the table's Bloom DECLARATIONS carry —
    // taken from the MANIFEST schema by logical name, so the all-new
    // files recollect their Blooms in the same stats pass, exactly as
    // compact/mergeSelective/updateWhere do. Without this a bloom-
    // declared table's point-probe skipping silently degraded to
    // zone-map-only after every full merge until an explicit ANALYZE.
    val pubSchema = carryBloomDecls(stripPhys(storedSchema(out.schema)),
      m0.map(_.schema))
    val written = writeDataDir(s, tableDir, out, pubSchema)
    beforePublishHook()
    Plan({ pm =>
      // conflict: the rewrite read m0's files, vectors and schema and
      // validated against its constraints — a concurrent schema change
      // would otherwise be undone by the published schema
      if (pm.map(_.entries) != m0.map(_.entries) ||
          pm.map(_.dels) != m0.map(_.dels) ||
          pm.map(_.schema) != m0.map(_.schema) ||
          pm.map(_.constraints) != m0.map(_.constraints)) None
      // rows updated/deleted: the cumulative NDV sketch cannot subtract
      else Some(Prepared(written.entries, pubSchema,
        txnMerge(pm.map(_.txns).getOrElse(Map.empty), txn),
        None, Seq.empty,
        pm.map(_.constraints).getOrElse(Map.empty),
        pm.map(_.dropped).getOrElse(Set.empty),
        Map.empty[String, Seq[Long]]))
    }, written.discard)
  }

  /** The selective merge plan against manifest `m0`: its rebase
    * refuses any concurrent commit (the caller re-plans). */
  private def mergeSelective(s: SparkSession, tableDir: String, m0: Manifest,
      upserts: DataFrame, deleteKeys: DataFrame, key: String,
      txn: Option[(String, Long)],
      touchedKeys: Option[Seq[Any]]): Plan = {
    import org.apache.spark.sql.functions._
    val (sc0, es0) = (storedSchema(m0.schema), m0.entries)
    // only the upserts are NEW rows; carried/kept rows already passed
    enforceConstraints(upserts, m0.constraints)
    lazy val touched = upserts.select(col(key))
      .unionByName(deleteKeys.select(col(key))).distinct()
    // exact affected-file discovery: ONE column-pruned scan of the key
    // column against the touched set — file names reach the driver,
    // data never does. A SMALL touched set (the common CDC-apply case)
    // is inlined as a literal IN-list so the membership scan is itself
    // zone-map pruned: on a range-clustered table the scan then reads
    // only the candidate files, making a small merge metadata-bound end
    // to end. Larger sets fall back to the keyed semi-join (identical
    // EqualTo semantics either way, nulls never match in both forms).
    // Each partition-scheme era's files key-scan under their own layout
    // ([[filesFrame]]); the hive bootstrap of an EMPTY table scans one
    // empty relation (input_file_name needs a file source below it).
    val keyScan = (
      if (es0.isEmpty) relationFor(s, tableDir, sc0, es0, partBy = m0.partBy)
      else filesFrame(s, tableDir, m0, es0, sc0)
    ).select(input_file_name().as("__f"), col(key))
    // a caller-supplied COMPLETE key set (the keyed FOLLOW apply, which
    // already aggregated its feed per key) skips the touched-set job;
    // nulls are excluded there, which is behavior-identical — a NULL
    // literal matches nothing under isin, exactly as a null key matches
    // nothing in the semi/anti joins below
    val smallSet = touchedKeys match {
      case Some(ks) => ks.toArray
      case None => touched.limit(1025).collect().map(_.get(0))
    }
    val matched =
      if (smallSet.isEmpty) keyScan.filter(lit(false)) // nothing touched
      else if (smallSet.length <= 1024)
        keyScan.filter(col(key).isin(smallSet.toIndexedSeq: _*))
      else keyScan.join(touched, Seq(key), "left_semi")
    val affected = affectedFiles(matched.select(col("__f")), es0)
    // rows to rewrite: the affected files' survivors + every upsert (an
    // untouched file cannot contain a touched key BY CONSTRUCTION of
    // the membership scan, so survivors elsewhere stay on disk as-is)
    // affected files read under THEIR era's layout; the rewrite
    // re-lands under the CURRENT scheme (incremental era migration,
    // the updateWhere rule)
    val base = filesFrame(s, tableDir, m0, affected, sc0)
    // survivors: rows whose key is NOT touched. One anti-join against
    // the union of upsert + delete keys — the same `touched` set the
    // membership scan used — instead of two sequential anti-joins with
    // their own distinct exchanges (identical semantics: a key matches
    // the union iff it matches either side, and NULL-keyed rows match
    // neither in both shapes). When the touched set was SMALL enough
    // to come back complete (the IN-list fast path), the anti-join
    // collapses further to an exchange-free null-safe NOT-IN filter.
    // (a NULL in the touched set matches no row under anti-join
    // semantics, so it is dropped from the IN-list — a NULL literal in
    // NOT IN would otherwise null out every non-matching row)
    val keptSet = smallSet.filter(_ != null)
    val kept =
      if (smallSet.length <= 1024)
        // covers the empty set too (an all-null-key feed): no touched
        // key ⇒ every base row survives, matching the anti-join against
        // an empty touched set without planning one
        (if (keptSet.isEmpty) base
         else base.filter(col(key).isNull ||
           !col(key).isin(keptSet.toIndexedSeq: _*)))
      else base.join(touched, Seq(key), "left_anti")
    // a hive-partitioned table's rewrite re-lands under its directories
    // (an upsert that CHANGES a row's partition value migrates it to
    // the new value's dir naturally — the writer re-clusters by value)
    val written = writeDataDir(s, tableDir,
      kept.unionByName(upserts, allowMissingColumns = true)
        .select(sc0.fieldNames.map(col).toSeq: _*), sc0,
      partitionBy = m0.partBy)
    beforePublishHook()
    Plan(_.flatMap { m =>
      // serializability: the merge planned against m0's EXACT file and
      // deletion-vector state; any concurrent commit (append included —
      // its rows were not merged over; a deleteWhere — its vectors were
      // not applied to the rewrite; an addConstraint — the upserts were
      // not validated against it) invalidates the plan
      if (m.entries != m0.entries || m.dels != m0.dels ||
        m.constraints != m0.constraints) None
      else Some(Prepared.swap(m, affected.map(_.path).toSet, written.entries)
        .copy(txns = txnMerge(m.txns, txn),
          // rows updated/deleted: NDV unknown (no sketch subtraction)
          ndv = Map.empty))
    }, written.discard)
  }

  /** Changed-vector ROW threshold above which [[ChangeRange.changes]]
    * keeps the carried-file / changed-coverage intersection DISTRIBUTED
    * (a left-semi join of the diff legs against the changed vector
    * paths) instead of collecting the distinct paths to the driver.
    * The collect is right for the MOR common case (vector files are
    * tiny); a pathological DELETE touching millions of files would
    * materialize millions of path strings driver-side. A var, not a
    * conf: the spec forces the distributed path on a small table. */
  private[sources] var delDiffCollectRows: Long = 10000L

  /** A change-feed version range `(fromV, toV]`, the one value every
    * change-feed entry point derives from ([[readChanges]],
    * [[streamChangeBatch]] and `GRAFT CHANGES … TILED`,
    * [[followChanges]], [[streamBatch]]). Built from ONE `_commits`
    * listing: the `fromV` floor and the `toV` snapshot resolve once, an
    * expired `fromV` refuses here and nowhere else, and each manifest
    * decodes at most once (memoized by version; the per-commit
    * [[tiles]] share the listing and the memo). */
  private[sources] final class ChangeRange private[SnapshotTable] (
      s: SparkSession, tableDir: String, listing: Seq[Int],
      val fromV: Int, val toV: Int, op: String,
      memo: scala.collection.mutable.Map[Int, Manifest] =
        scala.collection.mutable.HashMap.empty[Int, Manifest]) {
    import org.apache.spark.sql.functions._
    require(fromV <= toV, s"$op: fromV $fromV > toV $toV")
    private val v1 = floorIn(listing, fromV)
    // fromV = 0 means "from genesis" (everything is an insert); any
    // OTHER unresolvable fromV is an EXPIRED version — vacuum dropped
    // the baseline, so the delta is uncomputable and reporting the
    // whole table as inserts would silently corrupt an incremental
    // consumer. Refuse, like any CDF over a vacuumed range.
    require(fromV == 0 || v1.nonEmpty, s"$op: version $fromV expired (retained: " +
      s"${listing.headOption.getOrElse("-")}..${listing.lastOption.getOrElse("-")}) in $tableDir")
    private val v2 = floorIn(listing, toV).getOrElse(throw
      new IllegalArgumentException(s"$op: no published version <= $toV in $tableDir"))
    private val commits = listing.filter(v => v > fromV && v <= toV)
    private def manifest(v: Int): Manifest =
      memo.getOrElseUpdate(v, readManifest(s, tableDir, v))
    private lazy val m1 = v1.map(manifest)
    private lazy val m2 = manifest(v2)
    private lazy val paths1 = m1.fold(Set.empty[String])(_.paths.toSet)
    private lazy val addedEntries =
      m2.entries.filterNot(e => paths1.contains(e.path))

    /** `toV`'s stored schema: the columns the feed serves. */
    lazy val schema: StructType = storedSchema(m2.schema)

    /** A pure APPEND CHAIN: every `fromV` file carried by reference and
      * the deletion vectors untouched (a delete keeps the file set, so
      * it must not pass; a rewrite renames files, so a net subset check
      * is sound). Its delta is exactly the added files, inserts only. */
    lazy val appendChain: Boolean = paths1.subsetOf(m2.paths.toSet) &&
      m1.fold(Seq.empty[FileEntry])(_.dels) == m2.dels

    /** The rows of the files `toV` holds and `fromV` did not, under
      * `toV`'s deletion vectors, so a row added and deleted inside the
      * range does not serve (no vector points into an append chain's
      * added files). Each scheme era reads under its own layout. */
    def added: DataFrame = filesFrame(s, tableDir, m2, addedEntries, schema,
      withDels = !appendChain)

    /** The per-commit sub-ranges `fromV→c1, c1→c2, …`. */
    lazy val tiles: Seq[ChangeRange] =
      ((fromV +: commits.dropRight(1)) zip commits).map { case (a, b) =>
        new ChangeRange(s, tableDir, listing, a, b, op, memo) }

    /** The deletion-vector files of exactly one side. */
    private lazy val symDels: Seq[FileEntry] = {
      val (d1, d2) = (m1.fold(Set.empty[FileEntry])(_.dels.toSet), m2.dels.toSet)
      ((d1 diff d2) ++ (d2 diff d1)).toSeq
    }

    // a range covering EXACTLY one commit whose recorded kind is
    // "update" ([[nextManifest]]'s `#kind:` stamp) serves its diff legs
    // as PAIRED update images — `update_preimage` / `update_postimage`,
    // the Delta CDF convention — so a downstream merge/upsert consumer
    // can key the two sides of the UPDATE instead of treating it as an
    // unkeyed retract+assert. Multi-commit ranges keep insert/delete:
    // their diff is a NET multiset delta across unrelated commits, for
    // which update pairing would be a false claim. The streaming feed
    // reads single-commit [[tiles]], so every streamed UPDATE is paired.
    private lazy val updatePair =
      m2.kind.contains("update") && commits == Seq(v2)

    /** THE change-feed column alignment: `df`, read under manifest
      * schema `own`, served under `target`'s columns — matched by
      * LOGICAL name first (stable across rewrites), physical storage
      * name second (stable across renames); a column `own` has under
      * neither identity reads NULL, a widened one casts up. */
    private def align(df: DataFrame, own: StructType,
        target: StructType): DataFrame =
      df.select(target.fields.toIndexedSeq.map { f =>
        own.fields.find(_.name == f.name)
          .orElse(own.fields.find(g => physName(g) == physName(f)))
          .map(g => col(g.name).cast(f.dataType)
            .as(f.name, org.apache.spark.sql.types.Metadata.empty))
          .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }: _*)

    private def tag(df: DataFrame, t: String): DataFrame =
      df.select(lit(t).as("change_type") +: df.columns.toIndexedSeq.map(col): _*)

    /** The [[readChanges]] feed of this range under `target`'s columns
      * (default: `toV`'s); an empty range has the same schema. */
    def changes(target: StructType = schema): DataFrame = {
      lazy val none = align(filesFrame(s, tableDir, m2, Nil, schema), schema, target)
      lazy val empty = tag(none, "insert").filter(lit(false))
      if (commits.isEmpty) empty
      else if (appendChain)
        if (addedEntries.isEmpty) empty else tag(align(added, schema, target), "insert")
      else {
        // a rewrite (or delete) happened in between: exact multiset
        // diff, both versions ALIGNED to `target` so evolution can't
        // skew it, each under its OWN deletion vectors and read under
        // its OWN schema, whose physical markers are the valid mapping
        // for ITS files (toV's markers may be gone if the in-between
        // rewrite materialized a rename).
        //
        // O(CHANGED FILES), never O(table): a file carried through BY
        // REFERENCE with unchanged deletion-vector coverage serves the
        // IDENTICAL row multiset on both sides and cancels exactly, so
        // the diff legs read only the files the rewrite removed/added,
        // plus carried files whose del coverage changed (their paths
        // come from the symmetric-difference VECTOR files — tiny by the
        // MOR-delete design). A 100 TB table whose UPDATE touched 0.1%
        // of files diffs 0.2% of bytes.
        //
        // Those carried files normally resolve DRIVER-side (distinct
        // paths of the changed-vector files). Above
        // [[delDiffCollectRows]] changed vector rows the intersection
        // stays DISTRIBUTED instead: carried entries ride the diff legs
        // and a LEFT SEMI join against the changed vector paths keeps
        // only the files whose coverage moved — same multiset, zero
        // driver materialization.
        val distributedDelDiff = symDels.nonEmpty &&
          symDels.map(_.rows.getOrElse(0L)).sum > delDiffCollectRows
        lazy val changedVecPaths =
          relationFor(s, tableDir, delSchema, symDels).select("__path").distinct()
        val delsChangedPaths: Set[String] =
          if (symDels.isEmpty || distributedDelDiff) Set.empty
          else changedVecPaths.collect().map(_.getString(0)).toSet
        val paths2 = m2.paths.toSet
        val carriedPaths = paths1.intersect(paths2)
        val affected: Set[String] = (paths1 -- paths2) ++ (paths2 -- paths1) ++
          carriedPaths.intersect(delsChangedPaths)
        if (affected.isEmpty && !distributedDelDiff) return empty
        def side(m: Manifest): DataFrame = {
          val osc = storedSchema(m.schema)
          val es = m.entries.filter(e => affected.contains(e.path))
          val carried =
            if (!distributedDelDiff) Nil
            else m.entries.filter(e => carriedPaths.contains(e.path))
          // each scheme era reads under its own directory layout, dels
          // subtracted ([[filesFrame]]); the distributed carried leg
          // keeps the positional identity for ONE semi-join
          val direct =
            if (es.isEmpty) None else Some(filesFrame(s, tableDir, m, es, osc))
          val semi =
            if (carried.isEmpty) None
            else Some(filesFrame(s, tableDir, m, carried, osc, positions = true)
              .join(changedVecPaths, Seq("__path"), "left_semi")
              .drop("__path", "__pos"))
          align((direct.toSeq ++ semi.toSeq).reduceOption(_.unionByName(_))
            .getOrElse(filesFrame(s, tableDir, m, Nil, osc)), osc, target)
        }
        diffLegs(s, side(m2), m1.fold(none)(side),
          if (updatePair) "update_postimage" else "insert",
          if (updatePair) "update_preimage" else "delete")
      }
    }
  }

  /** Change feed between two published versions — every row added or
    * removed going `fromV` → `toV`, tagged `change_type`
    * ('insert' / 'delete'; a single-commit UPDATE range pairs them as
    * 'update_preimage' / 'update_postimage'), under `toV`'s schema:
    * the consumer shape for incremental downstreams (MV refresh, index
    * append, CDC export) that must not rescan the table.
    *
    * Cost model: when the older file set survives intact in the newer
    * manifest (an append CHAIN — the streaming-sink common case), the
    * delta is EXACTLY the added files: zero compute, the scan reads
    * only the new data. Any rewrite in between (overwrite, merge,
    * compaction) falls back to a multiset diff ([[diffLegs]]), so
    * row-preserving rewrites like compaction correctly produce an
    * EMPTY feed rather than a spurious full-table churn. */
  def readChanges(s: SparkSession, tableDir: String, fromV: Int,
      toV: Int): DataFrame =
    new ChangeRange(s, tableDir, versions(s, tableDir), fromV, toV,
      "readChanges").changes()

  /** Both multiset-diff legs from ONE shared aggregation:
    * `b.exceptAll(a)` tagged `postTag` unioned with `a.exceptAll(b)`
    * tagged `preTag`, exactly (Spark's RewriteExceptAll rewrite is a
    * ±1-tagged union, a grouped sum, and a ReplicateRows generate —
    * run here ONCE with both signs served from the same grouped sum,
    * where two independent exceptAll calls each build their own union
    * and shuffle it separately). The diff legs scan each side once
    * instead of twice and shuffle one exchange instead of two — on a
    * 100 TB table's DML diff that halves the dominant cost; the two
    * leg reads share the exchange via ReuseExchange/AQE. */
  private def diffLegs(s: SparkSession, b: DataFrame, a: DataFrame,
      postTag: String, preTag: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, GreaterThan, Literal, ReplicateRows}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Generate, Project => LProject}
    import org.apache.spark.sql.functions._
    val cols = b.columns.toIndexedSeq
    // derive a collision-free counter name (the exceptAll path this
    // replaced handled tables with any column names — a require here
    // would regress them)
    val cnt = Iterator.from(0).map {
      case 0 => "__graft_diff_n"
      case i => s"__graft_diff_n$i"
    }.find(n => !cols.contains(n)).get
    val counted = b.select(cols.map(col) :+ lit(1L).as(cnt): _*)
      .unionByName(a.select(cols.map(col) :+ lit(-1L).as(cnt): _*))
      .groupBy(cols.map(col): _*).agg(sum(col(cnt)).as(cnt))
    // each leg: net count of the right sign, every surviving row
    // replicated |net| times (the RewriteExceptAll generate shape —
    // streaming replication, no per-row array materialization)
    def leg(signed: org.apache.spark.sql.Column, t: String): DataFrame = {
      val side = counted.select((signed.cast("long").as(cnt) +:
        cols.map(col)): _*)
      val plan = side.queryExecution.analyzed
      val nAttr = plan.output.head
      val dataAttrs = plan.output.tail
      val genOut = dataAttrs.map(attr => AttributeReference(
        attr.name, attr.dataType, attr.nullable)())
      val gen = Generate(
        ReplicateRows(nAttr +: dataAttrs),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = genOut,
        LFilter(GreaterThan(nAttr, Literal(0L)), plan))
      val rows = org.apache.spark.sql.GraftSqlShim.ofRows(s,
        LProject(genOut.map(ar => Alias(ar, ar.name)()), gen))
      rows.select(lit(t).as("change_type") +: cols.map(col): _*)
    }
    leg(col(cnt), postTag).unionByName(leg(-col(cnt), preTag))
  }

  /** One CHANGE-FEED streaming micro-batch: the row-level changes of
    * every published version in `(fromV, toV]`, one per-commit tile
    * each ([[ChangeRange.tiles]] — appends plan as pure added-file
    * scans, DML as the honest multiset diff), tagged `_commit_version`
    * and aligned straight to `toV`'s schema, so a tile predating a
    * metadata-only RENAME is relabeled by physical storage name, never
    * null-filled. Deterministic for a fixed range: a restarted stream
    * replaying `(fromV, toV]` re-emits exactly the same rows. */
  private[sources] def streamChangeBatch(s: SparkSession, tableDir: String,
      fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val r = new ChangeRange(s, tableDir, versions(s, tableDir), fromV, toV,
      "change feed")
    (if (r.tiles.isEmpty) Seq(r) else r.tiles).map { t =>
      t.changes(r.schema).select(col("*"), lit(t.toV.toLong).as("_commit_version"))
    }.reduce(_.union(_))
  }

  /** Incremental consumption of a snapshot table with a durable cursor:
    * reads the change feed from the last-processed version (persisted
    * at `cursorPath`) to the current latest, hands it to `f`, and
    * advances the cursor ONLY AFTER `f` returns — so a consumer that
    * crashes mid-apply REPLAYS the same `(from, to]` range on restart.
    * That is at-least-once into `f`; pairing it with an idempotent
    * apply (e.g. [[commitIdempotent]] into a downstream table with the
    * range as the txn id — the composition `SnapshotChangesSpec`
    * proves) yields exactly-once end to end, the
    * checkpoint/foreachBatch discipline without a streaming runtime.
    * Returns the processed `(from, to]` range, None when caught up.
    * Single consumer per cursor by contract (the cursor is plain
    * read/write state, like a Kafka consumer-group offset). */
  def followChanges(s: SparkSession, tableDir: String, cursorPath: String)(
      f: (DataFrame, Int, Int) => Unit): Option[(Int, Int)] =
    followRange(s, tableDir, cursorPath)(r => f(r.changes(), r.fromV, r.toV))

  /** [[followChanges]] handing `f` the [[ChangeRange]] itself, built
    * from the one listing that found the latest version — so a
    * consumer can test [[ChangeRange.appendChain]] without listing or
    * decoding again (the SQL FOLLOW doorway). */
  private[sources] def followRange(s: SparkSession, tableDir: String,
      cursorPath: String)(f: ChangeRange => Unit): Option[(Int, Int)] = {
    val fsys = fs(s, tableDir)
    val cp = new HPath(cursorPath)
    val from: Int =
      if (!fsys.exists(cp)) 0
      else {
        val in = fsys.open(cp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      }
    val listing = versions(s, tableDir)
    val to = listing.lastOption.getOrElse(0)
    if (to <= from) return None
    // Gate the cursor's filesystem BEFORE consuming: on a scheme whose
    // overwrite-rename is copy/delete the advance below would refuse
    // anyway — refusing only AFTER f() ran would burn the delta read and
    // the caller's side effects on every retry and leak a .tmp cursor
    // file on a filesystem vacuum() never sweeps.
    val scheme = Option(cp.toUri.getScheme).getOrElse(fsys.getScheme)
    if ("file" != scheme) requireAtomicRenameScheme(scheme)
    f(new ChangeRange(s, tableDir, listing, from, to, "followChanges"))
    val tmp = new HPath(cp.getParent, s".${cp.getName}.tmp")
    val out = fsys.create(tmp, true)
    try out.write(to.toString.getBytes("UTF-8")) finally out.close()
    // The advance must be a SINGLE atomic replace: a delete-then-rename
    // pair crashed in between would reset the cursor to genesis, and the
    // replayed txn id embeds the range ((0,to] vs (from,to]) — so the
    // "idempotent downstream" composition would re-apply already-consumed
    // changes under a FRESH txn id. POSIX rename(2) (local) and the HDFS
    // namenode's overwrite rename are both atomic replaces.
    if ("file" == Option(cp.toUri.getScheme).getOrElse(fsys.getScheme)) {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      Files.move(
        Paths.get(fsys.makeQualified(tmp).toUri.getPath),
        Paths.get(fsys.makeQualified(cp).toUri.getPath),
        StandardCopyOption.ATOMIC_MOVE)
    } else {
      // Scheme already gated before the consume (same check as the
      // publish path — an object-store AbstractFileSystem implements
      // Rename.OVERWRITE as copy/delete, reintroducing the exact
      // non-atomic window this branch exists to close; the cursor can
      // live on a DIFFERENT filesystem than the table, so the
      // publish-time check does not cover it).
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        cp.toUri, s.sparkContext.hadoopConfiguration)
      fc.rename(fsys.makeQualified(tmp), fsys.makeQualified(cp),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    Some((from, to))
  }

  /** The manifest-planned snapshot as a [[org.apache.spark.sql.sources.BaseRelation]]
    * — the batch half of the `graft-snapshot` data-source format
    * ([[SnapshotSourceProvider]]): zero-RPC planning, zone-map
    * skipping, and bucket partitioning all intact through the standard
    * `spark.read.format(...)` doorway. */
  private[sources] def baseRelation(s: SparkSession, tableDir: String,
      asOf: Int): org.apache.spark.sql.sources.BaseRelation = {
    val (_, m) = requireSnapshot(s, tableDir, "relation doorway", asOf)
    val (sc, es) = (m.schema, m.entries)
    requireSingleEra(m, "relation doorway")
    require(m.dels.isEmpty,
      s"snapshot table $tableDir has outstanding deletion vectors — the bare " +
        "relation doorway cannot subtract them; read via SnapshotTable.readAsOf " +
        "or run absorbDeletes first")
    // a BaseRelation exposes ONE schema with no projection on top, so it
    // cannot alias physical storage names back to renamed logical ones —
    // refuse rather than serve all-NULL renamed columns (the same
    // honest-refusal contract as the vector check above); a full rewrite
    // (overwrite/relayout) retires the indirection and reopens this door
    require(renamesOf(sc).isEmpty,
      s"snapshot table $tableDir has renamed columns " +
        s"(${renamesOf(sc).map { case (l, p) => s"$p->$l" }.mkString(",")}) " +
        "— the bare relation doorway cannot alias physical names; read " +
        "via SnapshotTable.readAsOf, or relayout()/overwrite to " +
        "materialize the rename")
    // Spark builds the LogicalRelation on this path, so the manifest's
    // catalog statistics ride the FileIndex and the injected optimizer
    // rule attaches them; install the rule on the session idempotently
    org.apache.spark.sql.graft.GraftManifestStatsRule.install(s)
    fsRelation(s, tableDir, sc, es, m.bucket, m.partBy,
      catalogStats(s, tableDir, sc, es, Some(m)))
  }

  /** The latest snapshot's recorded schema, if any — what a streaming
    * read fixes its output schema to. */
  private[sources] def tableSchema(s: SparkSession,
      tableDir: String): Option[StructType] =
    snapshotAt(s, tableDir).map(_._2.schema)
      // marker-free: the stream's FIXED output schema must match the
      // batches relationFor serves (whose aliases carry empty metadata)
      .map(sc => stripPhys(storedSchema(sc)))

  /** One streaming micro-batch of a snapshot table: the rows ADDED
    * going version `fromV` → `toV` ([[ChangeRange.added]]). A rewrite
    * in between (overwrite/merge/compaction/delete) breaks append
    * semantics: refused unless `ignoreChanges`, which then emits the
    * new/rewritten files' live rows (rewritten survivors re-emit — the
    * documented Delta `ignoreChanges` contract — but a row the table no
    * longer holds never does). */
  private[sources] def streamBatch(s: SparkSession, tableDir: String,
      fromV: Int, toV: Int, ignoreChanges: Boolean): DataFrame = {
    val r = new ChangeRange(s, tableDir, versions(s, tableDir), fromV, toV,
      "snapshot stream")
    require(r.appendChain || ignoreChanges,
      s"snapshot stream: $tableDir was REWRITTEN (overwrite/merge/compaction/" +
        s"delete) between versions $fromV and $toV — append semantics broken; " +
        "pass option ignoreChanges=true to stream new/rewritten files anyway")
    r.added
  }

  /** Metadata-only row count of a snapshot: the per-file row counts the
    * manifest already carries, summed — no scan, no Spark job, O(1)
    * filesystem reads. None when any entry carries no row count (a
    * commit with no stat-eligible column) — callers fall back to
    * `count()`. */
  def rowCount(s: SparkSession, tableDir: String, asOf: Int): Option[Long] =
    liveRows(requireSnapshot(s, tableDir, "rowCount", asOf)._2)

  /** Σ entry rows − deleted rows; None when an entry has no row count.
    * Deletion vectors subtract exactly: each position is deleted at
    * most once ([[deleteWhere]] matches the del-applied read). */
  private def liveRows(m: Manifest): Option[Long] = {
    val rs = m.entries.map(_.rows)
    if (rs.exists(_.isEmpty)) None else Some(rs.flatten.sum - m.delRowCount)
  }

  /** Table history as a DataFrame — one row per RETAINED version with
    * its OPERATION kind (the `#kind:` commit stamp — append/overwrite/
    * delete/update/merge/compact; null for metadata-only and
    * pre-stamp commits), file count, LIVE row count (null pre-stats;
    * deletion vectors subtracted), total bytes, cumulative txn count,
    * bucket layout, and outstanding deleted-row count: the `DESCRIBE
    * HISTORY` inspection surface, answered from manifests alone (no
    * data I/O). */
  def history(s: SparkSession, tableDir: String): DataFrame = {
    import s.implicits._
    versions(s, tableDir).map { v =>
      val m = readManifest(s, tableDir, v)
      (v, m.kind, m.entries.size.toLong, liveRows(m),
        m.entries.map(_.status.getLen).sum, m.txns.size.toLong,
        m.bucket.map { case (n, c) => s"$n:$c" }, m.delRowCount, m.ts)
    }.toDF("version", "operation", "n_files", "n_rows", "total_bytes",
      "n_txns", "bucket", "n_del_rows", "commit_ts")
      .orderBy(org.apache.spark.sql.functions.col("version"))
  }

  /** The PLANNER-visible catalog statistics of a snapshot — exactly
    * what [[readAsOf]]'s relation serves Catalyst under
    * CBO/planStats: exact table row count, and per stat-eligible
    * column the KMV NDV estimate, null count, avg string byte width,
    * and the table-level min/max in Spark's catalog external-string
    * form (ISO strings for date/timestamp, digits for the rest). The
    * SQL doorway (`GRAFT DESCRIBE STATS`) for verifying what join and
    * filter planning actually sees without reading manifests by hand.
    * One manifest read, zero data I/O. Columns with an unknowable
    * field (legacy files, sketch dropped by a row-removing op,
    * unstorable bounds) read NULL there — the same degradation the
    * planner sees. Refused when a file entry has no row count (there
    * are no planner stats to describe). */
  def plannerStats(s: SparkSession, tableDir: String,
      asOf: Int = Int.MaxValue): DataFrame = {
    import s.implicits._
    val m = retainedSnapshot(s, tableDir, asOf, "plannerStats")
    val (sc, es) = (m.schema, m.entries)
    // the catalog keys on PHYSICAL names (as the scan relation does);
    // this user-facing view reports the LOGICAL ones
    val cat = catalogStats(s, tableDir, physicalSchema(sc), es, Some(m))
      .getOrElse(throw new IllegalArgumentException(
        s"plannerStats: a file entry predates row-count collection in " +
          s"$tableDir — the planner sees size-only stats here"))
    val st = cat.stats.get
    val rows = sc.fields.toSeq.flatMap(f =>
      st.colStats.get(physName(f)).map { c =>
      (f.name, f.dataType.catalogString,
        st.rowCount.map(_.toLong),
        c.distinctCount.map(_.toLong), c.nullCount.map(_.toLong),
        c.avgLen, c.min, c.max)
    })
    rows.toDF("column", "data_type", "row_count", "distinct_count",
      "null_count", "avg_len", "min", "max")
  }

  /** Driver-side twin of the stats pass's KMV value hash —
    * `CAST(conv(substring(md5(canon), 1, 15), 16, 10) AS BIGINT)` —
    * so [[analyze]] can sketch partition-column NDV from the manifest's
    * recorded values without reading a byte (partition columns are not
    * stored in the data files). */
  private def kmvValueHash(canon: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** ANALYZE — recollect a snapshot's per-file zone maps and table NDV
    * sketches from the LIVE data and publish them as a STATS-ONLY
    * commit (same files, same schema, same layout; only the planning
    * metadata changes). The repair op for every honest degradation the
    * format accumulates:
    *  - [[merge]]/[[deleteWhere]]-rewrites drop the NDV sketch ("a
    *    bottom-k sketch cannot subtract") — without ANALYZE a table
    *    that ever saw DML loses catalog NDV, and its
    *    broadcast-vs-shuffle decisions, FOREVER;
    *  - files written before a column type became stat-eligible (or
    *    under a gated collection) carry no bounds — ANALYZE reads them
    *    and makes the manifest uniformly stat-bearing (coverage-marked,
    *    so [[metaAgg]]/CBO regain `bounds_exact`).
    * Cost: ONE Spark job over the live files — the per-file stats fold
    * every commit runs inside its write job ([[StatsFold]]), here over
    * a scan keyed by file, so O(table) because the table is the batch —
    * plus O(manifest) driver work — partition-column
    * stats and NDV are synthesized from the manifest's recorded
    * directory values, zero extra reads. Declared [[setBloomColumns]]
    * columns are (re)collected too — ANALYZE is also the Bloom
    * backfill for files that predate the declaration.
    *
    * Refused (None, not an error) on: outstanding deletion vectors
    * (per-file stats would describe dead rows — run [[absorbDeletes]]
    * first), empty snapshots, and on conflict with ANY concurrent commit (the
    * [[compact]] optimistic discipline — re-run to analyze the new
    * state). */
  def analyze(s: SparkSession, tableDir: String): Option[Int] = {
    import org.apache.spark.sql.functions._
    def plan(m0: Manifest): Option[Plan] = {
      if (m0.dels.nonEmpty) return None // absorbDeletes first
      if (!eraUniform(m0)) return None // superseded-era files: relayout first
      val (sc0, es0) = (storedSchema(m0.schema), m0.entries)
      if (es0.isEmpty) return None
      val partFields = m0.partBy.flatMap(c => sc0.fields.find(_.name == c))
      // the files store PHYSICAL names — read and (re)key stats on them
      val dataSchema = physicalSchema(StructType(
        sc0.fields.filterNot(f => m0.partBy.contains(f.name))))
      // ONE job over the live files: the per-file stats fold (the same
      // inputs and fold every commit runs inside its write job) on a scan
      // of the manifest's entries keyed by input file — no listing, no
      // hive discovery, no shuffle. Partition columns are not stored in
      // the files: synthesized below from the manifest.
      val scan = s.baseRelationToDataFrame(
        fsRelation(s, tableDir, dataSchema, es0, None, Nil))
      val bloomCols = bloomPhysCols(sc0)
      val (probe, fold) = statsFold(scan,
        statCols(dataSchema) ++ mapStatPaths(dataSchema, mapStatDecls(sc0)) ++
          arrayElemStatPaths(dataSchema, bloomCols),
        bloomCols, prefix = Seq(input_file_name()))
      val qe = probe.queryExecution
      val perTask = org.apache.spark.sql.execution.SQLExecution
        .withNewExecutionId(qe, Some("analyze")) {
          qe.toRdd.mapPartitions { it =>
            val files = scala.collection.mutable.HashMap.empty[String, FileFold]
            // a scan task reads each file's rows contiguously
            var file: org.apache.spark.unsafe.types.UTF8String = null
            var cur: FileFold = null
            it.foreach { r =>
              if (r.getUTF8String(0) != file) {
                file = r.getUTF8String(0).clone()
                cur = files.getOrElseUpdate(file.toString, fold.newFile())
              }
              fold.update(cur, r)
            }
            Iterator.single(files.toMap)
          }.collect()
        }
      // a file split across scan tasks folds once per task: merge
      val (fileMap, dataNdv) = fold.result(perTask.toSeq.flatten
        .groupMapReduce(kv => new HPath(kv._1).toUri.getPath)(_._2)(fold.merge))
      // partition-column stats, synthesized per entry from its recorded
      // value tuple: min = max = the value (constant within a file),
      // nulls = rows for the null partition — exact, zero data reads
      def partLong(dt: DataType, v: String): Long = dt match {
        case org.apache.spark.sql.types.DateType =>
          java.time.LocalDate.parse(v).toEpochDay
        case _ => v.toLong
      }
      def partStat(f: StructField, level: Int, e: FileEntry,
          rows: Long): (String, ColStat) = {
        val kind = statKind(f.dataType).get // part types are all eligible
        f.name -> (e.part.flatMap(_.lift(level)).flatten match {
          case Some(value) =>
            val stored: Any =
              if (kind == 'l') partLong(f.dataType, value)
              else value.getBytes("UTF-8")
            ColStat(kind, Some(stored), Some(stored), 0L,
              bytes = if (kind == 's')
                Some(value.getBytes("UTF-8").length * rows) else None)
          case None => ColStat(kind, None, None, rows)
        })
      }
      val partNdv = partFields.zipWithIndex.map { case (f, i) =>
        val hashes = es0.flatMap(_.part.flatMap(_.lift(i)).flatten).distinct
          .map { v =>
            val canon = if (statKind(f.dataType).contains('l'))
              partLong(f.dataType, v).toString else v
            kmvValueHash(canon)
          }
        f.name -> hashes.distinct.sorted
          .take(graft.functions.KmvDistinctAgg.K).toSeq
      }.toMap
      // fresh stats for every entry; its era tag retires with the
      // single-era table's history
      val entries = es0.map { e =>
        fileMap.get(e.status.getPath.toUri.getPath) match {
          case Some((rows, cols)) =>
            val partCols = partFields.zipWithIndex.map { case (f, i) =>
              partStat(f, i, e, rows) }
            e.copy(rows = Some(rows), stats = cols ++ partCols,
              statsVer = Some(statsMarkerVersion(dataSchema)), era = None)
          // a file the fold saw no row of holds zero rows
          case None => e.copy(rows = Some(0L), stats = Map.empty,
            statsVer = None, era = None)
        }
      }.sortBy(_.path)
      Some(Plan(_.flatMap { m =>
        // the pass read exactly m0's file set; any concurrent commit (or
        // a racing delete) invalidates what was measured
        if (m.entries != m0.entries || m.dels.nonEmpty) None
        else Some(Prepared.of(m).copy(entries = entries,
          ndv = dataNdv ++ partNdv))
      }))
    }
    commitLoop(s, tableDir, "analyze", replan = false) { (_, pm) =>
      pm.flatMap(plan) }
  }

  /** Metadata-only column aggregates of a snapshot: COUNT(*),
    * COUNT(col), MIN(col), MAX(col) for every stat-eligible column
    * (long/double/string families; date and timestamp columns ride
    * the long kind — extremes surface as epoch-day / epoch-micros in
    * `min_long`/`max_long`, while [[plannerStats]] renders them as ISO
    * strings), answered from the manifest's
    * per-file row counts and zone maps alone — ZERO data-file reads,
    * zero Spark jobs. At 100 TB this turns `SELECT count(*), min(ts),
    * max(ts)` from a full-table scan into one manifest read (the
    * Delta/Iceberg stats-served-aggregate discipline).
    *
    * Soundness boundaries, enforced rather than fudged:
    *  - Under outstanding DELETION VECTORS, only `n_rows` stays
    *    metadata-exact (each live position is deleted at most once, so
    *    live rows = Σ file rows − Σ vector rows — the [[rowCount]]
    *    arithmetic): merge-on-read deletes can remove the extremal or
    *    the null row, so per-column non-null counts and bounds are NOT
    *    derivable — served as NULL with `bounds_exact=false` rather
    *    than refused (a `SELECT count(*)` still costs zero reads on a
    *    MOR table). [[absorbDeletes]] restores full eligibility.
    *  - REFUSED when a file entry has no row count.
    *  - A file entry with no recorded stat for a column reads NULL for
    *    it (schema evolution: the file predates the column, or its
    *    append omitted it) — it contributes rows but no non-nulls.
    *  - `bounds_exact=false` (with null min/max) when any contributing
    *    file's bound is unknown — e.g. a non-finite float bound the
    *    writer refused to store.
    *
    * One output row per eligible column: `column, kind, n_rows,
    * n_nonnull, min_long, max_long, min_double, max_double, min_string,
    * max_string, bounds_exact` — the min/max pair of the column's kind
    * is populated, the others null. */
  def metaAgg(s: SparkSession, tableDir: String,
      asOf: Int = Int.MaxValue): DataFrame = {
    import s.implicits._
    val m = retainedSnapshot(s, tableDir, asOf, "metaAgg")
    requireSingleEra(m, "metaAgg")
    val es = m.entries
    require(es.forall(_.rows.isDefined),
      s"metaAgg: a file entry predates row-count collection in $tableDir")
    // outstanding merge-on-read deletes: a deleted row may have been the
    // extremal or the null one, so everything EXCEPT the live row count
    // degrades to unknown (count stays exact — the rowCount arithmetic)
    val hasDels = m.dels.nonEmpty
    val nRows = es.flatMap(_.rows).sum - m.delRowCount
    val sc = m.schema
    // one row per stat-eligible PATH — top-level columns AND struct
    // leaves (dotted), so a SQL user sees `GRAFT STATS` for `meta.k`
    // exactly like a flat column
    val rows = statCols(sc).map { sp =>
      val k = sp.kind
      // entry stats and NDV key on PHYSICAL names; report logical
      val withStat = es.flatMap(e => e.stats.get(sp.key).map(st =>
        (e.rows.get, st)))
      val nonNull = withStat.map { case (r, st) => r - st.nulls }.sum
      // A value-bearing file that records no stat for an eligible
      // path is AMBIGUOUS unless its coverage marker vouches for it:
      // marked at or above the path's eligibility version (2 for
      // top-level atomics, 3 for struct leaves) ⇒ the path was absent
      // from that file's batch (all its rows read NULL — the
      // schema-evolution case, exact accounting stands); marked lower
      // or unmarked ⇒ the file may instead predate the path's stat
      // eligibility (values unknown), so non-null accounting and
      // bounds degrade to unknown rather than silently fold a partial
      // view and call it exact. `GRAFT ANALYZE` recollects and
      // restores exactness.
      val statless = es.exists(e =>
        e.rows.exists(_ > 0) && !(e.rows.contains(0L) ||
          e.stats.contains(sp.key) || e.statsVer.exists(_ >= sp.since)))
      // files that hold at least one non-null value must contribute a
      // known bound for the global extreme to be exact
      val contributing = withStat.filter { case (r, st) => r - st.nulls > 0 }
      val exact = !hasDels && !statless &&
        contributing.forall { case (_, st) =>
          st.min.isDefined && st.max.isDefined }
      def extreme(pick: (Any, Any) => Boolean, side: ColStat => Option[Any])
          : Option[Any] =
        if (!exact || contributing.isEmpty) None
        else Some(contributing.flatMap { case (_, st) => side(st) }
          .reduce((a, b) => if (pick(a, b)) a else b))
      val ord = ManifestCodec.boundOrdering(k)
      val mn = extreme(ord.lt, _.min)
      val mx = extreme(ord.gt, _.max)
      def str(v: Option[Any]): Option[String] =
        v.map(x => new String(x.asInstanceOf[Array[Byte]], "UTF-8"))
      (sp.logical, k.toString, nRows,
        // non-null accounting is per INSERTED row — deleted rows'
        // nullness is unknown, so it degrades with the bounds
        if (hasDels || statless) None else Some(nonNull),
        if (k == 'l') mn.map(_.asInstanceOf[Long]) else None,
        if (k == 'l') mx.map(_.asInstanceOf[Long]) else None,
        if (k == 'd') mn.map(_.asInstanceOf[Double]) else None,
        if (k == 'd') mx.map(_.asInstanceOf[Double]) else None,
        if (k == 's') str(mn) else None,
        if (k == 's') str(mx) else None,
        exact,
        // NDV from the manifest's cumulative bottom-K sketch: exact
        // below K distinct values, the KMV estimator above; NULL when
        // the sketch is unknown (legacy chain, or a row-removing op —
        // merge/deleteWhere — dropped it)
        m.ndv.get(sp.key).map(graft.functions.KmvDistinctAgg.estimate))
    }
    rows.toDF("column", "kind", "n_rows", "n_nonnull", "min_long",
      "max_long", "min_double", "max_double", "min_string", "max_string",
      "bounds_exact", "est_ndv")
  }

  /** Retention sweep result: manifests expired, data files deleted. */
  final case class VacuumStats(expiredManifests: Int, deletedDataFiles: Int)

  /** Expire time travel beyond the last `keepVersions` versions and
    * delete every data file (and crashed staging/temp litter) no
    * RETAINED manifest references — the storage bound a long-running
    * streaming sink needs (every overwrite otherwise leaves its
    * superseded files forever).
    *
    * Crash-safe by ordering: expired manifests are dropped FIRST (a
    * version must become unresolvable before its files become
    * deletable), then unreferenced data files, then empty directories.
    * A vacuum that dies mid-way leaves retained readers untouched and
    * a re-run completes the sweep. `minAgeMs` guards IN-FLIGHT commits:
    * a concurrent writer's staged-but-unpublished files look
    * unreferenced, so only litter older than the guard is swept — run
    * vacuum with a retention window comfortably above the longest
    * commit (the Delta VACUUM convention), or 0 when no writer runs.
    * `dryRun` reports the SAME (expired, deletable) counts the real
    * sweep would produce while touching NOTHING — the
    * look-before-you-leap an irreversible retention op owes its
    * operator (Delta's `VACUUM ... DRY RUN`). */
  def vacuum(s: SparkSession, tableDir: String, keepVersions: Int,
      minAgeMs: Long = 0L,
      maxVersionAgeMs: Option[Long] = None,
      dryRun: Boolean = false): VacuumStats = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(s, tableDir)
    val vs = versions(s, tableDir)
    // expiry by COUNT (all but the last K) ∪ by AGE (recorded commit
    // timestamp older than the retention window — the Delta
    // RETAIN-interval shape; the latest version never expires, and
    // legacy manifests without a stamp never expire by age)
    val byCount = vs.dropRight(keepVersions).toSet
    val byAge = maxVersionAgeMs.map { a =>
      val cut = System.currentTimeMillis() - a
      vs.dropRight(1)
        .filter(v => readManifest(s, tableDir, v).ts.exists(_ < cut)).toSet
    }.getOrElse(Set.empty[Int])
    // TAGGED versions are pinned ([[createTag]]): reproducibility
    // pins outrank every count/age window — a tagged version (and,
    // via the keep-set below, every file it references) survives any
    // vacuum until the tag is dropped
    val tagged = tags(s, tableDir).values.toSet
    val expired = vs.filter(v =>
      (byCount.contains(v) || byAge.contains(v)) && !tagged.contains(v))
    val retained = vs.filterNot(expired.contains)
    val keep: Set[String] =
      retained.flatMap { v =>
        val m = readManifest(s, tableDir, v)
        // retained deletion-vector files are as load-bearing as data
        (m.entries ++ m.dels).map(_.path)
      }.toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // Every walk below tolerates paths VANISHING underfoot: an aborted
    // concurrent commit/merge/compaction deletes its own orphan dir,
    // and racing that delete must not fail the sweep (chaos-spec
    // finding — the local FS throws from mid-listing when a dir
    // disappears). A vanished path needed no vacuuming anyway.
    def safeWalk(root: HPath): Seq[FileStatus] = {
      var attempt = 0
      while (attempt < 3) {
        attempt += 1
        try {
          val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
          val it = f.listFiles(root, true)
          while (it.hasNext) out += it.next()
          return out.toSeq
        } catch {
          case _: java.io.FileNotFoundException => return Seq.empty
          case _: RuntimeException if attempt < 3 => // re-list and go again
        }
      }
      Seq.empty
    }
    def safeList(root: HPath): Seq[FileStatus] =
      try { if (f.exists(root)) f.listStatus(root).toSeq else Seq.empty }
      catch { case _: java.io.FileNotFoundException | _: RuntimeException => Seq.empty }
    // phase 1: expired versions become unresolvable (DRY RUN: counted,
    // never dropped — the report is the same, the table untouched)
    if (!dryRun)
      expired.foreach(v => f.delete(manifestPath(tableDir, v), false))
    // phase 2: unreferenced data files (crashed writers' orphans included)
    var deleted = 0
    val dataRoot = new HPath(tableDir, "data")
    if (f.exists(dataRoot)) {
      safeWalk(dataRoot).foreach { st =>
        if (!keep.contains(st.getPath.toString) &&
            st.getModificationTime <= cutoff &&
            (dryRun || (try f.delete(st.getPath, false)
              catch { case _: Exception => false })))
          deleted += 1
      }
      // phase 3: now-empty data subdirectories — a subtree holding zero
      // FILES deletes recursively, so a fully-vacuumed hive layout
      // (nested `<col>=<value>/` dirs) leaves no directory litter; a
      // concurrent commit's staged dir renames in atomically WITH its
      // files, so a file-bearing subtree can never be swept
      if (!dryRun)
        safeList(dataRoot).filter(_.isDirectory).foreach { d =>
          try { if (safeWalk(d.getPath).isEmpty) f.delete(d.getPath, true) }
          catch { case _: java.io.FileNotFoundException | _: RuntimeException => }
        }
    }
    // crashed-commit litter outside data/: staged dirs and temp manifests
    if (!dryRun) {
      safeList(new HPath(tableDir))
        .filter(st => st.getPath.getName.startsWith(".staging-") &&
          st.getModificationTime <= cutoff)
        .foreach(st => try f.delete(st.getPath, true) catch { case _: Exception => })
      safeList(commitsDir(tableDir))
        .filter(st => st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime <= cutoff)
        .foreach(st => f.delete(st.getPath, false))
    }
    VacuumStats(expired.size, deleted)
  }
}
