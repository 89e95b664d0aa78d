package graft.sources

import scala.collection.immutable.VectorMap

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.types.{DataType, StructType}

/** THE snapshot manifest format (`_commits/v{N}.txt`), in one place:
  * the typed [[ManifestCodec.Manifest]] and its one decoder and one
  * encoder. Every manifest line is parsed and formatted here and
  * nowhere else.
  *
  * A manifest is UTF-8 text, one item per line. `#tag:value` lines are
  * table metadata; every other line is a data-file entry
  * `path<TAB>length<TAB>rows<TAB>stats[<TAB>P<part>][<TAB>E<era>]`:
  *  - `rows` is empty when unknown (a commit with no stat-eligible
  *    column collects no counts);
  *  - `stats` is `;`-joined column stats
  *    `b64(name):kind:b64(min):b64(max):nulls:bytes[:b64(bloom)]`
  *    (an empty bound field is an unknown bound; `=` is the empty
  *    string);
  *    followed by the coverage marker `*:N` (absent on zero-row files
  *    and stat-less commits);
  *  - `P` carries the hive partition value tuple (one `,`-joined
  *    segment per level, `N` the null partition, else the b64 value);
  *  - `E<n>` is the entry's partition-scheme era (see
  *    [[SnapshotTable.repartitionBy]]).
  *
  * Decoding validates: a manifest without a `#schema:` line, a bare
  * path entry, an unknown header or a malformed field is an error —
  * no writer produces them, so no reader guesses at them. */
private[sources] object ManifestCodec {

  /** Per-file column statistic (zone map): the value range and null
    * count of one column in one data file, decoded to comparable form —
    * Long ('l'), Double ('d'), or UTF-8 bytes ('s'). `min`/`max` absent
    * means that bound is UNKNOWN (all-null column, or a non-finite
    * float bound that cannot be stored soundly) — pruning treats it as
    * ∓∞. */
  final case class ColStat(kind: Char, min: Option[Any],
      max: Option[Any], nulls: Long,
      // total UTF-8 payload bytes of the column in the file (string
      // kind only): Σbytes/Σnon-null is the avg width Catalyst's
      // size-from-row-count estimate needs — without it every string
      // column reads as the 20-byte default and a wide text table can
      // be under-sized into a broadcast
      bytes: Option[Long] = None,
      // optional per-file membership Bloom (declared columns only —
      // [[SnapshotTable.setBloomColumns]]): refutes `col = v` probes
      // min/max cannot (the unclustered point lookup, where every
      // file's range straddles every key)
      bloom: Option[Array[Byte]] = None) {
    // string bounds and Bloom bits are byte arrays: equal by content
    private def key = (kind, min.map(byContent), max.map(byContent), nulls,
      bytes, bloom.map(byContent))
    override def equals(o: Any): Boolean = o match {
      case c: ColStat => key == c.key
      case _ => false
    }
    override def hashCode: Int = key.hashCode
  }

  /** The order of a stat kind's stored bounds, shared by the pruner,
    * the catalog statistics and the metadata aggregates: signed longs
    * ('l'), doubles ('d', with IEEE `lt`, so signed zeros tie — stored
    * bounds are finite), and unsigned byte-wise UTF-8 ('s' — the binary
    * collation of Spark's string min/max; UTF-16 order differs above
    * the BMP, so decode-then-compare would be wrong). */
  def boundOrdering(kind: Char): Ordering[Any] = (kind match {
    case 'l' => Ordering.Long
    case 'd' => Ordering.Double.IeeeOrdering
    case 's' => UnsignedBytes
    case k => throw new IllegalArgumentException(s"unknown stat kind '$k'")
  }).asInstanceOf[Ordering[Any]]

  private object UnsignedBytes extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val x = (a(i) & 0xff) - (b(i) & 0xff)
        if (x != 0) return x
        i += 1
      }
      a.length - b.length
    }
  }

  /** The stored form of an EMPTY string bound. Base64 of a non-empty
    * value is never this, and an empty field stays "bound unknown". */
  private val EmptyBound = "="

  private def byContent(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case other => other
  }

  /** One manifest data entry: the file plus its planning metadata.
    * `stats` keeps the recorded column order. `part` is the file's
    * hive-partition value TUPLE on a partitioned layout (one element
    * per partition level, directory-nesting order; None elements are
    * the null partition) — `None` overall means an unpartitioned
    * entry. `statsVer` is the entry's stats-COVERAGE marker (the `*:N`
    * field): Some(v) asserts "this entry's stats cover every column
    * whose type was stat-eligible at format v and present in the
    * batch — an eligible column with NO stat here was ABSENT from the
    * batch, i.e. all its rows read NULL". Without the marker (zero-row
    * files, stat-less commits) that absence proves nothing, so
    * metadata consumers must degrade, not claim. `era` indexes the
    * manifest's partition-scheme history. */
  final case class FileEntry(status: FileStatus,
      rows: Option[Long],
      stats: Map[String, ColStat],
      part: Option[Seq[Option[String]]] = None,
      statsVer: Option[Int] = None,
      era: Option[Int] = None) {
    def path: String = status.getPath.toString
  }

  /** One manifest, decoded: cumulative per-writer txn watermarks, the
    * snapshot's read schema, its data file entries (size, row count and
    * per-column zone maps ride IN the manifest so reads plan — and
    * data-skip — with ZERO per-file filesystem calls), and the table
    * properties every commit carries forward. */
  final case class Manifest(txns: Map[String, Long],
      // ids that arrived as legacy one-shot `#txn:<id>` lines: they keep
      // that line form forever (see [[SnapshotTable.txnLanded]])
      legacyTxns: Set[String],
      schema: StructType,
      entries: Seq[FileEntry], bucket: Option[(Int, String)] = None,
      // deletion-vector files (`__path`,`__pos` parquet) of this
      // snapshot. Row counts are exact (each live position is deleted
      // at most once — [[SnapshotTable.deleteWhere]] matches against
      // the del-applied read), which keeps row counts metadata-only
      // under deletes.
      dels: Seq[FileEntry] = Seq.empty, ts: Option[Long] = None,
      constraints: Map[String, String] = Map.empty,
      dropped: Set[String] = Set.empty,
      ndv: Map[String, Seq[Long]] = Map.empty,
      // hive-style partition columns of the layout (directory-nesting
      // order; empty = unpartitioned): data files live under nested
      // `<col>=<value>/` directories and do NOT store these columns —
      // reads reconstruct them from each entry's recorded value tuple
      partBy: Seq[String] = Nil,
      // partition-scheme HISTORY ([[SnapshotTable.repartitionBy]]):
      // every scheme the table ever carried, era order, the last one
      // being the CURRENT `partBy`; each entry's era indexes into it.
      // None = the table never changed scheme (every entry belongs to
      // `partBy`). An old-era file stays readable under ITS era's
      // directory layout; pruning consults each era's own machinery
      // (directory pruning for its hive columns, zone maps for
      // everything it stores as data).
      partEras: Option[Seq[Seq[String]]] = None,
      // the KIND of the operation that produced THIS version
      // (append/overwrite/delete/update/merge/compact — never carried
      // forward): what lets the change feed relabel an UPDATE commit's
      // diff legs `update_preimage`/`update_postimage` (Delta's CDF
      // convention) instead of an unkeyed delete+insert. None on
      // metadata-only commits.
      kind: Option[String] = None) {
    def paths: Seq[String] = entries.map(_.path)
    /** The scheme era entry `e` was committed under. */
    def eraOf(e: FileEntry): Int =
      e.era.getOrElse(partEras.map(_.size - 1).getOrElse(0))
    /** Era index -> partition scheme. */
    def eraScheme(i: Int): Seq[String] =
      partEras.map(_(i)).getOrElse(partBy)
    /** One (scheme, entries) leg per era present in `es`, era order —
      * a single leg for every table that never changed scheme. */
    def eraLegs(es: Seq[FileEntry]): Seq[(Seq[String], Seq[FileEntry])] =
      es.groupBy(eraOf).toSeq.sortBy(_._1)
        .map { case (i, ees) => (eraScheme(i), ees) }
    /** Do `es` span MORE than one scheme era? */
    def mixedEras(es: Seq[FileEntry]): Boolean =
      es.iterator.map(eraOf).distinct.size > 1
    def delRowCount: Long = dels.map(_.rows.getOrElse(0L)).sum
  }

  private def b64e(s: String): String = b64(s.getBytes("UTF-8"))
  private def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  private def b64d(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)
  private def str(b64: String): String = new String(b64d(b64), "UTF-8")

  /** Decode a manifest's lines (blank lines already dropped). Throws on
    * any line the format does not define. */
  def decode(lines: Seq[String]): Manifest = {
    val txns = scala.collection.mutable.Map.empty[String, Long]
    val legacy = Set.newBuilder[String]
    var schema: Option[StructType] = None
    val entries = Vector.newBuilder[FileEntry]
    val dels = Vector.newBuilder[FileEntry]
    var bucket: Option[(Int, String)] = None
    var ts: Option[Long] = None
    val checks = Map.newBuilder[String, String]
    val dropped = Set.newBuilder[String]
    val ndv = Map.newBuilder[String, Seq[Long]]
    var partBy: Option[Seq[String]] = None
    var partEras: Option[Seq[Seq[String]]] = None
    var kind: Option[String] = None
    def watermark(w: String, v: Long): Unit =
      txns(w) = txns.get(w).fold(v)(math.max(_, v))
    lines.foreach { l =>
      if (!l.startsWith("#")) entries += decodeEntry(l)
      else {
        val i = l.indexOf(':')
        require(i > 0, s"malformed manifest header '$l'")
        val v = l.substring(i + 1)
        def pair: (String, String) = v.split(":", 2) match {
          case Array(a, b) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"malformed manifest header '$l'")
        }
        l.substring(1, i) match {
          case "txnv" => val (w, n) = pair; watermark(str(w), n.toLong)
          // a legacy one-shot id is writer=<id> at version 0
          case "txn" => legacy += v; watermark(v, 0L)
          case "schema" => schema = schema.orElse(Some(
            DataType.fromJson(v).asInstanceOf[StructType]))
          case "ts" => ts = ts.orElse(Some(v.toLong))
          case "partby" => partBy = partBy.orElse(Some(
            v.split(":", -1).toSeq.map(str)))
          // '|'-joined eras, each era's columns b64-joined by ':'; an
          // empty segment is a FLAT era
          case "parteras" => partEras = partEras.orElse(Some(
            v.split("\\|", -1).toSeq.map(seg =>
              if (seg.isEmpty) Nil else seg.split(":", -1).toSeq.map(str))))
          case "kind" => kind = kind.orElse(Some(v))
          case "bucket" =>
            val (n, c) = pair; bucket = bucket.orElse(Some((n.toInt, str(c))))
          case "del" => dels += decodeEntry(v)
          case "check" => val (n, e) = pair; checks += str(n) -> str(e)
          case "dropped" => dropped += str(v)
          case "ndv" =>
            val (c, sk) = pair
            ndv += str(c) -> (if (sk.isEmpty) Seq.empty[Long]
              else sk.split(",").toSeq.map(_.toLong))
          case other => throw new IllegalArgumentException(
            s"unknown manifest header '#$other'")
        }
      }
    }
    Manifest(txns.toMap, legacy.result(),
      schema.getOrElse(throw new IllegalArgumentException(
        "no #schema: line (a legacy manifest form no longer readable)")),
      entries.result(), bucket, dels.result(), ts, checks.result(),
      dropped.result(), ndv.result(), partBy.getOrElse(Nil), partEras, kind)
  }

  /** One data entry line (also the payload of a `#del:` line). */
  def decodeEntry(line: String): FileEntry = {
    val f = line.split("\t", -1)
    require(f.length >= 2, s"entry without file metadata '$line' " +
      "(a legacy bare-path manifest form no longer readable)")
    val fields = f.lift(3).toSeq.flatMap(_.split(";")).filter(_.nonEmpty)
    val (markers, stats) = fields.partition(_.startsWith("*:"))
    require(markers.size <= 1, s"entry with several coverage markers '$line'")
    var part: Option[Seq[Option[String]]] = None
    var era: Option[Int] = None
    f.drop(4).foreach {
      case p if p.startsWith("P") =>
        part = Some(p.drop(1).split(",", -1).toSeq.map {
          case "N" => None
          case b => Some(str(b))
        })
      case e if e.length > 1 && e.charAt(0) == 'E' && e.drop(1).forall(_.isDigit) =>
        era = Some(e.drop(1).toInt)
      case other => throw new IllegalArgumentException(
        s"unknown entry field '$other' in '$line'")
    }
    FileEntry(
      new FileStatus(f(1).toLong, false, 1, 128L * 1024 * 1024, 0L,
        new HPath(f(0))),
      rows = f.lift(2).filter(_.nonEmpty).map(_.toLong),
      stats = stats.map(decodeStat).to(VectorMap),
      part = part,
      statsVer = markers.headOption.map(_.drop(2).toInt),
      era = era)
  }

  private def decodeStat(field: String): (String, ColStat) = {
    val p = field.split(":", -1)
    require(p.length >= 5 && p.length <= 7 && p(1).length == 1,
      s"malformed column stat '$field'")
    val kind = p(1).charAt(0)
    def bound(b64: String): Option[Any] =
      if (b64.isEmpty) None
      else kind match {
        case 'l' => Some(str(b64).toLong)
        case 'd' => Some(str(b64).toDouble)
        // raw UTF-8 bytes, binary collation
        case 's' => Some(if (b64 == EmptyBound) Array.empty[Byte] else b64d(b64))
        case k => throw new IllegalArgumentException(
          s"unknown stat kind '$k' in '$field'")
      }
    (str(p(0)), ColStat(kind, bound(p(2)), bound(p(3)), p(4).toLong,
      p.lift(5).filter(_.nonEmpty).map(_.toLong),
      p.lift(6).filter(_.nonEmpty).map(b64d)))
  }

  /** The manifest's text: headers in a fixed order (legacy txn ids,
    * watermarks, schema, stamp, layout, kind, bucket, vectors, checks,
    * dropped names, NDV sketches — every set or map sorted), then the
    * data entries in their given order. */
  def encode(m: Manifest): String = {
    // a legacy id's version-0 watermark is its `#txn:` line itself
    val meta = m.legacyTxns.toSeq.sorted.map(id => s"#txn:$id") ++
      m.txns.toSeq.filterNot { case (w, v) =>
        v == 0L && m.legacyTxns.contains(w) }
        .sortBy(_._1).map { case (w, v) => s"#txnv:${b64e(w)}:$v" } ++
      Seq(s"#schema:${m.schema.json}") ++
      m.ts.map(t => s"#ts:$t") ++
      (if (m.partBy.isEmpty) Nil
       else Seq(s"#partby:${m.partBy.map(b64e).mkString(":")}")) ++
      m.partEras.map(eras => "#parteras:" +
        eras.map(_.map(b64e).mkString(":")).mkString("|")) ++
      m.kind.map(k => s"#kind:$k") ++
      m.bucket.map { case (n, c) => s"#bucket:$n:${b64e(c)}" } ++
      m.dels.map(d => s"#del:${encodeEntry(d)}") ++
      m.constraints.toSeq.sortBy(_._1).map { case (n, e) =>
        s"#check:${b64e(n)}:${b64e(e)}" } ++
      m.dropped.toSeq.sorted.map(n => s"#dropped:${b64e(n)}") ++
      m.ndv.toSeq.sortBy(_._1).map { case (c, sk) =>
        s"#ndv:${b64e(c)}:${sk.mkString(",")}" }
    (meta ++ m.entries.map(encodeEntry)).mkString("\n")
  }

  def encodeEntry(e: FileEntry): String = {
    val stats = e.stats.iterator.map { case (n, c) => encodeStat(n, c) } ++
      e.statsVer.iterator.map(v => s"*:$v")
    s"${e.path}\t${e.status.getLen}\t${e.rows.fold("")(_.toString)}\t" +
      stats.mkString(";") +
      e.part.fold("")(vs => "\tP" + vs.map(_.fold("N")(b64e)).mkString(",")) +
      e.era.fold("")(n => s"\tE$n")
  }

  private def encodeStat(name: String, c: ColStat): String = {
    def bound(v: Option[Any]): String = v.fold("") {
      case b: Array[Byte] => if (b.isEmpty) EmptyBound else b64(b)
      case other => b64e(other.toString)
    }
    val head = s"${b64e(name)}:${c.kind}:${bound(c.min)}:${bound(c.max)}:" +
      s"${c.nulls}:${c.bytes.fold("")(_.toString)}"
    c.bloom.fold(head)(b => s"$head:${b64(b)}")
  }
}
