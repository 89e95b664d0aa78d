package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BloomBits, KmvDistinctAgg}

/** One stat path's slots in an evaluated stat-input row, starting at
  * `first`. A scalar path reads (value, KMV hash[, Bloom hash]); an
  * ARRAY-element path reads (array_min, array_max, array-is-null,
  * element hash array). `valueType` is the type of the bound slots. */
private[sources] final case class FoldSlot(key: String, kind: Char,
    isArray: Boolean, first: Int, hasBloom: Boolean, valueType: DataType)

/** The per-file stats of one data file as the fold accumulates them. */
private[sources] final class FileFold(n: Int) extends Serializable {
  var rows: Long = 0L
  val minV = new Array[Any](n)
  val maxV = new Array[Any](n)
  val nulls = new Array[Long](n)
  val bytes = new Array[Long](n)
  val bytesSeen = new Array[Boolean](n)
  val kmv: Array[Array[Long]] = Array.fill(n)(Array.empty[Long])
  val bloom: Array[Array[Byte]] = Array.fill(n)(Array.empty[Byte])
}

/** THE per-file stats fold of the snapshot format — zone maps, string
  * byte totals, bottom-64 KMV NDV sketches and declared Bloom bits —
  * used by every commit layout (through [[StatsFoldJobTracker]], inside
  * the write job) and by `analyze` (over a scan keyed by file). Its
  * INPUTS are Spark expressions built by `SnapshotTable` (statSql stored
  * forms, the md5 canon, xxhash64 Bloom hashes); only the
  * order-insensitive fold (min/max/sum/bottom-K/bit-or) runs here, so
  * a file's stats do not depend on how its rows were split or ordered
  * across tasks, and per-task folds of one file merge exactly. */
private[sources] final class StatsFold(val slots: Array[FoldSlot])
    extends Serializable {
  @transient private lazy val cmps: Array[(Any, Any) => Int] =
    slots.map(sl => StatsFold.compare(sl.valueType))

  def newFile(): FileFold = new FileFold(slots.length)

  /** Fold one evaluated stat-input row into `st`. */
  def update(st: FileFold, row: InternalRow): Unit = {
    st.rows += 1
    var c = 0
    while (c < slots.length) {
      val sl = slots(c)
      val i = sl.first
      if (sl.isArray) {
        if (row.getBoolean(i + 2)) st.nulls(c) += 1
        else {
          if (!row.isNullAt(i)) keepMin(st, c, row.get(i, sl.valueType))
          if (!row.isNullAt(i + 1)) keepMax(st, c, row.get(i + 1, sl.valueType))
          // a non-null array (even an empty one) allocates the bitmap: a
          // file of empty arrays records an all-zero Bloom that refutes
          // every probe, not "no Bloom recorded"
          val hs = row.getArray(i + 3)
          var buf = st.bloom(c)
          if (buf.length != BloomBits.Bits / 8) buf = new Array[Byte](BloomBits.Bits / 8)
          var j = 0
          while (j < hs.numElements()) { buf = BloomBits.add(buf, hs.getLong(j)); j += 1 }
          st.bloom(c) = buf
        }
      } else {
        if (row.isNullAt(i)) st.nulls(c) += 1
        else {
          val v = row.get(i, sl.valueType)
          keepMin(st, c, v)
          keepMax(st, c, v)
          if (sl.kind == 's') {
            st.bytes(c) += v.asInstanceOf[UTF8String].numBytes()
            st.bytesSeen(c) = true
          }
        }
        st.kmv(c) = KmvDistinctAgg.reduce(st.kmv(c), row.getLong(i + 1))
        if (sl.hasBloom) st.bloom(c) = BloomBits.add(st.bloom(c), row.getLong(i + 2))
      }
      c += 1
    }
  }

  private def keepMin(st: FileFold, c: Int, v: Any): Unit =
    if (st.minV(c) == null || cmps(c)(v, st.minV(c)) < 0) st.minV(c) = StatsFold.retain(v)

  private def keepMax(st: FileFold, c: Int, v: Any): Unit =
    if (st.maxV(c) == null || cmps(c)(v, st.maxV(c)) > 0) st.maxV(c) = StatsFold.retain(v)

  /** Fold `b` (the same file, other rows) into `a`. */
  def merge(a: FileFold, b: FileFold): FileFold = {
    a.rows += b.rows
    var c = 0
    while (c < slots.length) {
      if (b.minV(c) != null) keepMin(a, c, b.minV(c))
      if (b.maxV(c) != null) keepMax(a, c, b.maxV(c))
      a.nulls(c) += b.nulls(c)
      a.bytes(c) += b.bytes(c)
      a.bytesSeen(c) |= b.bytesSeen(c)
      a.kmv(c) = KmvDistinctAgg.merge(a.kmv(c), b.kmv(c))
      a.bloom(c) = BloomBits.merge(a.bloom(c), b.bloom(c))
      c += 1
    }
    a
  }

  /** The file's manifest stats text (`;`-joined fields, slot order). */
  def fields(st: FileFold): String = slots.indices.map { c =>
    val sl = slots(c)
    StatsFold.field(sl.key, sl.kind, st.minV(c), st.maxV(c), st.nulls(c),
      bytes = if (st.bytesSeen(c)) Some(st.bytes(c)) else None,
      bloom = if (st.bloom(c).isEmpty) None else Some(st.bloom(c)))
  }.mkString(";")

  /** Per-column NDV sketches over `files`, min-K-merged (array-element
    * paths carry none). */
  def ndv(files: Iterable[FileFold]): Map[String, Seq[Long]] =
    slots.indices.filterNot(slots(_).isArray).map { c =>
      slots(c).key -> files.foldLeft(Array.empty[Long])((k, f) =>
        KmvDistinctAgg.merge(k, f.kmv(c))).toSeq
    }.toMap

  /** (rows, stats text) per file key for every file holding rows — a
    * zero-row file gets no entry and is recorded as such — plus the
    * merged NDV sketches. */
  def result(files: Map[String, FileFold])
      : (Map[String, (Long, String)], Map[String, Seq[Long]]) =
    (files.collect { case (k, f) if f.rows > 0L => k -> (f.rows, fields(f)) },
      ndv(files.values))
}

private[sources] object StatsFold {
  /** Spark-identical ordering for the types a stat slot can hold (every
    * date/timestamp/decimal kind reduces to int/long in its stored form;
    * doubles order with NaN greatest and ±0.0 equal, Catalyst's
    * SQLOrderingUtil rule the Min/Max aggregates use). */
  def compare(dt: DataType): (Any, Any) => Int = dt match {
    case ByteType => (a, b) => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case ShortType => (a, b) => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case IntegerType => (a, b) => java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType => (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType => (a, b) => org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareFloats(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType => (a, b) => org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case StringType => (a, b) =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case other => throw new IllegalStateException(s"stats fold: unexpected stat value type $other")
  }

  /** Keep an internal value beyond its (reused) row buffer. */
  private def retain(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case other => other
  }

  /** Manifest stat-value rendering: "" for null and non-finite bounds
    * (NaN/±Inf cannot anchor a sound range), floats widened to double
    * BEFORE encoding so the stored decimal round-trips exactly. */
  private def encValue(v: Any): String = v match {
    case null => ""
    case d: java.lang.Double if d.isNaN || d.isInfinite => ""
    case fl: java.lang.Float => encValue(Double.box(fl.doubleValue))
    case other => b64e(other.toString)
  }

  def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  /** One manifest stats FIELD: `name:kind:min:max:nulls:bytes[:bloom]`. */
  def field(name: String, kind: Char, minV: Any, maxV: Any, nulls: Long,
      bytes: Option[Long], bloom: Option[Array[Byte]]): String = {
    val head = s"${b64e(name)}:$kind:${encValue(minV)}:${encValue(maxV)}:" +
      s"$nulls:${bytes.map(_.toString).getOrElse("")}"
    bloom.fold(head)(b => s"$head:${java.util.Base64.getEncoder.encodeToString(b)}")
  }

  /** The last `n` segments of a file path: the file's key relative to
    * its write's output root (`n` = partition levels + 1), the same for
    * a task's temporary path and the committed file. */
  def relKey(path: String, n: Int): String =
    path.split('/').takeRight(n).mkString("/")
}

/** What one write task hands back: its files' folds by relative path. */
private[sources] final case class FoldedFiles(files: Map[String, FileFold])
    extends WriteTaskStats

/** Driver half of the write-job fold, attached to the data write as an
  * extra `WriteJobStatsTracker` (Spark's per-file hook: every writer
  * layout — flat, hive directories, `maxRecordsPerFile` splits — calls
  * `newFile` / `newRow` with the REAL file path). `inputs` are the stat
  * input expressions bound to the writer's row layout: the data columns
  * followed by the partition columns (the writer hands the tracker the
  * data row and the partition values separately). After the job,
  * [[files]] holds every written file's fold keyed by its path relative
  * to the output root; only committed task attempts report, so a
  * retried task cannot count twice. */
private[sources] final class StatsFoldJobTracker(val fold: StatsFold,
    inputs: Seq[Expression], partLevels: Int) extends WriteJobStatsTracker {
  @transient lazy val files: mutable.Map[String, FileFold] = mutable.Map.empty

  override def newTaskInstance(): WriteTaskStatsTracker =
    new StatsFoldTaskTracker(fold, inputs, partLevels)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    stats.foreach { case FoldedFiles(m) => files ++= m }
}

private final class StatsFoldTaskTracker(fold: StatsFold,
    inputs: Seq[Expression], partLevels: Int) extends WriteTaskStatsTracker {
  private val project = UnsafeProjection.create(inputs)
  private val joined = new JoinedRow
  private var announced: InternalRow = _
  private val dirValues = mutable.HashMap.empty[String, InternalRow]
  private val files = mutable.LinkedHashMap.empty[String, (FileFold, InternalRow)]
  private var lastPath: String = _
  private var last: (FileFold, InternalRow) = _

  // the writer announces a partition (with a copied row) just before
  // the first file it opens in that partition's directory; later files
  // of the directory (`maxRecordsPerFile` roll-overs, a concurrent
  // writer switching back) find the values by directory
  override def newPartition(values: InternalRow): Unit = announced = values
  override def newFile(path: String): Unit = {
    val dir = path.substring(0, path.lastIndexOf('/') + 1)
    if (announced != null) { dirValues(dir) = announced; announced = null }
    files(path) = (fold.newFile(), dirValues.getOrElse(dir, InternalRow.empty))
  }
  override def closeFile(path: String): Unit = ()
  override def newRow(path: String, row: InternalRow): Unit = {
    if (path ne lastPath) { last = files(path); lastPath = path }
    fold.update(last._1, project(joined(row, last._2)))
  }
  override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
    FoldedFiles(files.iterator.map { case (p, (f, _)) =>
      StatsFold.relKey(p, partLevels + 1) -> f }.toMap)
}
