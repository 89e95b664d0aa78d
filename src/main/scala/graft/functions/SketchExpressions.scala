package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document sketch expressions.
  *
  * The round-2/3 sketch pipelines computed signatures relationally:
  * explode the doc's token/shingle set, then 64 vote `sum()`s (SimHash)
  * or K `min()`s (MinHash) per doc — correct, partial-aggregated, but it
  * ships every (doc, element-hash) row into a groupBy shuffle just to
  * fold it back to one row per doc. A signature is a PER-ROW function of
  * the document: these expressions compute it in one compiled loop, so
  * the sketch stage becomes a shuffle-free projection (embarrassingly
  * parallel at any scale) and the first shuffle in the whole dedup
  * pipeline is the banded candidate join itself.
  *
  * Bit-compatibility contracts (all spec-pinned):
  *  - [[SimHash64]] reproduces `sum±1 over bits of xxhash64(tok)` per
  *    distinct token exactly — it calls the same
  *    `XxHash64Function` (seed 42) Spark's `xxhash64` uses.
  *  - [[MinHashSignature]] reproduces `min(xxhash64(shingle, i))` for
  *    i = 1..K over distinct 3-gram shingles — the two-arg hash chains
  *    the shingle hash into the literal's hash, replicated here.
  *  - [[PortableMinHashSignature]] reproduces
  *    `min((polyHash(shingle) * (37+2k) + (1000+k)) % P)` — the
  *    DuckDB-reproducible family, so the portable oracles stay green.
  *
  * A doc with no element (under n tokens) has no signature: the
  * expressions return NULL and callers filter it out, exactly like the
  * explode form where such docs never produced a row.
  */
object SketchOps {
  final val XxSeed = 42L

  private def distinctNgrams(text: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val set = new java.util.LinkedHashSet[String]
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return set
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      set.add(sb.toString)
      i += 1
    }
    set
  }

  /** 64-bit SimHash over distinct whitespace tokens (xxhash64, seed 42). */
  def simhash64(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]
    val votes = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      if (seen.add(toks(t))) {
        val h = XxHash64Function.hash(
          UTF8String.fromString(toks(t)), StringType, XxSeed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sh |= (1L << b)
      b += 1
    }
    sh
  }

  /** K-column MinHash signature over distinct 3-gram shingles:
    * element k (1-based) = min over shingles of xxhash64(shingle, k).
    * NULL when the doc has no shingle. */
  def minhashSig(text: UTF8String, k: Int): ArrayData = {
    val set = distinctNgrams(text, 3)
    if (set.isEmpty) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val it = set.iterator()
    while (it.hasNext) {
      val h1 = XxHash64Function.hash(
        UTF8String.fromString(it.next()), StringType, XxSeed)
      var i = 0
      while (i < k) {
        // the two-arg xxhash64(shingle, i+1): literal int hashed with the
        // shingle's hash as seed
        val h = XxHash64Function.hash(i + 1, IntegerType, h1)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** Portable SB-bit SimHash over distinct whitespace tokens: vote b is
    * the sign of `count((polyHash(tok) * A(b) + C(b)) % p >= p/2)` with
    * the affine constants A(b) = (2654435761 * (b+1)) % p,
    * C(b) = (40503 * (b+7) * (b+13)) % p — the ANSI-SQL-reproducible
    * family of the DuckDB oracle. Every intermediate stays under 2^60. */
  // affine coefficients depend only on the expression's constant (sb, p)
  // — memoized so per-row eval doesn't rebuild them (billions of rows)
  private val affineCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]
  private def affine(sb: Int, p: Long): (Array[Long], Array[Long]) =
    affineCache.computeIfAbsent((sb, p), { case (n, m) =>
      (Array.tabulate(n)(b => (2654435761L * (b + 1)) % m),
        Array.tabulate(n)(b => (40503L * (b + 7) * (b + 13)) % m))
    })

  def portableSimhash(text: UTF8String, sb: Int, p: Long): Long = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]
    val votes = new Array[Int](sb)
    val (a, c) = affine(sb, p)
    var b = 0
    var t = 0
    while (t < toks.length) {
      if (seen.add(toks(t))) {
        val h0 = PolyHash.hash(UTF8String.fromString(toks(t)))
        b = 0
        while (b < sb) {
          if ((h0 * a(b) + c(b)) % p >= p / 2) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sk = 0L
    b = 0
    while (b < sb) {
      if (votes(b) > 0) sk |= (1L << b)
      b += 1
    }
    sk
  }

  /** KP-column portable signature over distinct 3-gram shingles:
    * element k (0-based) = min of (polyHash * (37+2k) + (1000+k)) % P. */
  def portableSig(text: UTF8String, kp: Int, p: Long): ArrayData = {
    val set = distinctNgrams(text, 3)
    if (set.isEmpty) return null
    val mins = Array.fill(kp)(Long.MaxValue)
    val it = set.iterator()
    while (it.hasNext) {
      val h0 = PolyHash.hash(UTF8String.fromString(it.next()))
      var k = 0
      while (k < kp) {
        val h = (h0 * (37 + 2 * k) + (1000 + k)) % p
        if (h < mins(k)) mins(k) = h
        k += 1
      }
    }
    new GenericArrayData(mins)
  }
}

case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    SketchOps.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchOps.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PortableSimHash(child: Expression, sb: Int, p: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_simhash"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    SketchOps.portableSimhash(input.asInstanceOf[UTF8String], sb, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchOps.portableSimhash($c, $sb, ${p}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    SketchOps.minhashSig(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SketchOps.minhashSig($c, $k);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PortableMinHashSignature(child: Expression, kp: Int, p: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "portable_minhash_sig"
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def nullSafeEval(input: Any): Any =
    SketchOps.portableSig(input.asInstanceOf[UTF8String], kp, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SketchOps.portableSig($c, $kp, ${p}L);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SketchExpressions {
  /** Idempotently registers the sketch expressions. */
  def register(s: SparkSession): Unit = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash64", exprs => SimHash64(exprs.head), "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash_sig",
      exprs => MinHashSignature(exprs(0),
        LitArgs.int("graft_minhash_sig", "k", exprs(1))),
      "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_portable_simhash",
      exprs => PortableSimHash(exprs(0),
        LitArgs.int("graft_portable_simhash", "sb", exprs(1)),
        LitArgs.long("graft_portable_simhash", "p", exprs(2))),
      "built-in")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_portable_minhash_sig",
      exprs => PortableMinHashSignature(exprs(0),
        LitArgs.int("graft_portable_minhash_sig", "kp", exprs(1)),
        LitArgs.long("graft_portable_minhash_sig", "p", exprs(2))),
      "built-in")
  }

  def simhash64(c: Column): Column = call_function("graft_simhash64", c)
  def portable_simhash(c: Column, sb: Int, p: Long): Column =
    call_function("graft_portable_simhash", c,
      org.apache.spark.sql.functions.lit(sb), org.apache.spark.sql.functions.lit(p))
  def minhash_sig(c: Column, k: Int): Column =
    call_function("graft_minhash_sig", c, org.apache.spark.sql.functions.lit(k))
  def portable_minhash_sig(c: Column, kp: Int, p: Long): Column =
    call_function("graft_portable_minhash_sig", c,
      org.apache.spark.sql.functions.lit(kp), org.apache.spark.sql.functions.lit(p))
}

/** Bounded, mergeable bottom-K (KMV) distinct-count sketch over a
  * pre-hashed BIGINT column, as a typed
  * [[org.apache.spark.sql.expressions.Aggregator]] — the streaming twin
  * of [[graft.operators.AnalyticsOps.sketchKmvSetops]]'s batch sketch.
  * State per group is AT MOST K=64 longs regardless of how many rows the
  * group sees, which is the whole point on an unbounded stream: a
  * watermarked windowed `countDistinct` would hold every distinct key in
  * state; this holds 64. Buffer is kept sorted ascending and duplicate
  * hashes are ignored (KMV counts DISTINCT hashes); merge folds one
  * sorted buffer into the other — commutative/associative/idempotent, so
  * partial aggregation and state-store merges are exact.
  *
  * `finish` returns the estimate itself: exact `n` while the sketch is
  * unsaturated (< K distinct hashes seen), else (K−1)·2^60 / U_(K) with
  * U_(K) the buffer max — the SAME double-typed expression the DuckDB
  * oracle evaluates, so the streamed estimate hash-matches a batch
  * recomputation. Hashes must be uniform on [0, 2^60) (md5-derived
  * upstream). `reduce`/`merge` double as the sketch fold of the snapshot
  * manifest's per-column NDV (`#ndv:` lines): `graft.sources.StatsFold`,
  * the one per-file stats fold, calls them directly inside each write
  * task and in `analyze`, and the sketches merge driver-side. */
object KmvDistinctAgg
    extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Double] {
  val K = 64
  /** 2^60 — the hash range; exposed for estimate recomputation from a
    * stored sketch ([[graft.sources.SnapshotTable.metaAgg]]). */
  val M = 1152921504606846976.0

  /** Estimate from a stored sketch: exact below K, (K−1)·2^60/U_(K)
    * at saturation. */
  def estimate(sk: Seq[Long]): Double =
    if (sk.length < K) sk.length.toDouble
    else (K - 1).toDouble * M / sk.max.toDouble

  private[functions] def insert(b: Array[Long], h: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(b, h)
    if (i >= 0) return b // duplicate hash: distinct count unchanged
    val pos = -i - 1
    if (b.length < K) {
      val out = new Array[Long](b.length + 1)
      System.arraycopy(b, 0, out, 0, pos)
      out(pos) = h
      System.arraycopy(b, pos, out, pos + 1, b.length - pos)
      out
    } else if (pos < K) {
      // displaces the current Kth-smallest
      val out = new Array[Long](K)
      System.arraycopy(b, 0, out, 0, pos)
      out(pos) = h
      System.arraycopy(b, pos, out, pos + 1, K - pos - 1)
      out
    } else b
  }

  /** Reserved skip marker: a row mapped to this value contributes
    * nothing (real hashes live in [0, 2^60)). This is how non-domain
    * rows (NULL keys, a backfill's flush sentinel) ride through the
    * aggregation WITHOUT a pre-aggregation filter — a filter below the
    * watermarked agg gets pushed under the EventTimeWatermark node and
    * would stop the very rows that advance the clock from being seen. */
  val Skip: Long = Long.MinValue

  override def zero: Array[Long] = Array.empty[Long]
  override def reduce(b: Array[Long], h: Long): Array[Long] =
    if (h == Skip) b else insert(b, h)
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
    if (x.length >= y.length) y.foldLeft(x)(insert)
    else x.foldLeft(y)(insert)
  override def finish(b: Array[Long]): Double =
    if (b.length < K) b.length.toDouble
    else (K - 1).toDouble * M / b.last.toDouble
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
    org.apache.spark.sql.Encoders.scalaDouble
}

/** Fixed-size per-file membership Bloom for the snapshot manifest's
  * zone maps (`SnapshotTable` declared-column file skipping): 8192 bits
  * (1 KiB) per (file, declared column), k = 4 probes. The four bit
  * positions are four disjoint 13-bit SLICES of one xxhash64 — so the
  * fold's input is simply the hash's low 52 bits (one hash per row, no
  * rehash per probe), and the read side recomputes the same slices
  * from the literal's hash. State is a fixed 1 KiB bitmap no matter how
  * many rows a file holds; a high-distinct file saturates the filter,
  * which degrades to "cannot refute" — never unsound. The bitmap is
  * built by `graft.sources.StatsFold`, the one per-file stats fold
  * (inside the write job of every commit layout, and in `analyze`);
  * an empty bitmap means no Bloom recorded. Input contract:
  * `hash & Mask52` for a non-null value, [[Skip]] for a null row
  * (nulls must not set bits — `x = v` never matches null). */
object BloomBits {
  val Bits = 8192
  val SliceBits = 13
  val K = 4
  /** (1 << 52) − 1: the packed-positions mask the write side applies. */
  val Mask52: Long = (1L << (SliceBits * K)) - 1
  /** Reserved skip marker for null rows (real packed values are ≥ 0). */
  val Skip: Long = -1L

  private def positions(packed: Long): Array[Int] = {
    val p = new Array[Int](K)
    var i = 0
    while (i < K) {
      p(i) = ((packed >>> (i * SliceBits)) & (Bits - 1)).toInt
      i += 1
    }
    p
  }

  /** Read-side probe: can a file whose bloom is `b` contain a value
    * hashing to `h`? (Only `h`'s low 52 bits are read.) */
  def mightContain(b: Array[Byte], h: Long): Boolean = {
    val ps = positions(h & Mask52)
    var i = 0
    while (i < K) {
      val p = ps(i)
      if ((b(p >>> 3) & (1 << (p & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Set `packed`'s four bits in `b` (allocating the bitmap on the
    * first non-null value); [[Skip]] leaves `b` as it is. */
  def add(b: Array[Byte], packed: Long): Array[Byte] =
    if (packed == Skip) b
    else {
      val buf = if (b.length == Bits / 8) b else new Array[Byte](Bits / 8)
      val ps = positions(packed)
      var i = 0
      while (i < K) {
        val p = ps(i)
        buf(p >>> 3) = (buf(p >>> 3) | (1 << (p & 7))).toByte
        i += 1
      }
      buf
    }

  /** Bitwise OR of two bitmaps of one file (either may be empty). */
  def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] =
    if (x.isEmpty) y
    else if (y.isEmpty) x
    else {
      var i = 0
      while (i < x.length) { x(i) = (x(i) | y(i)).toByte; i += 1 }
      x
    }
}
