package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` / `embeddings`:
  *
  *  - exact dedup           — hash-groupBy on a content digest
  *  - MinHash + LSH         — shingle → minhash signature → banded buckets
  *                            → candidate pairs (never all-pairs)
  *  - SimHash               — 64-bit sketch, banded hamming candidates,
  *                            `bit_count(xor)` verification (codegen'd)
  *  - n-gram Jaccard        — exact set similarity via shingle equi-join
  *                            (inverted-index join, not a cross join)
  *
  * Scale discipline: every near-dup op is *blocked* — candidates come from
  * an equi-join on a short key (band hash / shingle), so the shuffle is
  * keyed and the quadratic blowup is bounded by bucket size, which is how
  * these run over billions of documents. No collects, no cartesians.
  */
object DedupOps extends QueryPack {

  /** Distinct word-3-gram shingles of `text` (empty when < 3 tokens).
    * Built from three array slices zipped together so `split` is evaluated
    * a constant number of times per row — an index-based
    * `transform(sequence(...), i -> element_at(split(text), i))` form
    * re-splits the text per element (O(tokens²) in the interpreted
    * expression path) and was the bench bottleneck. */
  private val shingles3: Column = expr(
    """CASE WHEN size(split(text, ' ')) >= 3 THEN
      |  array_distinct(zip_with(
      |    zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 2),
      |             slice(split(text, ' '), 2, size(split(text, ' ')) - 2),
      |             (a, b) -> concat(a, ' ', b)),
      |    slice(split(text, ' '), 3, size(split(text, ' ')) - 2),
      |    (ab, c) -> concat(ab, ' ', c)))
      |ELSE array() END""".stripMargin)

  /** Documents resharded before compute-heavy per-doc work — but ONLY
    * when the scan arrives under-split (the small-fixture case, where one
    * split would serialize the explode/sketch stages onto one core). At
    * real scale the scan already yields many splits and [[Tables.sharded]]
    * leaves the plan Exchange-free. */
  private def docsSharded(s: SparkSession, d: String): DataFrame =
    Tables.sharded(Tables.documents(s, d), "doc_id")

  /** MinHash signatures, computed the scalable way: explode shingles to
    * (doc_id, shingle) rows, then ONE hash aggregate with K min(xxhash64
    * (shingle, seed)) columns. Partial (map-side) aggregation means each
    * input split contributes K longs per doc to the shuffle — this is the
    * shape that survives billions of docs. (A nested higher-order-function
    * expression version generated pathological Janino codegen.) */
  private val K = 32

  /** (doc_id, shingle) rows — the row set `explode(shingles3)` produces,
    * emitted by the compiled [[graft.functions.NgramRows]] generator
    * instead of the interpreted zip_with chain (same distinct 3-gram set
    * per doc, one JVM loop per row instead of per-element lambda frames). */
  private[operators] def shingleRows(docs: DataFrame): DataFrame = {
    graft.functions.GeneratorExpressions.register(docs.sparkSession)
    docs.select(col("doc_id"),
        graft.functions.GeneratorExpressions.ngram_rows(col("text"), 3)
          .as(Seq("shingle", "n_sh")))
      .select(col("doc_id"), col("shingle"))
  }

  /** K-column MinHash signatures in ONE fused codegen pass per doc
    * ([[graft.functions.MinHashSignature]]) — bit-identical to the
    * explode → K min(xxhash64(shingle, i)) aggregation it replaced
    * (spec-pinned), but shuffle-free: the first shuffle of every MinHash
    * pipeline is now the banded candidate join itself. Docs without a
    * shingle (< 3 tokens) have no signature, as before. */
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    minhashSigsFrom(docsSharded(s, d))

  /** Signature pass over an explicit (doc_id, text) frame — shared by the
    * declared corpus query and the planted-twin recall audit. */
  private def minhashSigsFrom(docs: DataFrame): DataFrame = {
    graft.functions.SketchExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        graft.functions.SketchExpressions.minhash_sig(col("text"), K).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** 64-bit SimHash in ONE fused codegen pass per doc
    * ([[graft.functions.SimHash64]]) — bit-identical to the explode →
    * 64 vote-sum aggregation it replaced (spec-pinned: same
    * xxhash64-seed-42 token hashes, same sign fold), but shuffle-free. */
  private def simhashes(s: SparkSession, d: String): DataFrame =
    simhashesFrom(docsSharded(s, d))

  private def simhashesFrom(docs: DataFrame): DataFrame = {
    graft.functions.SketchExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        graft.functions.SketchExpressions.simhash64(col("text")).as("sh"))
      // preserve the row set of the explode→aggregate form this replaced:
      // NULL-text docs have no sketch row (as minhashSigs already does)
      .filter(col("sh").isNotNull)
  }

  /** Exact-dup corpus stats: one always-nonempty row. */
  def exactStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dup_rows"))

  /** Exact-dup groups: digest → group size + survivor id (min). The
    * canonical exact dedup: one shuffle on the digest, map-side partial.
    *
    * The synthetic fixture corpus is duplicate-free at small scale
    * factors, which would make this gate pass vacuously (0 rows == 0
    * rows proves execution, not selectivity). The query therefore PLANTS
    * a deterministic duplicate slice — every 97th doc re-appended under
    * `doc_id + 1e12` — identically in the Spark plan and the DuckDB
    * oracle, so the groups/survivor logic is verified on real nonempty
    * groups at every scale. */
  def exactGroups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs.unionByName(
      docs.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000000000L))
    planted
      .groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .filter(col("n") > 1)
      .orderBy(col("fp"))
  }

  /** MinHash+LSH candidate pairs with signature-estimated Jaccard.
    * bands=8 × rows=4 over a K=32 signature; candidates = pairs sharing at
    * least one band bucket; estimate = matching signature fraction. */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsFrom(minhashSigs(s, d))

  /** The banded candidate join over an explicit (doc_id, sig) frame —
    * shared by the declared query and [[sketchRecall]], so the audit
    * measures the EXACT production pipeline, cap included. */
  private[operators] def minhashPairsFrom(docs: DataFrame): DataFrame = {
    // materialized once: the band table feeds the hot-bucket aggregate
    // AND both self-join sides — un-checkpointed, Catalyst re-plans the
    // scan+sketch+explode under each consumer (the ngramJaccard lesson)
    val allBands = docs.select(col("doc_id"), col("sig"),
      posexplode(expr("transform(sequence(0, 7), b -> xxhash64(" +
        "element_at(sig, 4*b+1), element_at(sig, 4*b+2), " +
        "element_at(sig, 4*b+3), element_at(sig, 4*b+4), b))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .localCheckpoint(true)
    // Same >500 hot-bucket cap as the SimHash paths: a band value shared
    // by thousands of docs costs |bucket|² join rows on one skewed key.
    // No broadcast hint — unlike the 16-bit SimHash chunks the xxhash64
    // bucket space is unbounded, so the hot set is data-dependent (though
    // tiny in practice: ≤ corpusBands/500 keys; AQE broadcasts it when
    // small).
    val hot = allBands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > HotBucketCap)
      .select(col("band"), col("bucket"))
    val bands = allBands.join(hot, Seq("band", "bucket"), "left_anti")
    val left = bands.select(col("band"), col("bucket"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val right = bands.select(col("band"), col("bucket"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    left.join(right, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / CAST($K AS DOUBLE)"), 4)
          .as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared banded-hamming LSH pipeline over a 64-bit-or-less sketch
    * frame `(doc_id, sk)`: split the sketch into `nBands` chunks of
    * `bandBits` bits, equi-join on (band, chunk) with the overfull-bucket
    * cap (standard LSH hygiene — a band value shared by thousands of docs
    * has no discriminating power but costs |bucket|² join rows on one
    * skewed key; the bound survives any corpus size), then verify with
    * hamming = bit_count(a XOR b) <= maxHamming in whole-stage codegen.
    * One sketch pass feeds the hot-bucket aggregate AND both join sides
    * via the eager checkpoint. Used by [[simhashPairs]],
    * [[simhashPortable]], and [[MultimodalOps.phashPairs]]. */
  private[operators] def bandedHammingPairs(sketch: DataFrame,
      nBands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val allBands = sketch.select(col("doc_id"), col("sk"),
      posexplode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> (sk >> ($bandBits * b)) & $mask)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
      .localCheckpoint(true)
    val hot = allBands.groupBy(col("band"), col("chunk"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > HotBucketCap)
      .select(col("band"), col("chunk"))
    val bands = allBands.join(broadcast(hot), Seq("band", "chunk"), "left_anti")
    val left = bands.select(col("band"), col("chunk"), col("doc_id").as("doc_a"), col("sk").as("sk_a"))
    val right = bands.select(col("band"), col("chunk"), col("doc_id").as("doc_b"), col("sk").as("sk_b"))
    left.join(right, Seq("band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("sk_a ^ sk_b")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dup candidates over the xxhash64 engine family:
    * 4×16-bit bands → equi-join blocking, verify with hamming =
    * bit_count(a XOR b) <= 8 (whole-stage codegen). The production
    * pipeline `dedup_sketch_recall` audits against exact ground truth;
    * the DECLARED `dedup_simhash_pairs` query serves the portable-hash
    * family instead ([[simhashPairsPortable]]) so its answer is
    * oracle-checked end to end — same banding/verify code path, only
    * the per-token hash differs. */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsFrom(docsSharded(s, d))

  private[operators] def simhashPairsFrom(docs: DataFrame): DataFrame =
    bandedHammingPairs(
      simhashesFrom(docs).select(col("doc_id"), col("sh").as("sk")),
      nBands = 4, bandBits = 16, maxHamming = 8)

  /** Modulus of the PORTABLE hash family: base-31 polynomial fold of a
    * string's codepoints mod 1e9+7 ([[graft.functions.PolyHash]]) — pure
    * integer arithmetic DuckDB reproduces exactly (`ord` + `list_reduce`),
    * unlike the engine-specific xxhash64 family. */
  private val P = 1000000007L

  private val KP = 8

  /** MinHash+LSH over the PORTABLE hash family: 8-long signatures from
    * affine transforms of the PolyHash, banded 4×2 into candidate
    * buckets. Same fused-signature → banded equi-join shape as
    * [[minhashPairs]] (the xxhash64 production path), but every integer is
    * reproducible in ANSI SQL — so the whole pipeline (shingle → signature
    * → banding → estimate) is oracle-checked end to end rather than
    * spec-tested. Multipliers stay below 2^6, keeping every intermediate
    * under 2^36 — safe for ANSI-mode long arithmetic in both engines. */
  /** Portable K-min signatures for a (doc_id, text) frame — the shared
    * core of [[minhashPortable]] and [[ingestDedupMinhash]]. */
  private def portableSigs(docs: DataFrame): DataFrame = {
    graft.functions.SketchExpressions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        graft.functions.SketchExpressions
          .portable_minhash_sig(col("text"), KP, P).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until KP).map(k => element_at(col("sig"), k + 1).as(s"p$k")): _*)
  }

  /** 4×2 banding of a portable signature frame → (doc_id, band, bk, p0..p7),
    * with the same >500 hot-bucket cap as every other banded path: buckets
    * shared by more docs than the cap are non-discriminative and would cost
    * |bucket|² (or |batch∩bucket|×|corpus∩bucket|) join rows on one skewed
    * key. Mirrored in both portable DuckDB oracles, so the cap is verified. */
  private def portableBands(sig: DataFrame): DataFrame = {
    val bandArr = array((0 until KP / 2).map(b =>
      array(col(s"p${2 * b}"), col(s"p${2 * b + 1}"))): _*)
    val all = sig.select(
      (col("doc_id") +: (0 until KP).map(k => col(s"p$k"))) :+ posexplode(bandArr): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
      .localCheckpoint(true) // one sketch pass for hot-agg + both join sides
    val hot = all.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > HotBucketCap)
      .select(col("band"), col("bk"))
    all.join(hot, Seq("band", "bk"), "left_anti")
  }

  /** Shared overfull-bucket bound for every banded LSH join (minhash,
    * simhash, portable twins, ingest). */
  private[operators] val HotBucketCap = 500

  private def portableEqCount: Column = (0 until KP).map(k =>
    when(col(s"a$k") === col(s"b$k"), 1).otherwise(0)).reduce(_ + _)

  def minhashPortable(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashExpressions.register(s)
    val bands = portableBands(portableSigs(docsSharded(s, d)))
    def side(t: String) = bands.select(
      Seq(col("band"), col("bk"), col("doc_id").as(s"doc_$t")) ++
        (0 until KP).map(k => col(s"p$k").as(s"$t$k")): _*)
    val eqCount = portableEqCount
    side("a").join(side("b"), Seq("band", "bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(eqCount.cast("double") / KP, 4).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash over the PORTABLE hash family: 60-bit sketches where bit `b`
    * of a token is the upper-half test of an affine scramble
    * `(h0·A_b + C_b) mod P >= P/2`. The multipliers MUST be large (~P):
    * with small A_b the product barely wraps mod P, every bit correlates
    * with the magnitude of h0, and the sketches collapse (measured: half
    * of all pairs at hamming 0). Knuth-constant-derived A_b keep products
    * under 2^63 for ANSI-safe long math in both engines. Banding is 4×15
    * bits with the same >500 hot-bucket cap as the production path —
    * here the cap is in the ORACLE too, so it is verified, not just
    * asserted. */
  private val SB = 60
  private val simA = (0 until SB).map(b => (2654435761L * (b + 1)) % P)
  private val simC = (0 until SB).map(b => (40503L * (b + 7) * (b + 13)) % P)

  private def simhashPortableAt(maxHamming: Int)(
      s: SparkSession, d: String): DataFrame = {
    graft.functions.SketchExpressions.register(s)
    // fused per-doc sketch ([[graft.functions.PortableSimHash]]) — same
    // affine-vote integers as the 60-aggregate form (and the DuckDB
    // oracle, which still spells out the votes), computed shuffle-free
    val sk = docsSharded(s, d)
      .select(col("doc_id"),
        graft.functions.SketchExpressions.portable_simhash(col("text"), SB, P)
          .as("sk"))
    bandedHammingPairs(sk, nBands = 4, bandBits = 15, maxHamming = maxHamming)
  }

  def simhashPortable(s: SparkSession, d: String): DataFrame =
    simhashPortableAt(4)(s, d)

  /** The DECLARED `dedup_simhash_pairs`: the portable family at the
    * production looseness (hamming ≤ 8 of 60 bits — the pairs query's
    * contract) — SAME pipeline as [[simhashPortable]], threshold only,
    * so the answer is DuckDB-checked while the xxhash64 engine family
    * stays exercised (and recall-audited against exact ground truth)
    * through `dedup_sketch_recall`. */
  def simhashPairsPortable(s: SparkSession, d: String): DataFrame =
    simhashPortableAt(8)(s, d)

  /** Document-frequency cap for the exact-Jaccard inverted index: a
    * stop-shingle ("of the and"-class 3-grams) occurring in k documents
    * costs k² join rows on ONE key — the same skewed-hot-key shape the
    * banded sketches cap at >500. Shingles with df > cap carry no
    * discriminating signal (standard practice for exact Jaccard over web
    * corpora; truly-near-dup pairs still share plenty of rare shingles),
    * so both the index AND the per-doc sizes are computed over the capped
    * shingle universe — mirrored exactly in the DuckDB oracle. */
  private[operators] val DfCap = 500

  /** Exact n-gram Jaccard via inverted-index equi-join on shingles —
    * |A∩B| from the join, |A|,|B| from per-doc shingle counts; all-integer
    * arithmetic so the DuckDB oracle matches bit-for-bit. Jaccard is over
    * the df-capped shingle universe (see [[DfCap]]). */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardRel(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** The memoized, checkpointed Jaccard pair relation (unordered) —
    * [[ngramJaccard]]'s result set, shared with [[componentLabels]],
    * whose edge set IS this relation: a production pipeline generates
    * candidate pairs once and both reports them and clusters them, so
    * the library caches the relation the way it caches the labeling.
    * Invalidated by [[graft.CacheRegistry.clear]] at pass boundaries. */
  private val jaccardCache = new graft.CacheRegistry.VersionedMemo[DataFrame]()
  private[operators] val jaccardBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private def ngramJaccardRel(s: SparkSession, d: String): DataFrame =
    jaccardCache.getOrBuild(s, d + "/documents.parquet") {
      jaccardBuilds.incrementAndGet()
      ngramJaccardBuild(s, d).localCheckpoint(true)
    }

  /** THE memoized corpus shingle relation — (doc_id, shingle) over the
    * raw documents table, checkpointed once per corpus version and
    * shared by every shingle consumer (the ngram-Jaccard build, the
    * prefix-join family, containment, the ingest probe): the exploded
    * generate is the dominant per-row cost of all of them, and a
    * production pipeline materializes the shingle index exactly once.
    * Planted slices DERIVE from it by id-shift — shingling is per-doc
    * deterministic, so a twin's shingle rows are its original's with
    * the id moved, no second generate. Invalidated by
    * [[graft.CacheRegistry.clear]] at pass boundaries. */
  private val shingleCache = new graft.CacheRegistry.VersionedMemo[DataFrame]()
  private[operators] def corpusShingles(s: SparkSession, d: String): DataFrame =
    shingleCache.getOrBuild(s, d + "/documents.parquet") {
      shingleRows(docsSharded(s, d)).localCheckpoint(true)
    }

  private[graft] def ngramJaccardBuild(s: SparkSession, d: String): DataFrame = {
    // The exploded shingle table feeds FIVE consumers (the df-cap
    // aggregate, both self-join sides, and the two size joins), and the
    // zip_with shingle assembly is the dominant per-row cost — without
    // materialization Catalyst re-plans the scan+explode under every
    // consumer (measured: 8 scans, 8 Generates, zero reused exchanges).
    // The memoized checkpoint computes it once, distributed across
    // executors; this is the one intermediate any production shingle
    // pipeline caches. (A collect_list-per-shingle inverted list would
    // avoid the self-join but materializes a hot shingle's FULL doc list
    // in one task before the cap can drop it — OOM at scale.)
    val sh0 = corpusShingles(s, d)
    // semi-join against the low-df shingle set: keyed on shingle like the
    // self-join below, and NOT broadcast — the low-df set is O(distinct
    // shingles), corpus-sized (AQE may still broadcast the df aggregate
    // when it is actually small).
    val lowDf = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= DfCap).select(col("shingle"))
    val sh = sh0.join(lowDf, Seq("shingle"), "left_semi")
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // NO broadcast hint on sz: it has one row per document (O(corpus)),
    // so forcing a broadcast would grow with the input and OOM the
    // driver/executors at scale. Plain keyed shuffle joins — AQE still
    // broadcasts at runtime when the aggregate output is actually small.
    inter
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")) >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** Embedding near-dup: hyperplane-LSH blocking (shared with
    * SimilarityOps) then exact cosine >= 0.9 verification on candidates.
    *
    * Like [[exactGroups]], the fixture vectors have no natural >=0.9
    * pairs at test scale (measured max pairwise cosine: 0.51 at sf0.01,
    * 0.60 at sf0.1), so the query plants exact-copy vectors — every
    * 101st vec re-appended under `vec_id + 1e12` — identically in
    * both engines. Identical vectors land in the same LSH bucket in
    * every table by construction, so blocking recall on the planted
    * pairs is exactly 1 and the DuckDB brute-force oracle (which has no
    * LSH stage) agrees on the full result set: the >=0.9 survivors are
    * the planted cos=1.0 pairs, with a >=0.29 margin to the nearest
    * natural pair, far beyond float-vs-double rounding noise. */
  def embeddingDup(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val base0 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val base = base0.unionByName(
      base0.filter(col("vec_id") % 101 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000000000L))
    val emb = base
      .select(col("vec_id"), col("embedding"),
        explode(SimilarityOps.lshBuckets(col("embedding"))).as("bucket"))
    val left = emb.select(col("bucket"), col("vec_id").as("id_a"))
    val right = emb.select(col("bucket"), col("vec_id").as("id_b"))
    // Collapse multi-table collisions on the ID PAIR alone, then join the
    // vectors back for the exact check — running distinct() over rows that
    // still carry both 64-float embeddings would shuffle every vector once
    // per candidate pair; id-pair dedup shuffles 2 longs instead.
    val cand = left.join(right, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), "id_a")
      .join(base.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(SimilarityOps.cosine(col("e_a"), col("e_b")), 4).as("cos"))
      .filter(col("cos") >= 0.9)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDedup cosine threshold — tight enough that only true semantic
    * copies connect (the published recipe prunes at 0.95–0.996 for
    * web-scale corpora; the planted exact twins sit at cos 1.0 with a
    * wide margin to natural neighbors). */
  private val SemTau = 0.99

  /** SEMANTIC deduplication, SemDedup-style (the cluster-then-prune
    * recipe of Abbas et al. 2023, arXiv:2303.09540): quantize the
    * embedding space with the IVF spherical-k-means coarse quantizer
    * (√N clusters, deterministic seeding + lower-id argmin ties),
    * generate candidate pairs ONLY WITHIN clusters, connect them at
    * cos ≥ [[SemTau]], label connected components, and keep the min-id
    * representative per component. The scale contract is the IVF one:
    * pair work is Σ|cluster|² ≈ N·√N, never the N² all-pairs a naive
    * semantic dedup would pay — the published way to semantic-dedup a
    * pretraining corpus.
    *
    * Output is a ONE-ROW audit the oracle states in closed form.
    * Ground truth comes from PLANTED exact twins (every
    * `vec_id % 101 == 0` re-appended under +1e12, the
    * [[embeddingDup]] device): an identical vector lands in the same
    * cluster (same distances, deterministic tie) at cos 1.0, and the
    * twin is never its component's minimum, so EVERY planted twin must
    * be dropped — `n_dropped_twins` equals the SQL-counted plant size.
    * The structural verdicts re-derive from the OUTPUT sets rather
    * than trusting construction: every dropped vector's component
    * survivor is kept (`dropped_covered`), no two KEPT vectors still
    * form a ≥τ pair (`kept_no_dups`, re-checked against the pair
    * relation), and kept + dropped conserve the corpus
    * (`conservation_ok`). */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    graft.functions.CentroidExpressions.register(s)
    val base0 = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) > 0)
    // materialized ONCE: the Lloyd loop, the assignment, and the audit
    // all re-consume it
    // Plant only finite, nonzero-norm twins (cos(v,v) IS NOT NULL is
    // exactly that predicate — the annIvfAppend guard): a zero-norm
    // vector's cosine to ANYTHING is NULL, so its exact twin could never
    // connect at >= SemTau and the n_dropped_twins == n_planted audit
    // would mismatch on any corpus containing an all-zero embedding.
    val (base, n) = Checkpoint.counted(base0.unionByName(
      base0.filter(col("vec_id") % 101 === 0 &&
          SimilarityOps.cosine(col("embedding"), col("embedding")).isNotNull)
        .withColumn("vec_id", col("vec_id") + 1000000000000L)))
    val auditCols = Seq("n_vectors", "n_planted", "n_dropped_twins",
      "dropped_covered", "kept_no_dups", "conservation_ok")
    if (n == 0)
      return s.range(0).select(lit(0L).as("n_vectors"),
        lit(0L).as("n_planted"), lit(0L).as("n_dropped_twins"),
        lit(true).as("dropped_covered"), lit(true).as("kept_no_dups"),
        lit(true).as("conservation_ok"))
    val cents = SimilarityOps.trainCentroids(base,
      SimilarityOps.ivfClusterCount(n))
    val assigned = base.select(col("vec_id"), col("embedding"),
      SimilarityOps.nearestCluster(col("embedding"), cents).as("cl"))
    // within-cluster pair generation: ONE equi-join on the short cluster
    // id; each task verifies a cluster-sized block with the codegen
    // cosine kernel. The surviving ≥τ pair set is tiny (true semantic
    // copies only) — checkpointed because components AND the kept-pair
    // audit both consume it
    val l = assigned.select(col("cl"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"))
    val r = assigned.select(col("cl"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"))
    val pairs = l.join(r, Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      .filter(SimilarityOps.cosine(col("e_a"), col("e_b")) >= lit(SemTau))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val labels = componentsFromEdges(
      assigned.select(col("vec_id").as("doc_id")),
      pairs.select(col("id_a").as("a"), col("id_b").as("b")))
      .localCheckpoint(true)
    val kept = labels.filter(col("doc_id") === col("component"))
      .select(col("doc_id"))
    val dropped = labels.filter(col("doc_id") =!= col("component"))
    // one-row audit aggregates, crossed together (each side is 1 row)
    val counts = labels.agg(
      count(lit(1)).as("n_all"),
      sum(when(col("doc_id") >= 1000000000000L &&
        col("doc_id") =!= col("component"), 1L).otherwise(0L))
        .as("n_dropped_twins"),
      sum(when(col("doc_id") >= 1000000000000L, 1L).otherwise(0L))
        .as("n_planted"))
    val uncovered = dropped
      .join(kept.select(col("doc_id").as("component")), Seq("component"),
        "left_anti")
      .agg(count(lit(1)).as("n_uncovered"))
    val keptPairs = pairs
      .join(kept.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(kept.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      .agg(count(lit(1)).as("n_kept_pairs"))
    counts.crossJoin(uncovered).crossJoin(keptPairs)
      .select(lit(n).as("n_vectors"), col("n_planted"),
        col("n_dropped_twins"),
        (col("n_uncovered") === 0L).as("dropped_covered"),
        (col("n_kept_pairs") === 0L).as("kept_no_dups"),
        // the labeling must CONSERVE the corpus: no node lost or
        // duplicated through the pair graph / component join (checked
        // against the independently-counted input, not itself)
        (col("n_all") === lit(n)).as("conservation_ok"))
      .select(auditCols.map(col): _*)
  }

  /** Connected components over the duplicate-pair graph — the step a real
    * dedup pipeline needs AFTER pair generation: near-dup relations are
    * transitive in effect (A~B, B~C ⇒ one cluster), so survivors must be
    * picked per *component*, not per pair. Edges: the planted exact-dup
    * pairs ∪ n-gram Jaccard pairs (both deterministic + oracle-friendly).
    * Output: every doc (singletons included) with its component label =
    * min doc_id reachable, which IS the component's survivor id.
    *
    * Algorithm: alternating large-star / small-star rounds
    * ([[starRound]], the Kiveris et al. star contraction) over the
    * canonical (hi → lo) pair set. Each round re-points every node at
    * the minimum of its neighborhood, so components contract in
    * O(log diameter) rounds rather than the diameter that plain
    * min-label propagation needs. The loop stops on the first round
    * whose pairs form a star forest ([[starForestBreaks]] finds no
    * break): every component is then one star on its minimum, which is
    * its label. Per round: a few keyed exchanges and one
    * `localCheckpoint`, which keeps the lineage flat; no driver data
    * beyond the convergence test (see [[componentsWithRounds]]). */
  def connectedComponents(s: SparkSession, d: String): DataFrame =
    componentLabels(s, d).orderBy(col("doc_id"))

  /** Memoized, eagerly-checkpointed component labeling shared by
    * [[connectedComponents]] and [[dedupSurvivors]] — a production
    * pipeline labels the corpus ONCE and every downstream decision
    * (survivor pick, cluster stats, removal lists) reuses the labeling,
    * so the library caches it the way the band tables are cached: one
    * checkpointed (doc_id, component) table per (application, sf dir),
    * invalidated by [[graft.CacheRegistry.clear]] at pass boundaries. */
  private val labelCache = new graft.CacheRegistry.VersionedMemo[DataFrame]()
  private[operators] val labelBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private[operators] def labelCacheSize: Int = labelCache.size

  private[operators] def componentLabels(s: SparkSession, d: String): DataFrame =
    labelCache.getOrBuild(s, d + "/documents.parquet") {
      labelBuilds.incrementAndGet()
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val planted = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 1000000000000L).as("b"))
      val jac = ngramJaccardRel(s, d).select(col("doc_a").as("a"), col("doc_b").as("b"))
      val edges = planted.unionByName(jac)
      val nodes = docs.unionByName(planted.select(col("b").as("doc_id"))).distinct()
      componentsFromEdges(nodes, edges).localCheckpoint(true)
    }

  /** Source-level overlap estimation — the dataset-dedup PLANNING op: how
    * much do two ingest sources (crawl snapshots, data vendors) overlap,
    * estimated WITHOUT any cross-source document join. MinHash is
    * mergeable: a source's signature over the union of its docs' shingle
    * sets is the element-wise min of the per-doc signatures, so each
    * source collapses to KP longs and the pairwise estimate is an
    * O(#sources²) comparison of tiny signatures — at 100 TB the only
    * corpus-sized work is the one signature projection. A synthetic
    * `src_mirror` source (every 7th doc re-tagged) plants real overlap
    * with every source so the estimator is exercised on nonzero signal,
    * identically in the oracle. The #sources² comparison is an
    * intentional tiny broadcast nested loop (O(#sources) rows). */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    graft.functions.SketchExpressions.register(s)
    val base = Tables.documents(s, d).select(col("source"), col("text"))
    val withMirror = base.unionByName(
      Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
        .select(lit("src_mirror").as("source"), col("text")))
    val sigs = withMirror
      .select(col("source"),
        graft.functions.SketchExpressions
          .portable_minhash_sig(col("text"), KP, P).as("sig"))
      .filter(col("sig").isNotNull)
    val minCols = (0 until KP).map(k => min(element_at(col("sig"), k + 1)).as(s"p$k"))
    val srcSig = sigs.groupBy(col("source")).agg(minCols.head, minCols.tail: _*)
    val aSide = srcSig.select(col("source").as("src_a") +:
      (0 until KP).map(k => col(s"p$k").as(s"a$k")): _*)
    val bSide = srcSig.select(col("source").as("src_b") +:
      (0 until KP).map(k => col(s"p$k").as(s"b$k")): _*)
    val eq = (0 until KP).map(k =>
      when(col(s"a$k") === col(s"b$k"), 1).otherwise(0)).reduce(_ + _)
    aSide.join(broadcast(bSide), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), eq.cast("long").as("n_match"),
        round(eq.cast("double") / KP, 4).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Canonical-survivor selection — the dedup DECISION step a pipeline
    * runs after clustering: within every multi-member duplicate cluster
    * keep exactly one representative, here the highest-quality member
    * (quality = `n_chars`, the stand-in for a real quality score; the
    * planted +1e12 twin ids have no documents row and rank `-1`, so a
    * real doc always wins). Deterministic tiebreak by lowest doc_id via
    * the window ordering. One keyed window pass + one count aggregate
    * over the labeling — the cluster step dominates, as it should. */
  def dedupSurvivors(s: SparkSession, d: String): DataFrame = {
    val labeled = componentLabels(s, d)
    val q = labeled
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"), "left")
      .withColumn("qual", coalesce(col("n_chars").cast("long"), lit(-1L)))
    val sizes = q.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(col("qual").desc, col("doc_id"))
    q.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sizes, "component")
      .filter(col("n_members") > 1)
      .select(col("component"), col("n_members"),
        col("doc_id").as("survivor_id"), col("qual").as("survivor_qual"))
      .orderBy(col("component"))
  }

  /** The reusable core behind [[connectedComponents]]:
    * `nodes(doc_id)` × undirected `edges(a, b)` → `(doc_id, component)`
    * where component = min node id reachable. Property-tested against a
    * driver-side union-find on random graphs. */
  def componentsFromEdges(nodes: DataFrame, edges: DataFrame): DataFrame =
    componentsWithRounds(nodes, edges)._1

  /** Alternating large-star / small-star connected components (the
    * two-phase MapReduce algorithm of Kiveris et al., SoCC'14): each
    * round hooks every node's strictly-larger neighbors (large-star) /
    * not-larger neighbors (small-star) directly onto the minimum of its
    * closed neighborhood, so label information hops along SHORTCUTS that
    * double in reach — convergence in O(log diameter) rounds, vs the
    * O(diameter) of plain min-label propagation. Clique-like dup
    * components never cared, but chain-shaped near-dup graphs (A~B~C~…
    * at a sliding threshold) do.
    *
    * Each round is two keyed groupBy+join pairs — partial-aggregated,
    * no driver data beyond the convergence test — and the edge frame is
    * `localCheckpoint`ed so lineage stays flat. At the fixpoint the
    * edges form one star per component, centered at its minimum — which
    * IS the survivor id — and the loop stops on the round that first
    * produces that star forest ([[starForestBreaks]]), with no
    * confirmation round. Returns (labels, rounds). */
  /** ONE alternating-star round over the canonical pair set — the loop
    * body of [[componentsWithRounds]], extracted so [[graft.PlanCheck]]
    * can pin its plan shape. The LARGE-STAR OUTPUT is repartitioned
    * ONCE on the star key: hash(a) satisfies the (a,b) dedup's
    * clustering, the small-star min aggregate's distribution AND the
    * join-back's — so one exchange serves all three consumers
    * (ReusedExchange ×3; guide §2.4 "two operations keyed the same way
    * share one exchange") where each previously shuffled separately.
    * Exchange budget per round: 4 (sym partial-agg, sym join side,
    * the shared large-star exchange, emitted-pair dedup) — down from
    * 5-6, with the joined-side full re-shuffle of the large output
    * gone. */
  private[graft] def starRound(pairs: DataFrame): DataFrame = {
    // large-star over the symmetric view: for each u, attach every
    // neighbor v > u to m = min(N(u) ∪ {u}); emitted pairs keep a > b
    // because m <= u < v. (The symmetric view is NOT pre-repartitioned:
    // the min aggregate's map-side partials and the join's pushed-down
    // b > a pre-filter each shrink their own exchange more than one
    // shared raw-row exchange would save — and the differing pushed
    // filters defeat ReuseExchange on this side anyway, measured.)
    val sym = pairs.unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
    val mL = sym.groupBy(col("a")).agg(least(min(col("b")), col("a")).as("m"))
    val large = sym.join(mL, "a").filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
      .repartition(col("a")).dropDuplicates("a", "b")
    // small-star over the canonical pairs: for each u, attach its
    // not-larger neighbors (and u itself) to m = min(N(u) ∪ {u})
    val mS = large.groupBy(col("a")).agg(least(min(col("b")), col("a")).as("m"))
    val joined = large.join(mS, "a")
    joined.filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .unionByName(joined.select(col("a"), col("m").as("b")))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** [[starRound]] over a deterministic small pair set — the
    * un-checkpointed one-round dataflow for plan assertions. */
  private[graft] def starRoundPlan(s: SparkSession, d: String): DataFrame =
    starRound(planPairs(s, d))

  private def planPairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id").isNotNull)
      .select((col("doc_id") + 1).as("a"), (col("doc_id") % 97).as("b"))
      .filter(col("a") =!= col("b"))

  /** Canonical pairs (a > b) that break the star-forest shape: a node
    * that is an `a` of more than one pair, or both an `a` and a `b`.
    * Empty exactly when every `a` has one `b` and no node is on both
    * sides — each component is then one star on its minimum, which
    * [[starRound]] maps to itself, so the loop stops on the round that
    * produced it. One keyed aggregate over the round's output. */
  private[graft] def starForestBreaks(pairs: DataFrame): DataFrame =
    pairs.select(col("a").as("node"), lit(1L).as("as_a"))
      .unionByName(pairs.select(col("b").as("node"), lit(0L).as("as_a")))
      .groupBy(col("node"))
      .agg(sum(col("as_a")).as("n_a"), count(lit(1)).as("n"))
      .filter(col("n_a") > 1 || (col("n_a") === 1 && col("n") > 1))

  /** [[starForestBreaks]] over the [[starRoundPlan]] pair set — the
    * convergence test's dataflow for plan assertions. */
  private[graft] def starForestPlan(s: SparkSession, d: String): DataFrame =
    starForestBreaks(planPairs(s, d))

  private[operators] def componentsWithRounds(
      nodes: DataFrame, edges: DataFrame): (DataFrame, Int) = {
    // canonical (hi → lo) pair set; self-loops dropped. Materialized ONCE —
    // it feeds every round, and without this the full pair-generation
    // pipeline (the expensive part) would re-execute per round. Its
    // observed row count is the emptiness test.
    val (canonical, n) = Checkpoint.counted(
      edges.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct())
    var pairs = canonical
    var rounds = 0
    var converged = n == 0
    while (!converged) {
      rounds += 1
      pairs = starRound(pairs).localCheckpoint(true)
      converged = starForestBreaks(pairs).isEmpty
    }
    val labels = nodes
      .join(pairs.select(col("a").as("doc_id"), col("b").as("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    (labels, rounds)
  }

  /** Chunk-level exact dedup scoring — the paragraph-dedup pass (the
    * Dolma / RefinedWeb shape) at sub-document granularity: the token
    * stream is cut into fixed 10-token chunks, each chunk is
    * content-digested, and a doc's score is the fraction of its chunks
    * whose digest occurs in MORE THAN ONE document. The fixture text
    * never repeats a 10-token window across docs naturally (the gate
    * would be vacuous), so a shared boilerplate header is PLANTED on
    * every 9th doc — identically in the oracle — the way crawl corpora
    * repeat cookie banners and license headers. Scale shape: explode →
    * one keyed shuffle on the chunk digest (distinct-doc count) →
    * digest-keyed join back; no self-join, no all-pairs — work is linear
    * in corpus chunks at 100 TB. */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val C = 10
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(lit(boilerplate + " "), col("text")))
          .otherwise(col("text")).as("t2"))
      .select(col("doc_id"), split(col("t2"), " ").as("tk"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(ceil(size(tk) / $C.0) AS INT) - 1), " +
          s"i -> md5(array_join(slice(tk, i * $C + 1, $C), ' ')))")).as("dg"))
    val shared = chunks.groupBy(col("dg"))
      .agg((countDistinct(col("doc_id")) > 1).as("shared"))
    chunks.join(shared, "dg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window substring dedup — the exact-substring signal of Lee
    * et al. ("Deduplicating Training Data Makes Language Models Better")
    * at token-window granularity: EVERY 8-token window (stride 1, unlike
    * [[chunkDedup]]'s disjoint grid) is content-digested, a window is
    * "duplicated" iff its digest occurs in more than one document, and a
    * doc reports its duplicated-window fraction plus the LONGEST RUN of
    * consecutive duplicated windows — a run of r windows certifies a
    * duplicated substring of r+7 tokens, so the planted 10-token
    * boilerplate header is recovered exactly (3 consecutive windows →
    * 10-token span) on every 9th doc.
    *
    * Scale shape: explode (≈ n_tokens windows/doc) → one keyed shuffle on
    * the digest (distinct-doc flag, partial-aggregated) → digest-keyed
    * join back → per-doc window pass for the run length. No self-join, no
    * all-pairs; work is linear in corpus tokens — the same budget the
    * suffix-array approach pays, with Spark-shuffle instead of
    * global-sort machinery. Docs under 8 tokens carry no window and are
    * excluded (mirrored in the oracle). */
  def substringSpans(s: SparkSession, d: String): DataFrame = {
    val W = 8
    graft.functions.GeneratorExpressions.register(s)
    val wins = docsSharded(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 9 === 0, concat(lit(boilerplate + " "), col("text")))
          .otherwise(col("text")).as("t2"))
      // compiled positional window generator (one row per overlapping
      // window, position kept) + codegen md5 — replaces the interpreted
      // transform(sequence(...)) struct assembly
      .select(col("doc_id"),
        graft.functions.GeneratorExpressions.ngram_windows(col("t2"), W)
          .as(Seq("i", "w")))
      .select(col("doc_id"), col("i"), md5(col("w")).as("dg"))
      // materialized: feeds the shared-digest aggregate AND the join left
      .localCheckpoint(true)
    val shared = wins.groupBy(col("dg"))
      .agg((countDistinct(col("doc_id")) > 1).as("shared"))
    // materialized: feeds the run-length pass AND the per-doc aggregate
    val flagged = wins.join(shared, "dg").localCheckpoint(true)
    // longest consecutive run of duplicated windows: the classic
    // gaps-and-islands grouping (i - row_number is constant per run)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = flagged.filter(col("shared"))
      .withColumn("grp", col("i") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("max_run"))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("n_dup_windows"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4).as("dup_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run_windows"),
        when(coalesce(col("max_run"), lit(0L)) > 0, coalesce(col("max_run"), lit(0L)) + (W - 1))
          .otherwise(0L).as("longest_dup_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Exactly 10 tokens so the planted header IS chunk 0 of every tagged
    * doc, shifting (not corrupting) the rest of the chunk grid. */
  private val boilerplate =
    "copyright header all rights reserved do not redistribute this document"

  // ---- Incremental ingest dedup: a NEW batch arrives and must be deduped
  // against the EXISTING corpus (not against itself) — the daily shape of
  // a crawl-ingestion pipeline, where re-deduping the whole corpus per
  // batch would be O(corpus) instead of O(batch). Fixture split:
  // corpus = doc_id % 4 != 3, batch = doc_id % 4 == 3, plus PLANTED
  // overlap (the synthetic slices share no natural duplicates): every
  // 50th corpus doc re-keyed at +2e12 (exact copy) and every (50k+25)th
  // with its first token dropped, re-keyed at +3e12 (a near-dup that is
  // NOT an exact dup) — identically in the DuckDB oracles.

  private val exactPlantOff = 2000000000000L
  private val nearPlantOff = 3000000000000L

  private def ingestCorpus(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 4 =!= 3)
      .select(col("doc_id"), col("text"))

  private def ingestBatch(s: SparkSession, d: String): DataFrame = {
    val corpus = ingestCorpus(s, d)
    Tables.documents(s, d).filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + exactPlantOff))
      .unionByName(corpus.filter(col("doc_id") % 50 === 25)
        .withColumn("doc_id", col("doc_id") + nearPlantOff)
        .withColumn("text",
          expr("array_join(slice(split(text, ' '), 2, size(split(text, ' '))), ' ')")))
  }

  /** Exact incremental dedup: each batch doc left-joins the corpus digest
    * index (digest → min doc_id). One keyed shuffle join — the corpus is
    * never broadcast and never self-joined; at scale the digest index is
    * a precomputed table and the probe is O(batch). */
  def ingestDedupExact(s: SparkSession, d: String): DataFrame = {
    val cd = ingestCorpus(s, d)
      .groupBy(md5(col("text")).as("fp")).agg(min(col("doc_id")).as("dup_of"))
    ingestBatch(s, d).select(col("doc_id"), md5(col("text")).as("fp"))
      .join(cd, Seq("fp"), "left")
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("is_new"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup incremental dedup over the portable MinHash family: one
    * signature pass over corpus ∪ batch, then the banded bucket join is
    * RESTRICTED to batch×corpus — batch-batch and corpus-corpus
    * collisions never materialize, so the candidate volume is O(batch
    * overlap), not O(corpus²). Oracle-checked end to end like
    * [[minhashPortable]]. */
  def ingestDedupMinhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashExpressions.register(s)
    val all = Tables.sharded(
      ingestCorpus(s, d).unionByName(ingestBatch(s, d)), "doc_id")
    val bands = portableBands(portableSigs(all))
    val isBatch = (col("doc_id") % 4 === 3) || (col("doc_id") >= exactPlantOff)
    def side(t: String, pred: Column) = bands.filter(pred).select(
      Seq(col("band"), col("bk"), col("doc_id").as(s"doc_$t")) ++
        (0 until KP).map(k => col(s"p$k").as(s"$t$k")): _*)
    side("a", isBatch).join(side("b", not(isBatch)), Seq("band", "bk"))
      .select(col("doc_a").as("batch_id"), col("doc_b").as("corpus_id"),
        round(portableEqCount.cast("double") / KP, 4).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= 0.5)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Oracle-gated recall audit for the PRODUCTION sketch pipelines —
    * the same planted-twin device as [[graft.operators.SimilarityOps.annRecall]]:
    * every 97th doc is re-appended as an exact copy under `doc_id + 1e12`
    * (the [[exactGroups]] convention), and the audit counts how many of
    * those planted (orig, twin) pairs the xxhash64 MinHash and SimHash
    * pipelines — run UNCHANGED, hot-bucket cap included — report back.
    * Identical texts have identical sketches, so every twin collides with
    * its original in EVERY band at est_jaccard 1.0 / hamming 0; expected
    * recall is therefore exactly the eligible-query count, which DuckDB
    * states in closed form (a doc is eligible for MinHash iff it has a
    * 3-shingle, i.e. >= 3 tokens; for SimHash iff text is non-null).
    * Turns `dedup_minhash_pairs`/`dedup_simhash_pairs` from rows-only
    * signals into an oracle-gated recall contract — any banding, cap,
    * threshold, or sketch regression breaks the hash. */
  def sketchRecall(s: SparkSession, d: String): DataFrame = {
    val plantOff = 1000000000000L
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 97 === 0)
      .withColumn("doc_id", col("doc_id") + plantOff)
    val base = Tables.sharded(docs.unionByName(planted), "doc_id")
    val isPlantSrc = col("doc_id") % 97 === 0 && col("text").isNotNull
    val mhQ = docs.filter(isPlantSrc && size(split(col("text"), " ", -1)) >= 3)
      .agg(count(lit(1)).as("n_queries"))
    val shQ = docs.filter(isPlantSrc)
      .agg(count(lit(1)).as("n_queries"))
    def audit(m: String, nQ: DataFrame, pairs: DataFrame): DataFrame =
      nQ.crossJoin(pairs.agg(
        sum(when(col("doc_b") === col("doc_a") + plantOff, 1L).otherwise(0L))
          .as("found")))
        .select(lit(m).as("method"), col("n_queries"),
          coalesce(col("found"), lit(0L)).as("n_found"))
    audit("minhash", mhQ, minhashPairsFrom(minhashSigsFrom(base)))
      .unionByName(audit("simhash", shQ, simhashPairsFrom(base)))
      .orderBy(col("method"))
  }

  /** Prefix-filtering threshold: high enough that the prefix (the
    * 1 − τ tail of each doc's rarest shingles) stays short. */
  private val PrefixTau = 0.6

  /** Distinct word-3-gram SHINGLE sets per doc (the [[shingleRows]]
    * generator) over the corpus plus a planted slice. Shingles, not
    * words, are the prefix-filter token deliberately: in a Zipf
    * vocabulary a doc made of common words puts common words in its
    * rarest-first prefix (global df stays huge → the candidate join
    * quadratically explodes — measured: a single coalesced task ran
    * minutes at sf0.1 on word tokens), while 3-gram dfs are long-tail
    * almost everywhere, keeping Σ df(prefix)² near-linear. Shared by
    * [[prefixJaccard]] and [[containment]]. */
  private def shingleTokens(s: SparkSession, d: String,
      plant: DataFrame => DataFrame): DataFrame = {
    val docs0 = docsSharded(s, d).select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    val docs = docs0.unionByName(plant(docs0))
    shingleRows(docs).withColumnRenamed("shingle", "token")
  }

  /** EXACT set-similarity self-join at Jaccard ≥ τ via PREFIX FILTERING
    * (the AllPairs/PPJoin candidate scheme of Bayardo et al. 2007 /
    * Xiao et al. 2008): order every doc's distinct shingles by global
    * rarity — (df, token) is already a total order, so no global rank
    * (and no single-task window) is ever computed — and join only on
    * each doc's PREFIX, its first |A| − ⌈τ·|A|⌉ + 1 rarest shingles,
    * under the EXACT length filter τ·max(|A|,|B|) ≤ min(|A|,|B|).
    * Completeness is the prefix theorem: any pair with J ≥ τ shares at
    * least one token inside both prefixes, so unlike the df-capped
    * [[ngramJaccard]] relation this is exact with NO recall cliff —
    * the df cap is replaced by the τ-derived prefix, and the candidate
    * volume is Σ df(prefix tokens)², long-tail by shingle choice.
    * Candidates are verified by counting the true intersection with a
    * keyed (doc, token) join — never all-pairs, never a full-set
    * self-join. */
  def prefixJaccard(s: SparkSession, d: String): DataFrame = {
    // serve from the memoized corpus shingle index; the planted twins
    // DERIVE by id-shift (a twin's shingle set IS its original's), so
    // the expensive generate runs zero extra times
    val cs = corpusShingles(s, d).filter(col("doc_id").isNotNull)
    prefixJaccardFrom(cs.unionByName(
        cs.filter(col("doc_id") % 97 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000000000L))
      .withColumnRenamed("shingle", "token"))
  }

  /** The un-checkpointed dataflow, for plan assertions
    * ([[graft.PlanCheck]]) — identical shape, no materialization. */
  private[graft] def prefixJaccardPlan(s: SparkSession, d: String): DataFrame =
    prefixJaccardFrom(prefixJaccardToks(s, d))

  private def prefixJaccardToks(s: SparkSession, d: String): DataFrame =
    shingleTokens(s, d,
      base => base.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000000000L))

  private def prefixJaccardFrom(toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfs = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val sz = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pos = toks.join(dfs, "token")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("token"))))
    // prefix length |A| − ⌈τ·|A|⌉ + 1 in EXACT integer arithmetic
    // (τ = 3/5): float ceil at an integer boundary could shorten the
    // prefix by one and silently break the completeness theorem
    val prefix = pos.join(sz, "doc_id")
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("sz"), col("token"), col("pos"))
    // candidate pruning beyond the length filter: PPJoin POSITIONAL
    // filtering (Xiao et al. 2008). Both docs' token lists are ranked by
    // the same global (df, token) total order, so a true pair's FIRST
    // common token is a generated collision (it lies in both prefixes by
    // the prefix theorem) and every other common token follows it in
    // BOTH lists — overlap ≤ 1 + min(|A|−pa, |B|−pb) at that collision.
    // Keeping only collisions whose bound reaches the required overlap
    // O = ⌈τ/(1+τ)·(|A|+|B|)⌉ = ⌈3(|A|+|B|)/8⌉ (exact integers) is
    // therefore lossless for true pairs and drops most false candidates
    // before the distinct + verify (measured sf0.1: 196k → 70k pairs).
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id") &&
        // exact length filter: J >= τ forces τ·max ≤ ∩ ≤ min (τ = 3/5)
        col("a.sz") * 5 >= col("b.sz") * 3 &&
        col("b.sz") * 5 >= col("a.sz") * 3 &&
        lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >=
          expr("(3 * (a.sz + b.sz) + 7) div 8"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify per PAIR against the docs' materialized shingle-set arrays
    // (one collect_list aggregate reused for both sides) instead of
    // re-exploding each candidate against the postings — the old
    // cand ⨝ toks_a ⨝ toks_b + pair-count aggregate shuffled |cand|·|A|
    // rows (measured sf0.1: 13.7M rows for 196k candidates) where this
    // moves |cand| array rows and counts the EXACT same intersection
    // (token sets are distinct per doc) in one codegen pass — guide
    // §2.3 "shuffle fewer bytes", §8 "decide on small rows".
    val arrs = toks.groupBy(col("doc_id"))
      .agg(collect_list(col("token")).as("ts"), count(lit(1)).as("sz"))
    val verified = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("ts").as("ts_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"),
        col("sz").as("sz_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
    verified
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")) >= PrefixTau)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** INGEST-SHAPE exact near-dup probe: each batch doc's EXACT Jaccard
    * ≥ τ matches in the standing corpus, via the one-sided prefix
    * filter — only the BATCH side is prefixed (completeness needs just
    * the pigeonhole: J ≥ τ forces ∩ ≥ ⌈τ·|A|⌉, so ANY
    * |A| − ⌈τ·|A|⌉ + 1 shingles of A must hit A∩B), ordered by the
    * CORPUS postings' df statistic (the index's own metadata; a batch
    * shingle absent from the corpus gets df 0 = rarest, which is both
    * correct and optimal — it can only hit nothing). Work is O(batch
    * prefix postings ⨝ index), never a corpus self-join: the
    * [[ingestDedupMinhash]] probe shape, but EXACT — the arriving-data
    * dedup gate with no sketch recall caveat. Same corpus/batch split
    * and planted slices as the other ingest queries. */
  def ingestJaccardPrefix(s: SparkSession, d: String): DataFrame = {
    // corpus and exact-twin batch slices derive from the memoized
    // shingle index by filter/id-shift; only the near-dup plant (first
    // word dropped — different shingles, ~1/200 of docs) re-generates
    val cs = corpusShingles(s, d).filter(col("doc_id").isNotNull)
    val corpusT = cs.filter(col("doc_id") % 4 =!= 3)
    val nearT = shingleRows(Tables.sharded(
      ingestCorpus(s, d).filter(col("doc_id") % 50 === 25)
        .withColumn("doc_id", col("doc_id") + nearPlantOff)
        .withColumn("text", expr(
          "array_join(slice(split(text, ' '), 2, size(split(text, ' '))), ' ')")),
      "doc_id")).localCheckpoint(true)
    val batchT = cs.filter(col("doc_id") % 4 === 3)
      .unionByName(corpusT.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + exactPlantOff))
      .unionByName(nearT)
    ingestJaccardPrefixFrom(corpusT.withColumnRenamed("shingle", "token"),
      batchT.withColumnRenamed("shingle", "token"))
  }

  /** Un-checkpointed dataflow for plan assertions. */
  private[graft] def ingestJaccardPrefixPlan(s: SparkSession, d: String): DataFrame =
    ingestJaccardPrefixFrom(
      shingleRows(Tables.sharded(ingestCorpus(s, d), "doc_id"))
        .withColumnRenamed("shingle", "token"),
      shingleRows(Tables.sharded(ingestBatch(s, d), "doc_id"))
        .withColumnRenamed("shingle", "token"))

  private def ingestJaccardPrefixFrom(corpusT: DataFrame,
      batchT: DataFrame): DataFrame =
    ingestProbe(corpusT,
      corpusT.groupBy(col("token")).agg(count(lit(1)).as("df")),
      corpusT.groupBy(col("doc_id")).agg(count(lit(1)).as("sz")),
      batchT)

  /** The probe dataflow with the corpus-wide statistics passed IN —
    * derived inline by the declared query, prebuilt and checkpointed by
    * the streaming gate's [[PrefixIndex]]. */
  private def ingestProbe(corpusT: DataFrame, dfs: DataFrame,
      szC: DataFrame, batchT: DataFrame,
      corpusArrs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val szB = batchT.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pos = batchT.join(dfs, Seq("token"), "left_outer")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("token"))))
    val prefix = pos.join(szB, "doc_id")
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id").as("batch_id"), col("sz").as("sz_b"),
        col("token"), col("pos"))
    // one-sided POSITIONAL pruning (the [[prefixJaccardFrom]] rule with
    // only the batch side ranked): a true pair's first common token is a
    // generated collision inside the batch prefix, and overlap
    // ≤ 1 + (|A| − pa) there — prune collisions whose bound cannot
    // reach O = ⌈3(|A|+|B|)/8⌉. The corpus side carries no rank (the
    // standing index is not re-windowed per probe), so this arm only
    // bites when |B| is near the top of the length-filter range.
    val cand = prefix.join(
        corpusT.join(szC, "doc_id")
          .select(col("doc_id").as("corpus_id"), col("sz").as("sz_c"),
            col("token")), "token")
      .filter(col("sz_b") * 5 >= col("sz_c") * 3 &&
        col("sz_c") * 5 >= col("sz_b") * 3 &&
        lit(1) + (col("sz_b") - col("pos")) >=
          expr("(3 * (sz_b + sz_c) + 7) div 8"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    // per-PAIR verification against materialized shingle-set arrays
    // (exact: per-doc token sets are distinct) instead of re-exploding
    // candidates against both postings lists — the [[prefixJaccardFrom]]
    // verify shape; guide §2.3.
    val arrB = batchT.groupBy(col("doc_id"))
      .agg(collect_list(col("token")).as("ts"), count(lit(1)).as("sz"))
    val arrC = corpusArrs.getOrElse(corpusT.groupBy(col("doc_id"))
      .agg(collect_list(col("token")).as("ts"), count(lit(1)).as("sz")))
    cand
      .join(arrB.select(col("doc_id").as("batch_id"), col("ts").as("ts_b"),
        col("sz").as("sz_b")), "batch_id")
      .join(arrC.select(col("doc_id").as("corpus_id"), col("ts").as("ts_c"),
        col("sz").as("sz_c")), "corpus_id")
      .withColumn("inter",
        size(array_intersect(col("ts_b"), col("ts_c"))).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_b") + col("sz_c") - col("inter")), 4))
      .filter(col("inter").cast("double") /
        (col("sz_b") + col("sz_c") - col("inter")) >= PrefixTau)
      .select(col("batch_id"), col("corpus_id"), col("inter"), col("jaccard"))
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** The standing corpus's prefix-probe index — postings PLUS the df
    * and per-doc size statistics, each materialized once: the stats are
    * what rank a batch's prefix tokens and length-filter candidates, so
    * recomputing them per micro-batch would re-aggregate the whole
    * corpus every trigger. A production gate persists all three tables
    * (the [[graft.sources.SnapshotTable]] save shape). */
  final case class PrefixIndex(tokens: DataFrame, dfs: DataFrame,
      sizes: DataFrame, arrays: DataFrame)

  /** Build the standing index ONCE over (doc_id, text) corpus docs.
    * `arrays` is the per-doc shingle-set array table the probe's
    * verification reads — prebuilt here so a per-micro-batch probe
    * never re-aggregates the corpus postings. */
  def buildPrefixIndex(corpusDocs: DataFrame): PrefixIndex = {
    val toks = shingleRows(corpusDocs.select(col("doc_id"), col("text")))
      .withColumnRenamed("shingle", "token").localCheckpoint(true)
    PrefixIndex(toks,
      toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .localCheckpoint(true),
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        .localCheckpoint(true),
      toks.groupBy(col("doc_id"))
        .agg(collect_list(col("token")).as("ts"), count(lit(1)).as("sz"))
        .localCheckpoint(true))
  }

  /** Batch doc ids with an EXACT Jaccard ≥ τ near-dup in the standing
    * corpus — the [[ingestJaccardPrefix]] probe as a public gate API:
    * O(batch prefix postings ⨝ index) per call, batch-side prefix only,
    * every corpus-wide statistic served from the prebuilt index. The
    * batch frame needs (doc_id, text). */
  def nearDupMatches(index: PrefixIndex, batchDocs: DataFrame): DataFrame =
    ingestProbe(index.tokens, index.dfs, index.sizes,
      shingleRows(batchDocs.select(col("doc_id"), col("text")))
        .withColumnRenamed("shingle", "token"),
      corpusArrs = Some(index.arrays))
      .select(col("batch_id")).distinct()

  private val ContainTau = 0.8

  /** ASYMMETRIC near-dup — quote/subset detection: containment
    * C(A→B) = |A∩B| / |A| ≥ τ over distinct shingle sets, the measure
    * that catches a short doc quoted inside a long one (where Jaccard
    * vanishes as |B| grows). Planted ground truth: every 97th doc's
    * FIRST HALF re-appended under `+1e12` — the half's consecutive
    * word triples are consecutive in the original too, so its shingle
    * set is a subset and a C = 1.0 edge provably exists per plant.
    * Candidates come from the quote side's PREFIX (its rarest
    * |A| − ⌈τ·|A|⌉ + 1 shingles — C ≥ τ forces |A∩B| ≥ ⌈τ·|A|⌉, so a
    * true pair must collide inside that prefix) joined against the
    * candidate source side's FULL postings; the B side cannot be
    * prefix-trimmed because containment does not bound |B| — but
    * ∩ ≤ |B| does force |B| ≥ ⌈τ·|A|⌉, the one-sided length filter.
    * Exact, no recall cliff, keyed joins only. */
  def containment(s: SparkSession, d: String): DataFrame = {
    // corpus side from the memoized shingle index; the planted HALF-doc
    // shingles genuinely differ from the full doc's, so only that
    // ~1/97 slice re-generates (checkpointed: five consumers below)
    val cs = corpusShingles(s, d).filter(col("doc_id").isNotNull)
    val halves = shingleRows(Tables.sharded(
      docsSharded(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("doc_id") % 97 === 0 &&
          size(split(col("text"), " ")) >= 6)
        .withColumn("text", concat_ws(" ",
          slice(split(col("text"), " "), lit(1),
            floor(size(split(col("text"), " ")) / 2).cast("int"))))
        .withColumn("doc_id", col("doc_id") + 1000000000000L),
      "doc_id")).localCheckpoint(true)
    val toks = cs.unionByName(halves).withColumnRenamed("shingle", "token")
    val dfs = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val sz = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pos = toks.join(dfs, "token")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("token"))))
    val ranked = pos.join(sz, "doc_id")
    // ⌈τ·|A|⌉ with τ = 4/5 in exact integers, as in [[prefixJaccard]]
    val prefix = ranked
      .filter(col("pos") <= col("sz") - expr("(4 * sz + 4) div 5") + 1)
      .select(col("doc_id").as("quote_id"), col("sz").as("sz_q"),
        col("token"), col("pos").as("pos_q"))
    // the source side rides the SAME ranked frame (pos is computed for
    // every doc anyway), enabling two-sided PPJoin POSITIONAL pruning:
    // a true pair's first common token is a generated collision (it
    // lies in the quote's prefix by the pigeonhole; the source side is
    // unprefixed, so every source position is present) and
    // ∩ ≤ 1 + min(|A|−pa, |B|−pb) there — prune collisions whose bound
    // cannot reach O = ⌈4·|A|/5⌉. Lossless for true pairs, same rule as
    // [[prefixJaccardFrom]].
    val cand = prefix.join(
        ranked.select(col("doc_id").as("source_id"), col("sz").as("sz_s"),
          col("token"), col("pos").as("pos_s")), "token")
      .filter(col("quote_id") =!= col("source_id") &&
        // one-sided exact length filter: ∩ ≤ |B| forces 5·|B| ≥ 4·|A|
        col("sz_s") * 5 >= col("sz_q") * 4 &&
        lit(1) + least(col("sz_q") - col("pos_q"), col("sz_s") - col("pos_s")) >=
          expr("(4 * sz_q + 4) div 5"))
      .select(col("quote_id"), col("source_id")).distinct()
    // per-PAIR verification against materialized shingle-set arrays —
    // the [[prefixJaccardFrom]] verify shape (exact: distinct token
    // sets), replacing the candidate re-explosion joins; guide §2.3.
    val arrs = toks.groupBy(col("doc_id"))
      .agg(collect_list(col("token")).as("ts"), count(lit(1)).as("sz"))
    cand
      .join(arrs.select(col("doc_id").as("quote_id"), col("ts").as("ts_q"),
        col("sz").as("sz_q")), "quote_id")
      .join(arrs.select(col("doc_id").as("source_id"), col("ts").as("ts_s")),
        "source_id")
      .withColumn("inter",
        size(array_intersect(col("ts_q"), col("ts_s"))).cast("long"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("sz_q"), 4))
      .filter(col("inter").cast("double") / col("sz_q") >= ContainTau)
      .select(col("quote_id"), col("source_id"), col("inter"), col("containment"))
      .orderBy(col("quote_id"), col("source_id"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_dedup_exact" -> ingestDedupExact,
    "dedup_sketch_recall" -> sketchRecall,
    "ingest_dedup_minhash" -> ingestDedupMinhash,
    "dedup_exact_stats" -> exactStats,
    "dedup_exact_groups" -> exactGroups,
    "dedup_minhash_pairs" -> minhashPairs,
    "dedup_minhash_portable" -> minhashPortable,
    "dedup_simhash_portable" -> simhashPortable,
    "dedup_simhash_pairs" -> simhashPairsPortable,
    "dedup_ngram_jaccard" -> ngramJaccard,
    "dedup_jaccard_prefix" -> prefixJaccard,
    "dedup_containment" -> containment,
    "ingest_jaccard_prefix" -> ingestJaccardPrefix,
    "dedup_embedding_pairs" -> embeddingDup,
    "dedup_semdedup" -> semDedup,
    "dedup_components" -> connectedComponents,
    "dedup_survivors" -> dedupSurvivors,
    "dedup_source_overlap" -> sourceOverlap,
    "dedup_chunk_exact" -> chunkDedup,
    "dedup_substring_spans" -> substringSpans,
  )

  /** DuckDB twin of [[simhashPortableAt]] — the 60 vote sums and the
    * bit fold are mechanical, so the SQL is generated from the same
    * A/C constants (and the caller's hamming threshold), not
    * hand-written. */
  private def simhashPortableOracle(maxHamming: Int): String = {
    val votes = (0 until SB).map(b =>
      s"sum(CASE WHEN ((h0 * ${simA(b)} + ${simC(b)}) % $P) >= ${P / 2} THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val fold = (0 until SB).map(b =>
      s"(CASE WHEN v$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)").mkString(" + ")
    s"""WITH tok AS (SELECT DISTINCT doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
       |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
       |    (a, x) -> (a * 31 + x) % $P) AS h0 FROM tok),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id),
       |sk AS (SELECT doc_id, $fold AS sk FROM v),
       |bb AS (SELECT doc_id, sk, band, (sk >> (15 * band)) & 32767 AS chunk
       |  FROM sk, unnest([0, 1, 2, 3]) AS u(band)),
       |hot AS (SELECT band, chunk FROM bb GROUP BY band, chunk HAVING count(*) > 500),
       |bb2 AS (SELECT bb.* FROM bb ANTI JOIN hot USING (band, chunk)),
       |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sk AS sk_a, y.sk AS sk_b
       |  FROM bb2 x JOIN bb2 y ON x.band = y.band AND x.chunk = y.chunk
       |    AND x.doc_id < y.doc_id),
       |ham AS (SELECT DISTINCT doc_a, doc_b,
       |    CAST(bit_count(xor(sk_a, sk_b)) AS BIGINT) AS hamming FROM cand)
       |SELECT doc_a, doc_b, hamming FROM ham
       |WHERE hamming <= $maxHamming ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared corpus/batch CTEs for the ingest oracles — the same split
    * and planted slices as [[ingestCorpus]]/[[ingestBatch]]. */
  private val ingestCtes =
    s"""corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3),
       |batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
       |  UNION ALL SELECT doc_id + $exactPlantOff, text FROM corpus
       |    WHERE doc_id % 50 = 0
       |  UNION ALL SELECT doc_id + $nearPlantOff,
       |    array_to_string(list_slice(string_split(text, ' '), 2,
       |      len(string_split(text, ' '))), ' ')
       |    FROM corpus WHERE doc_id % 50 = 25)""".stripMargin

  /** DuckDB twin of [[ingestDedupMinhash]], generated from the same
    * KP/P/affine constants as the Spark plan so the two cannot drift. */
  private val ingestMinhashOracleSql: String = {
    val sigCols = (0 until KP).map(k =>
      s"min((h0 * ${37 + 2 * k} + ${1000 + k}) % $P) AS p$k").mkString(", ")
    val bandRows = (0 until KP / 2).map(b =>
      s"SELECT doc_id, $b AS band, p${2 * b} AS k1, p${2 * b + 1} AS k2 FROM sig")
      .mkString(" UNION ALL ")
    val eqSum = (0 until KP).map(k => s"CAST(sa.p$k = sb.p$k AS INT)").mkString(" + ")
    val isBatch = s"(doc_id % 4 = 3 OR doc_id >= $exactPlantOff)"
    s"""WITH $ingestCtes,
       |alldocs AS (SELECT doc_id, text FROM corpus
       |  UNION ALL SELECT doc_id, text FROM batch),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM alldocs),
       |s AS (SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(toks) - 1),
       |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])) AS shingle
       |  FROM tk WHERE len(toks) >= 3),
       |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(shingle, ''), c -> CAST(ord(c) AS BIGINT))),
       |    (a, x) -> (a * 31 + x) % $P) AS h0 FROM s),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |b AS ($bandRows),
       |hot AS (SELECT band, k1, k2 FROM b GROUP BY band, k1, k2
       |  HAVING count(*) > 500),
       |b2 AS (SELECT b.* FROM b ANTI JOIN hot USING (band, k1, k2)),
       |cand AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
       |  FROM b2 x JOIN b2 y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2
       |  WHERE ${isBatch.replace("doc_id", "x.doc_id")}
       |    AND NOT ${isBatch.replace("doc_id", "y.doc_id")}),
       |est AS (SELECT batch_id, corpus_id,
       |    round(($eqSum) / $KP.0, 4) AS est_jaccard
       |  FROM cand JOIN sig sa ON batch_id = sa.doc_id
       |            JOIN sig sb ON corpus_id = sb.doc_id)
       |SELECT batch_id, corpus_id, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5 ORDER BY batch_id, corpus_id""".stripMargin
  }

  /** DuckDB twin of [[sourceOverlap]] — generated from the same KP/P
    * affine constants; per-source distinct-shingle union, same planted
    * mirror source. */
  private val sourceOverlapOracleSql: String = {
    val sigCols = (0 until KP).map(k =>
      s"min((h0 * ${37 + 2 * k} + ${1000 + k}) % $P) AS p$k").mkString(", ")
    val eqSum = (0 until KP).map(k => s"CAST(a.p$k = b.p$k AS INT)").mkString(" + ")
    s"""WITH all0 AS (SELECT source, text FROM documents
       |  UNION ALL SELECT 'src_mirror', text FROM documents WHERE doc_id % 7 = 0),
       |tk AS (SELECT source, string_split(text, ' ') AS toks FROM all0),
       |sh AS (SELECT DISTINCT source,
       |    unnest(list_transform(range(1, len(toks) - 1),
       |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])) AS shingle
       |  FROM tk WHERE len(toks) >= 3),
       |h AS (SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(shingle, ''), c -> CAST(ord(c) AS BIGINT))),
       |    (a, x) -> (a * 31 + x) % $P) AS h0 FROM sh),
       |sig AS (SELECT source, $sigCols FROM h GROUP BY source)
       |SELECT a.source AS src_a, b.source AS src_b,
       | CAST($eqSum AS BIGINT) AS n_match,
       | round(($eqSum) / $KP.0, 4) AS est_jaccard
       |FROM sig a JOIN sig b ON a.source < b.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** The recursive-CTE component labeling shared by the
    * `dedup_components` and `dedup_survivors` oracles: same capped
    * shingle universe, Jaccard edges, and planted +1e12 twins as the
    * Spark plans, ending at the transitive-reachability CTE `reach`. */
  private val componentsOracleCore =
    """WITH RECURSIVE tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s0 AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(range(1, len(toks) - 1),
      |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])) AS shingle
      |      FROM tk WHERE len(toks) >= 3),
      |lowdf AS (SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) <= 500),
      |s AS (SELECT s0.* FROM s0 SEMI JOIN lowdf USING (shingle)),
      |sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |jac AS (SELECT doc_a, doc_b
      |  FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2),
      |planted AS (SELECT doc_id AS a, doc_id + 1000000000000 AS b
      |  FROM documents WHERE doc_id % 97 = 0),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM jac
      |  UNION SELECT a, b FROM planted
      |  UNION SELECT doc_b, doc_a FROM jac
      |  UNION SELECT b, a FROM planted),
      |nodes AS (
      |  SELECT doc_id FROM documents
      |  UNION SELECT doc_id + 1000000000000 FROM documents WHERE doc_id % 97 = 0),
      |reach AS (
      |  SELECT doc_id AS src, doc_id AS dst FROM nodes
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)""".stripMargin

  override val oracle: Map[String, String] = Map(
    // prefix filtering is EXACT at >= tau, so the oracle is the plain
    // all-pairs word-set Jaccard — the engine must recover the full
    // result set with no recall allowance
    "dedup_jaccard_prefix" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents
        |  WHERE doc_id % 97 = 0 AND doc_id IS NOT NULL AND text IS NOT NULL),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs),
        |t AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(toks) - 1),
        |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
        |            || ' ' || toks[CAST(i AS INT) + 2])) AS token
        |      FROM tk WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY 1),
        |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
        |FROM i JOIN sz sa ON sa.doc_id = i.doc_a
        |       JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the ingest probe is exact too: batch-side prefix x corpus postings
    // loses nothing at >= tau (pigeonhole), so the oracle is the plain
    // batch x corpus shingle Jaccard over the shared ingest CTEs
    "ingest_jaccard_prefix" ->
      s"""WITH $ingestCtes,
         |tkb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM batch),
         |tb AS (SELECT DISTINCT doc_id,
         |        unnest(list_transform(range(1, len(toks) - 1),
         |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
         |            || ' ' || toks[CAST(i AS INT) + 2])) AS token
         |      FROM tkb WHERE len(toks) >= 3),
         |tkc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
         |tc AS (SELECT DISTINCT doc_id,
         |        unnest(list_transform(range(1, len(toks) - 1),
         |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
         |            || ' ' || toks[CAST(i AS INT) + 2])) AS token
         |      FROM tkc WHERE len(toks) >= 3),
         |szb AS (SELECT doc_id, count(*) AS sz FROM tb GROUP BY 1),
         |szc AS (SELECT doc_id, count(*) AS sz FROM tc GROUP BY 1),
         |i AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
         |        count(*) AS inter
         |      FROM tb b JOIN tc c ON b.token = c.token GROUP BY 1, 2)
         |SELECT batch_id, corpus_id, inter,
         |  round(CAST(inter AS DOUBLE) / (sb.sz + sc.sz - inter), 4) AS jaccard
         |FROM i JOIN szb sb ON sb.doc_id = i.batch_id
         |       JOIN szc sc ON sc.doc_id = i.corpus_id
         |WHERE CAST(inter AS DOUBLE) / (sb.sz + sc.sz - inter) >= 0.6
         |ORDER BY batch_id, corpus_id""".stripMargin,
    // containment is likewise exact: quote-side prefix x full source
    // postings loses nothing at >= tau, so the oracle is the all-ordered-
    // pairs containment over the same planted-half corpus
    "dedup_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |half AS (SELECT doc_id + 1000000000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      CAST(floor(len(string_split(text, ' ')) / 2.0) AS INT)), ' ') AS text
        |  FROM base
        |  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 6),
        |docs AS (SELECT * FROM base UNION ALL SELECT * FROM half),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM docs),
        |t AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(toks) - 1),
        |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
        |            || ' ' || toks[CAST(i AS INT) + 2])) AS token
        |      FROM tk WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY 1),
        |i AS (SELECT a.doc_id AS quote_id, b.doc_id AS source_id,
        |        count(*) AS inter
        |      FROM t a JOIN t b ON a.token = b.token AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2)
        |SELECT quote_id, source_id, inter,
        |  round(CAST(inter AS DOUBLE) / sq.sz, 4) AS containment
        |FROM i JOIN sz sq ON sq.doc_id = i.quote_id
        |WHERE CAST(inter AS DOUBLE) / sq.sz >= 0.8
        |ORDER BY quote_id, source_id""".stripMargin,
    // planted-twin recall is exact by construction (see sketchRecall):
    // identical texts share every band bucket, so each method must
    // recover every eligible twin pair — the expected counts are a
    // closed-form function of the plant modulus and eligibility
    "dedup_sketch_recall" ->
      """WITH mh AS (SELECT count(*) AS n FROM documents
        |  WHERE doc_id % 97 = 0 AND text IS NOT NULL
        |    AND len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT count(*) AS n FROM documents
        |  WHERE doc_id % 97 = 0 AND text IS NOT NULL)
        |SELECT 'minhash' AS method, n AS n_queries, n AS n_found FROM mh
        |UNION ALL SELECT 'simhash', n, n FROM sh
        |ORDER BY method""".stripMargin,
    "ingest_dedup_exact" ->
      s"""WITH $ingestCtes,
         |cd AS (SELECT md5(text) AS fp, min(doc_id) AS dup_of FROM corpus
         |  GROUP BY md5(text))
         |SELECT b.doc_id, cd.dup_of, cd.dup_of IS NULL AS is_new
         |FROM batch b LEFT JOIN cd ON md5(b.text) = cd.fp
         |ORDER BY b.doc_id""".stripMargin,
    "ingest_dedup_minhash" -> ingestMinhashOracleSql,
    "dedup_chunk_exact" ->
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id % 9 = 0 THEN '$boilerplate ' || text
         |       ELSE text END AS t2 FROM documents),
         |base AS (SELECT doc_id, string_split(t2, ' ') AS tk FROM aug),
         |idx AS (SELECT doc_id, tk,
         |  unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS i FROM base),
         |ch AS (SELECT doc_id,
         |  md5(array_to_string(tk[(i * 10 + 1):(i * 10 + 10)], ' ')) AS dg FROM idx),
         |sh AS (SELECT dg, count(DISTINCT doc_id) > 1 AS shared FROM ch GROUP BY dg)
         |SELECT ch.doc_id, count(*) AS n_chunks,
         | CAST(sum(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         | round(CAST(sum(CASE WHEN shared THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
         |   AS dup_frac
         |FROM ch JOIN sh USING (dg)
         |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id % 9 = 0 THEN '$boilerplate ' || text
         |       ELSE text END AS t2 FROM documents),
         |base AS (SELECT doc_id, string_split(t2, ' ') AS tk FROM aug
         |  WHERE len(string_split(t2, ' ')) >= 8),
         |idx AS (SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS i FROM base),
         |wn AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
         |  md5(array_to_string(tk[(i + 1):(i + 8)], ' ')) AS dg FROM idx),
         |sh AS (SELECT dg, count(DISTINCT doc_id) > 1 AS shared FROM wn GROUP BY dg),
         |j AS (SELECT wn.doc_id, wn.i, sh.shared FROM wn JOIN sh USING (dg)),
         |dup AS (SELECT doc_id, i,
         |  i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         |  FROM j WHERE shared),
         |runs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS run
         |  FROM dup GROUP BY doc_id, grp),
         |mr AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY doc_id),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(sum(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
         |  FROM j GROUP BY doc_id)
         |SELECT agg.doc_id, n_windows, n_dup_windows,
         | round(CAST(n_dup_windows AS DOUBLE) / n_windows, 4) AS dup_frac,
         | COALESCE(mr.max_run, 0) AS max_run_windows,
         | CASE WHEN COALESCE(mr.max_run, 0) > 0 THEN COALESCE(mr.max_run, 0) + 7
         |      ELSE 0 END AS longest_dup_tokens
         |FROM agg LEFT JOIN mr ON agg.doc_id = mr.doc_id
         |ORDER BY agg.doc_id""".stripMargin,
    "dedup_simhash_portable" -> simhashPortableOracle(4),
    "dedup_simhash_pairs" -> simhashPortableOracle(8),
    "dedup_source_overlap" -> sourceOverlapOracleSql,
    "dedup_exact_stats" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
        | count(*) - count(DISTINCT text) AS n_dup_rows
        |FROM documents""".stripMargin,
    "dedup_exact_groups" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 97 = 0)
        |SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS keep_id
        |FROM docs GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY fp""".stripMargin,
    // the closed-form half of the semdedup audit: corpus size, plant
    // size, and the twin-drop guarantee (an exact twin is never its
    // component's minimum); the structural verdicts are TRUE whenever
    // the engine's kept/dropped sets satisfy the semdedup contract
    "dedup_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |    AND len(embedding) > 0),
        |nr AS (SELECT sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM e WHERE vec_id % 101 = 0),
        |p AS (SELECT count(*) AS n_planted FROM nr
        |  WHERE nrm > 0 AND NOT isnan(nrm) AND NOT isinf(nrm)),
        |t AS (SELECT count(*) AS n_base FROM e)
        |SELECT CAST(t.n_base + p.n_planted AS BIGINT) AS n_vectors,
        |  CAST(p.n_planted AS BIGINT) AS n_planted,
        |  CAST(p.n_planted AS BIGINT) AS n_dropped_twins,
        |  TRUE AS dropped_covered, TRUE AS kept_no_dups,
        |  TRUE AS conservation_ok
        |FROM t, p WHERE t.n_base > 0""".stripMargin,
    "dedup_embedding_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000000, embedding::DOUBLE[] FROM embeddings
        |  WHERE vec_id % 101 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.emb, b.emb) /
        |      (sqrt(list_dot_product(a.emb, a.emb)) *
        |       sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_minhash_portable" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(toks) - 1),
        |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])) AS shingle
        |      FROM tk WHERE len(toks) >= 3),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(shingle, ''), c -> CAST(ord(c) AS BIGINT))),
        |          (a, x) -> (a * 31 + x) % 1000000007) AS h0
        |      FROM s),
        |sig AS (SELECT doc_id,
        |  min((h0 * 37 + 1000) % 1000000007) AS p0,
        |  min((h0 * 39 + 1001) % 1000000007) AS p1,
        |  min((h0 * 41 + 1002) % 1000000007) AS p2,
        |  min((h0 * 43 + 1003) % 1000000007) AS p3,
        |  min((h0 * 45 + 1004) % 1000000007) AS p4,
        |  min((h0 * 47 + 1005) % 1000000007) AS p5,
        |  min((h0 * 49 + 1006) % 1000000007) AS p6,
        |  min((h0 * 51 + 1007) % 1000000007) AS p7
        |  FROM h GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, 0 AS band, p0 AS k1, p1 AS k2 FROM sig UNION ALL
        |  SELECT doc_id, 1, p2, p3 FROM sig UNION ALL
        |  SELECT doc_id, 2, p4, p5 FROM sig UNION ALL
        |  SELECT doc_id, 3, p6, p7 FROM sig),
        |hot AS (SELECT band, k1, k2 FROM b GROUP BY band, k1, k2
        |  HAVING count(*) > 500),
        |b2 AS (SELECT b.* FROM b ANTI JOIN hot USING (band, k1, k2)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM b2 x JOIN b2 y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2
        |    AND x.doc_id < y.doc_id),
        |est AS (SELECT doc_a, doc_b, round((
        |    CAST(sa.p0 = sb.p0 AS INT) + CAST(sa.p1 = sb.p1 AS INT) +
        |    CAST(sa.p2 = sb.p2 AS INT) + CAST(sa.p3 = sb.p3 AS INT) +
        |    CAST(sa.p4 = sb.p4 AS INT) + CAST(sa.p5 = sb.p5 AS INT) +
        |    CAST(sa.p6 = sb.p6 AS INT) + CAST(sa.p7 = sb.p7 AS INT)) / 8.0, 4) AS est_jaccard
        |  FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, est_jaccard FROM est
        |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_components" -> (componentsOracleCore +
      """
        |SELECT src AS doc_id, min(dst) AS component FROM reach
        |GROUP BY src ORDER BY doc_id""".stripMargin),
    "dedup_survivors" -> (componentsOracleCore +
      """,
        |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
        |q AS (SELECT c.doc_id, c.component,
        |  CAST(COALESCE(d.n_chars, -1) AS BIGINT) AS qual
        |  FROM comp c LEFT JOIN documents d ON c.doc_id = d.doc_id),
        |sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
        |  FROM q GROUP BY component),
        |rk AS (SELECT doc_id, component, qual,
        |  row_number() OVER (PARTITION BY component ORDER BY qual DESC, doc_id) AS rn
        |  FROM q)
        |SELECT r.component, s.n_members, r.doc_id AS survivor_id,
        | r.qual AS survivor_qual
        |FROM rk r JOIN sizes s USING (component)
        |WHERE rn = 1 AND n_members > 1 ORDER BY component""".stripMargin),
    "dedup_ngram_jaccard" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s0 AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(toks) - 1),
        |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])) AS shingle
        |      FROM tk WHERE len(toks) >= 3),
        |lowdf AS (SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) <= 500),
        |s AS (SELECT s0.* FROM s0 SEMI JOIN lowdf USING (shingle)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
        |FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
