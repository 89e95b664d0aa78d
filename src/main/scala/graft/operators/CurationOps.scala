package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingest and the tokenizer — the steps that decide WHAT ships:
  *
  *  - test-set decontamination — flag corpus docs sharing word-5-grams
  *    with a held-out benchmark set (exact semi-join form, plus a
  *    Bloom-prefilter form that never shuffles the clean 99% of the
  *    corpus — the 100 TB path)
  *  - sequence packing — concatenate each source's token stream and cut
  *    it into fixed-budget training sequences; emits the pack manifest
  *  - mixture sampling — rebalance the corpus to target per-language
  *    weights with DATA-DERIVED keep rates (two-pass: tiny count
  *    aggregate, broadcast back, portable-hash gate), unlike the fixed
  *    rates of `text_sample_stratified`
  *  - repetition scoring — the Gopher-style duplicate-n-gram and
  *    top-token-frequency signals that catch boilerplate/spam
  *
  * Scale discipline: the corpus side is never broadcast and never joined
  * all-pairs; the only broadcast sides are the benchmark n-gram set (a
  * fixed external artifact, tiny vs the corpus by construction) and the
  * per-stratum count/rate tables (O(#languages) rows).
  */
object CurationOps extends QueryPack {

  /** Compiled 5-gram generator rows `(sh, n_sh)` — the distinct word
    * 5-gram set via [[graft.functions.NgramRows]], with the per-doc
    * distinct count riding along (registration is idempotent, on the
    * query's own session — not the thread-active one, which can differ
    * in multi-session use). */
  private def ngramRows5(s: SparkSession, c: Column): Column = {
    graft.functions.GeneratorExpressions.register(s)
    graft.functions.GeneratorExpressions.ngram_rows(c, 5)
  }

  /** DuckDB twin of the [[graft.functions.NgramRows]] distinct-n-gram
    * semantics over a token-list column `tk`. */
  private def sqlNgrams(n: Int): String =
    s"CASE WHEN len(tk) >= $n THEN list_distinct(list_transform(" +
      s"range(1, len(tk) - ${n - 2}), i -> array_to_string(list_slice(tk, i, i + ${n - 1}), ' ')))" +
      " ELSE [] END"

  // The synthetic corpus has no natural 5-gram overlap with its own
  // benchmark slice, so contamination is PLANTED — identically in the
  // oracle: docs ≡ 0 (mod 23) get a canary sentence appended, and the
  // same sentence is injected into the benchmark n-gram set.
  private val canary = "eval canary alpha beta gamma"

  /** Benchmark n-gram set: distinct 5-grams of the held-out slice
    * (doc_id ≡ 0 mod 131) plus the planted canary. In production this is
    * a fixed external table (MMLU/GSM8K/... n-grams) — megabytes against
    * a 100 TB corpus, which is what licenses the broadcast. */
  private def benchShingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 131 === 0)
      .select(ngramRows5(s, col("text")).as(Seq("sh", "n_sh")))
      .select(col("sh"))
      .unionByName(s.range(1).select(lit(canary).as("sh")))
      .distinct()

  /** Corpus side (benchmark slice excluded) with planted contamination,
    * exploded to (doc_id, n_shingles, shingle) rows. */
  private def corpusShingles(s: SparkSession, d: String): DataFrame =
    // reshard before the n-gram projection — ONLY when the scan arrives
    // under-split (higher-order zip_with chains evaluate interpreted, and
    // a small parquet arrives as ONE split: measured ~100 s/pass at sf0.1
    // vs ~2 s resharded). At real scale the scan yields many splits and
    // Tables.sharded leaves the plan Exchange-free.
    Tables.sharded(Tables.documents(s, d).filter(col("doc_id") % 131 =!= 0),
        "doc_id")
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 23 === 0, lit(" " + canary)).otherwise(lit("")))
          .as("aug"))
      // one compiled generator pass emits (shingle, distinct-count)
      // together — no 5-gram array materialization, no size() recompute
      .select(col("doc_id"), ngramRows5(s, col("aug")).as(Seq("sh", "n_sh")))
      .select(col("doc_id"), col("n_sh").as("n_shingles"), col("sh"))

  /** Exact decontamination: inner equi-join corpus 5-grams against the
    * broadcast benchmark set, then count hits per doc. Only MATCHING
    * shingles ever shuffle (the groupBy on doc_id) — clean docs cost one
    * map-side probe per shingle and nothing more. */
  def decontamExact(s: SparkSession, d: String): DataFrame =
    corpusShingles(s, d)
      .join(broadcast(benchShingles(s, d)), "sh")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_matched"))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_shingles"), 4).as("ratio"))
      .orderBy(col("doc_id"))

  /** Bloom-prefiltered decontamination — the shape that wins at 100 TB:
    * a Bloom filter over the benchmark n-grams (built once, ~1.2 MB at
    * 2^20 capacity / 1% fp) is broadcast and applied as a MAP-SIDE
    * filter, so the exact verify join only ever sees the tiny stream of
    * bloom survivors (true hits + ~1% fps) instead of every corpus
    * shingle. The probe is the codegen
    * [[graft.functions.BloomMightContain]] expression (Spark's own
    * `BloomFilterMightContain` is internal API, and a scala udf here
    * would break whole-stage codegen at the hottest filter in the
    * pipeline). Results are bit-identical to [[decontamExact]] (the exact
    * join re-verifies survivors), so it shares the same DuckDB oracle. */
  def decontamBloom(s: SparkSession, d: String): DataFrame = {
    val bench = benchShingles(s, d)
    val bf = bench.stat.bloomFilter("sh", 1L << 20, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    corpusShingles(s, d)
      .filter(graft.functions.BloomExpressions.might_contain(s, bfB, col("sh")))
      .join(broadcast(bench), "sh")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_matched"))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"),
        round(col("n_matched").cast("double") / col("n_shingles"), 4).as("ratio"))
      .orderBy(col("doc_id"))
  }

  private val packBudget = 512

  /** Sequence packing: per source, the token streams of its docs (in
    * doc_id order) are concatenated and cut every `packBudget` tokens;
    * each doc belongs to the pack its FIRST token lands in, which is
    * exactly the bookkeeping a pack-then-split tokenizer needs. One
    * window pass (per-source cumsum) — no self-join, no iteration —
    * then a keyed aggregate for the manifest. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("pack_id", expr(s"(cum - nt) div $packBudget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  /** [[packSequences]] RE-BASED on real BPE token ids — the packing a
    * pretraining pipeline actually ships: per-source doc streams cut
    * every `packBudget` REAL tokens (the codegen
    * [[graft.functions.BpeEncode]] count, not the whitespace
    * approximation). Rows-only declared (no SQL BPE); its integrity
    * rides the oracle-green `pack_ids_conservation` twin — packing
    * must lose and duplicate NOTHING — plus the identity-audited
    * encoder itself. Same one-window shape and scale budget as the
    * approximate packer. */
  def packSequencesIds(s: SparkSession, d: String): DataFrame = {
    graft.functions.BpeExpressions.register(s)
    val (merges, vocab) = TextOps.bpeTable(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        size(graft.functions.BpeExpressions.bpe_encode(col("text"),
          typedLit(merges), typedLit(vocab))).cast("long").as("nt"))
      .withColumn("cum", sum(col("nt")).over(w))
      .withColumn("pack_id", expr(s"(cum - nt) div $packBudget"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("pack_id"))
  }

  /** The packing integrity audit, oracle-green: every non-null-text
    * document lands in EXACTLY one pack and every real token is
    * accounted — `n_docs_packed` folds the packed doc count and is
    * poisoned to −1 if the packed token total diverges from an
    * independent per-doc count, so either loss, duplication, or a
    * token-count mismatch flips the hash against the oracle's plain
    * document count. */
  def packIdsConservation(s: SparkSession, d: String): DataFrame = {
    graft.functions.BpeExpressions.register(s)
    val (merges, vocab) = TextOps.bpeTable(s, d)
    val direct = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(size(graft.functions.BpeExpressions.bpe_encode(col("text"),
        typedLit(merges), typedLit(vocab))).cast("long").as("nt"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok_direct"))
    val packed = packSequencesIds(s, d)
      .agg(sum(col("n_docs")).as("docs_packed"),
        sum(col("pack_tokens")).as("tok_packed"))
    direct.crossJoin(packed)
      .select(col("n_docs"),
        when(col("tok_direct") <=> col("tok_packed"), col("docs_packed"))
          .otherwise(lit(-1L)).as("n_docs_packed"))
      .filter(col("n_docs") > 0) // zero-row corpus: zero audit rows
  }

  // Per-language mixture weights (en-heavy, zh-light — the usual shape).
  private def weightCol: Column =
    when(col("lang") === "en", 4L).when(col("lang") === "zh", 1L).otherwise(2L)

  /** Mixture sampling with data-derived rates: per-language counts n_i
    * and weights w_i give k = min_i(n_i div w_i) and target_i = w_i*k —
    * the largest corpus honoring the weight ratios without oversampling
    * any stratum. The keep gate is the portable md5 hash compared in
    * INTEGER arithmetic (h*n_i < target_i*1e6 — no float rate, no
    * engine-dependent rounding). Pass 1 is an O(#langs)-row aggregate;
    * pass 2 is a broadcast join + map-side gate: the corpus never
    * shuffles until the final audit aggregate. */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      .withColumn("w", weightCol)
    val kdf = counts.agg(min(expr("n_total div w")).as("k"))
    val h = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000000")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(kdf))
      .withColumn("target", col("w") * col("k"))
      .withColumn("keep", col("h") * col("n_total") < col("target") * lit(1000000L))
      .groupBy(col("lang"))
      .agg(max(col("n_total")).as("n_total"), max(col("w")).as("weight"),
        max(col("target")).as("target"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("keep"), col("doc_id"))).as("first_kept"))
      .orderBy(col("lang"))
  }

  /** Repetition scoring: duplicate-2/3-gram fractions (projection-only)
    * plus the top-token frequency fraction via the scalable shape —
    * explode → (doc, token) partial count → per-doc max — instead of a
    * per-row O(tokens²) lambda. The two branches re-join on doc_id
    * (both sides already keyed, one shuffle each). */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashExpressions.register(s)
    import graft.functions.HashExpressions.ngram_distinct_count
    val base = Tables.documents(s, d) // codegen n-gram counts: no reshard needed
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        ngram_distinct_count(col("text"), 2).as("d2"),
        ngram_distinct_count(col("text"), 3).as("d3"))
    val top = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_n"))
    // dup fractions guarded for 1-/2-token docs: the denominators
    // (n_tokens-1, n_tokens-2) would be 0 → NULL fracs → NULL `keep`, and
    // such docs silently vanish from a downstream filter(keep). A doc too
    // short to HAVE n-grams has zero duplicate n-grams by definition.
    base.join(top, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(when(col("n_tokens") > 1,
          (col("n_tokens") - 1 - col("d2")).cast("double") / (col("n_tokens") - 1))
          .otherwise(0.0), 4).as("dup2_frac"),
        round(when(col("n_tokens") > 2,
          (col("n_tokens") - 2 - col("d3")).cast("double") / (col("n_tokens") - 2))
          .otherwise(0.0), 4).as("dup3_frac"),
        round(col("top_n").cast("double") / col("n_tokens"), 4).as("top_tok_frac"))
      .withColumn("keep",
        col("dup2_frac") <= 0.2 && col("dup3_frac") <= 0.15 && col("top_tok_frac") <= 0.3)
      .orderBy(col("doc_id"))
  }

  /** End-to-end curation pipeline — the flagship composition query: the
    * per-doc keep manifest a corpus build actually ships, with each
    * stage's verdict as an auditable column:
    *
    *   1. quality gate  — length / uniq-ratio rules (textQualityFilter's)
    *   2. decontamination — no 5-gram overlap with the benchmark set
    *   3. exact dedup   — survivor = min doc_id per content digest
    *   4. mixture gate  — the portable-hash stratified sampler
    *
    * `keep` is the conjunction; the audit aggregate reports per-source
    * funnel counts. Stage shapes are the proven ones (broadcast bench
    * join, one digest shuffle, map-side gate) so the composition adds no
    * new scale risk — stages fuse into the same two shuffles the
    * standalone queries pay. */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).filter(col("doc_id") % 131 =!= 0)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    // planted exact-dup slice (the fixture is dup-free — exactGroups'
    // trick) so the survivorship stage is non-vacuous at every SF
    val docs = Tables.sharded(base.unionByName(
      base.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000000000L)), "doc_id")
    // stage 1: quality rules (projection-only)
    val qual = docs.select(col("doc_id"), col("source"), col("lang"), col("text"),
      split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        (size(col("tk")) >= 5 && size(col("tk")) <= 10000 &&
          size(array_distinct(col("tk"))).cast("double") / size(col("tk")) > 0.2)
          .as("ok_quality"))
    // stage 2: contaminated docs (any benchmark 5-gram hit)
    val contaminated = corpusShingles(s, d)
      .join(broadcast(benchShingles(s, d)), "sh")
      .select(col("doc_id")).distinct().withColumn("hit", lit(true))
    // stage 3: exact-dup survivorship (min doc_id per digest wins)
    val survivor = docs
      .groupBy(md5(col("text")).as("fp")).agg(min(col("doc_id")).as("keep_id"))
    // stage 4: deterministic stratified gate (same rates as
    // text_sample_stratified)
    val gate = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
    val rate = when(col("lang") === "en", 20)
      .when(col("lang") === "zh", 10).otherwise(50)
    qual
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("ok_clean", col("hit").isNull)
      .join(survivor.withColumnRenamed("fp", "fp2"),
        md5(col("text")) === col("fp2"), "left")
      .withColumn("ok_survivor", col("doc_id") === col("keep_id"))
      .withColumn("ok_sampled", gate < rate)
      .withColumn("keep",
        col("ok_quality") && col("ok_clean") && col("ok_survivor") && col("ok_sampled"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok_quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("ok_clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("ok_survivor"), 1L).otherwise(0L)).as("n_survivor"),
        sum(when(col("ok_sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        min(when(col("keep"), col("doc_id"))).as("first_keep"))
      .orderBy(col("source"))
  }

  private val nShards = 16

  /** Deterministic balanced output sharding — the training-data writer's
    * last step: every document is assigned `shard = h32(doc_id) mod 16`
    * from the portable md5 hash (rerun-stable, content-independent, no
    * RNG), and the manifest reports per-shard document/char/token totals
    * so a skewed shard is caught BEFORE the training job reads it. The
    * hash gate means adding documents never reassigns existing ones —
    * shard files are append-stable across incremental runs.
    *
    * Shape: one scalar projection + one 16-group aggregate; the actual
    * write is `partitionBy("shard")` on the same column (spec-proven to
    * agree file-by-file with this manifest). At 100 TB both the manifest
    * and the write move each row exactly once. */
  def curationShardManifest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)" +
          s" % $nShards").as("shard"),
        coalesce(col("n_chars"), lit(0L)).as("nc"),
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)).as("nt"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("sum_chars"),
        sum(col("nt")).as("sum_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  /** Leakage-proof train/val/test assignment: the split gate hashes the
    * document's CONTENT fingerprint (`md5(text)`), not its id — so exact
    * duplicates can never straddle train and test, the classic eval
    *-contamination bug of id-keyed splits. The output is the per-split
    * manifest (doc/char totals, duplicate-member count) plus a global
    * audit pair: duplicate groups straddling splits under content keying
    * (0 by construction) vs under the naive id keying (the leak the
    * content key exists to close).
    *
    * Shape: the split gate is a pure function of the fingerprint, so
    * everything folds into ONE linear pipeline — one corpus scan, one
    * fingerprint shuffle, one |splits|-row rollup: the per-group
    * aggregate carries size, char total, the group's split, and both
    * straddle flags (min≠max — no distinct expand); the global audit
    * pair is the sum of per-split partials, taken by an unpartitioned
    * window over the ≤3-row rollup (never a self-join, never a second
    * scan, no branch to recompute). Adding documents never reassigns
    * existing ones (pure content hash, no RNG), so splits are
    * append-stable across ingest runs. */
  def curationSplitLeakproof(s: SparkSession, d: String): DataFrame = {
    def gate(h: Column) =
      when(h < 80, "train").when(h < 90, "val").otherwise("test")
    val docs = Tables.documents(s, d)
      .select(coalesce(col("n_chars"), lit(0L)).as("nc"),
        md5(col("text")).as("fp"),
        gate(expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)" +
            " AS BIGINT) % 100")).as("split_id"))
      .withColumn("split", gate(
        expr("CAST(conv(substring(fp, 1, 8), 16, 10) AS BIGINT) % 100")))
    // one aggregate per content group; `split` is constant within a
    // group (a function of fp), so max() carries it while the
    // min≠max straddle flag COMPUTES that invariant rather than
    // assuming it (and min≠max on split_id detects the id-keyed leak
    // without a distinct expand)
    val groups = docs.groupBy(col("fp"))
      .agg(count(lit(1)).as("sz"), sum(col("nc")).as("snc"),
        max(col("split")).as("split"),
        (min(col("split")) =!= max(col("split"))).as("straddles_content"),
        (min(col("split_id")) =!= max(col("split_id"))).as("straddles_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    groups
      .groupBy(col("split"))
      .agg(sum(col("sz")).as("n_docs"), sum(col("snc")).as("sum_chars"),
        sum(when(col("sz") > 1, col("sz")).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("sz") > 1 && col("straddles_content"), 1L)
          .otherwise(0L)).as("lc_part"),
        sum(when(col("sz") > 1 && col("straddles_id"), 1L)
          .otherwise(0L)).as("li_part"))
      .select(col("split"), col("n_docs"), col("sum_chars"),
        col("n_dup_docs"),
        sum(col("lc_part")).over(wAll).as("leaky_groups_content"),
        sum(col("li_part")).over(wAll).as("leaky_groups_id"))
      .orderBy(col("split"))
  }

  /** MINSTD LCG shuffle key: `doc_id * 48271 mod (2^31 - 1)` — a full
    * 31-bit permutation-grade scramble in exact modular integer
    * arithmetic both engines compute identically, so the "random"
    * order is reproducible everywhere (no rand(), no engine-specific
    * hash). The seed perturbs additively BEFORE the multiply. */
  private def shuffleKey(id: Column, seed: Long): Column =
    pmod((pmod(id + lit(seed), lit(2147483647L))) * lit(48271L),
      lit(2147483647L))

  /** Deterministic distributed corpus shuffle — every epoch of training
    * wants the corpus in a DIFFERENT but perfectly REPRODUCIBLE random
    * order (elastic re-runs, resumed jobs, and audits must all see the
    * same permutation). Order = an LCG scramble of doc_id (seeded per
    * epoch), positions = stable global sequence numbers in that order.
    *
    * Shape: the `layout_global_index` two-phase numbering over the
    * shuffle key — range-repartition by key (parallel sort), local
    * row numbers, per-partition offsets broadcast back — NEVER the
    * one-task `row_number() OVER (ORDER BY ...)` collapse; at 100 TB
    * this is one range exchange, same cost as any global sort. The
    * oracle IS the naive global window over the same key — agreement
    * proves the two-phase numbering is exact. */
  def curationShuffle(s: SparkSession, d: String): DataFrame = {
    val seed = 20240814L
    val docs = Tables.documents(s, d)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), shuffleKey(col("doc_id"), seed).as("shuf_key"))
    SkewUtils.globalRank(docs, Seq(col("shuf_key"), col("doc_id")), "shuf_seq")
      .select(col("doc_id"), col("shuf_key"), col("shuf_seq"))
      .orderBy(col("shuf_seq"))
  }

  /** DSIR-style importance weighting (the hashed-n-gram data-selection
    * recipe of Xie et al. 2023, arXiv:2302.03169): score every RAW
    * document by how much more likely its hashed-unigram profile is
    * under the TARGET domain (here the English slice — any predicate
    * works) than under the raw corpus: the per-doc log-likelihood
    * ratio `Σ_b n_b · ln(p_t(b)/p_r(b))` over B=64 hash buckets with
    * Laplace-smoothed probabilities. High scores read "looks like
    * target" — the resampling weight for domain upweighting. Every
    * count is an exact integer (the portable [[graft.functions.PolyHash]]
    * family, DuckDB-twinned); the only float step is the final ln
    * arithmetic, rounded at 4 dp so the engines' ulp-different libm
    * `ln`s can never straddle a boundary.
    *
    * Shape: ONE token explode → (doc, bucket) partial-aggregated
    * counts → a broadcast 64-row bucket-weight table → per-doc sum.
    * Linear in corpus tokens; the feature table is O(64) however big
    * the corpus — the DSIR trick that makes domain scoring affordable
    * at 100 TB. */
  def curationImportance(s: SparkSession, d: String): DataFrame = {
    graft.functions.HashExpressions.register(s)
    val toks = Tables.documents(s, d)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        (graft.functions.HashExpressions.poly_hash(col("tok")) % 64).as("b"))
    val db = toks.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
    val bt = toks.groupBy(col("b")).agg(
      count(lit(1)).as("n_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
    val tot = bt.agg(sum(col("n_r")).as("t_r"), sum(col("n_t")).as("t_t"))
    val w = bt.crossJoin(tot).select(col("b"),
      (log((col("n_t") + 1).cast("double")) -
        log((col("t_t") + 64).cast("double")) -
        log((col("n_r") + 1).cast("double")) +
        log((col("t_r") + 64).cast("double"))).as("lw"))
    db.join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_toks"),
        round(sum(col("n") * col("lw")), 4).as("llr_4"))
      .orderBy(col("doc_id"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_importance" -> curationImportance,
    "curation_split_leakproof" -> curationSplitLeakproof,
    "curation_shard_manifest" -> curationShardManifest,
    "curation_pipeline" -> curationPipeline,
    "curation_shuffle" -> curationShuffle,
    "decontam_exact" -> decontamExact,
    "decontam_bloom" -> decontamBloom,
    "pack_sequences" -> packSequences,
    "pack_sequences_ids" -> packSequencesIds,
    "pack_ids_conservation" -> packIdsConservation,
    "mixture_sample" -> mixtureSample,
    "text_repetition" -> textRepetition,
  )

  private val decontamSql =
    s"""WITH bt AS (SELECT string_split(text, ' ') AS tk FROM documents
       |           WHERE doc_id % 131 = 0),
       |bench AS (SELECT DISTINCT sh FROM (
       |  SELECT unnest(${sqlNgrams(5)}) AS sh FROM bt
       |  UNION ALL SELECT '$canary')),
       |ct AS (SELECT doc_id, string_split(text ||
       |    (CASE WHEN doc_id % 23 = 0 THEN ' $canary' ELSE '' END), ' ') AS tk
       |  FROM documents WHERE doc_id % 131 <> 0),
       |cs AS (SELECT doc_id, ${sqlNgrams(5)} AS shs FROM ct),
       |ex AS (SELECT doc_id, len(shs) AS n_shingles, unnest(shs) AS sh FROM cs)
       |SELECT e.doc_id, CAST(e.n_shingles AS BIGINT) AS n_shingles,
       | count(*) AS n_matched,
       | round(CAST(count(*) AS DOUBLE) / e.n_shingles, 4) AS ratio
       |FROM ex e JOIN bench b ON e.sh = b.sh
       |GROUP BY e.doc_id, e.n_shingles ORDER BY e.doc_id""".stripMargin

  private val pipelineSql =
    s"""WITH base AS (SELECT doc_id, source, lang, text FROM documents
       |  WHERE doc_id % 131 <> 0),
       |docs AS (SELECT * FROM base UNION ALL
       |  SELECT doc_id + 1000000000000, source, lang, text FROM base
       |  WHERE doc_id % 97 = 0),
       |q AS (SELECT doc_id, source, lang, text,
       |  (len(string_split(text, ' ')) >= 5 AND
       |   len(string_split(text, ' ')) <= 10000 AND
       |   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |     / len(string_split(text, ' ')) > 0.2) AS ok_quality
       |  FROM docs),
       |bt AS (SELECT string_split(text, ' ') AS tk FROM documents
       |       WHERE doc_id % 131 = 0),
       |bench AS (SELECT DISTINCT sh FROM (
       |  SELECT unnest(${sqlNgrams(5)}) AS sh FROM bt
       |  UNION ALL SELECT '$canary')),
       |ct AS (SELECT doc_id, string_split(text ||
       |    (CASE WHEN doc_id % 23 = 0 THEN ' $canary' ELSE '' END), ' ') AS tk
       |  FROM base),
       |cs AS (SELECT doc_id, ${sqlNgrams(5)} AS shs FROM ct),
       |ex AS (SELECT doc_id, unnest(shs) AS sh FROM cs),
       |contaminated AS (SELECT DISTINCT e.doc_id
       |  FROM ex e JOIN bench b ON e.sh = b.sh),
       |survivor AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id
       |  FROM docs GROUP BY md5(text)),
       |g AS (SELECT q.doc_id, q.source, q.ok_quality,
       |  (c.doc_id IS NULL) AS ok_clean,
       |  (q.doc_id = s.keep_id) AS ok_survivor,
       |  (CAST('0x' || substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |     % 100 <
       |   CASE WHEN q.lang = 'en' THEN 20 WHEN q.lang = 'zh' THEN 10
       |        ELSE 50 END) AS ok_sampled
       |  FROM q LEFT JOIN contaminated c ON q.doc_id = c.doc_id
       |         LEFT JOIN survivor s ON md5(q.text) = s.fp)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(CASE WHEN ok_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       | CAST(sum(CASE WHEN ok_clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       | CAST(sum(CASE WHEN ok_survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_survivor,
       | CAST(sum(CASE WHEN ok_sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       | CAST(sum(CASE WHEN ok_quality AND ok_clean AND ok_survivor AND ok_sampled
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       | min(CASE WHEN ok_quality AND ok_clean AND ok_survivor AND ok_sampled
       |   THEN doc_id END) AS first_keep
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  override val oracle: Map[String, String] = Map(
    // packing conservation in closed form: exactly the non-null-text
    // doc count, twice (loss/dup/token-mismatch poisons the Spark side)
    "pack_ids_conservation" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_docs_packed
        |FROM documents WHERE text IS NOT NULL
        |HAVING count(*) > 0""".stripMargin,
    // the same portable char-fold hash, the same smoothed-ln weight
    // table, 4 dp rounding on the only float step
    "curation_importance" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |hb AS (SELECT doc_id, lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1000000007) % 64 AS b
        |  FROM tok),
        |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
        |  FROM hb GROUP BY 1, 2),
        |bt AS (SELECT b, CAST(count(*) AS BIGINT) AS n_r,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t
        |  FROM hb GROUP BY b),
        |tot AS (SELECT CAST(sum(n_r) AS BIGINT) AS t_r,
        |    CAST(sum(n_t) AS BIGINT) AS t_t FROM bt),
        |w AS (SELECT b,
        |    ln(CAST(n_t + 1 AS DOUBLE)) - ln(CAST(t_t + 64 AS DOUBLE)) -
        |    ln(CAST(n_r + 1 AS DOUBLE)) + ln(CAST(t_r + 64 AS DOUBLE)) AS lw
        |  FROM bt, tot)
        |SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_toks,
        |  round(sum(db.n * w.lw), 4) AS llr_4
        |FROM db JOIN w USING (b)
        |GROUP BY db.doc_id ORDER BY doc_id""".stripMargin,
    // the oracle IS the naive single-window formulation over the same
    // LCG key — agreement proves the two-phase numbering is exact
    "curation_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    ((doc_id + 20240814) % 2147483647) * 48271 % 2147483647
        |      AS shuf_key
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, CAST(shuf_key AS BIGINT) AS shuf_key,
        |  CAST(row_number() OVER (ORDER BY shuf_key, doc_id) AS BIGINT)
        |    AS shuf_seq
        |FROM k ORDER BY shuf_seq""".stripMargin,
    "curation_split_leakproof" ->
      """WITH d AS (SELECT doc_id, coalesce(n_chars, 0) AS nc,
        |    md5(text) AS fp FROM documents),
        |g8 AS (SELECT *,
        |    CAST(('0x' || substring(fp, 1, 8)) AS BIGINT) % 100 AS hc,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 100 AS hi
        |  FROM d),
        |s AS (SELECT doc_id, nc, fp,
        |    CASE WHEN hc < 80 THEN 'train' WHEN hc < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CASE WHEN hi < 80 THEN 'train' WHEN hi < 90 THEN 'val'
        |         ELSE 'test' END AS split_id
        |  FROM g8),
        |grp AS (SELECT fp, count(*) AS sz,
        |    count(DISTINCT split) AS nsc, count(DISTINCT split_id) AS nsi
        |  FROM s GROUP BY fp),
        |aud AS (SELECT
        |    coalesce(CAST(sum(CASE WHEN nsc > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS leaky_groups_content,
        |    coalesce(CAST(sum(CASE WHEN nsi > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT), 0) AS leaky_groups_id
        |  FROM grp WHERE sz > 1)
        |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(s.nc) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN grp.sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  aud.leaky_groups_content, aud.leaky_groups_id
        |FROM s JOIN grp USING (fp) CROSS JOIN aud
        |GROUP BY s.split, aud.leaky_groups_content, aud.leaky_groups_id
        |ORDER BY s.split""".stripMargin,
    "curation_shard_manifest" ->
      """SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 16 AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_chars,
        |  CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
    "curation_pipeline" -> pipelineSql,
    "decontam_exact" -> decontamSql,
    // bit-identical by construction (bloom is a prefilter; the exact
    // join re-verifies), so the same oracle certifies both paths
    "decontam_bloom" -> decontamSql,
    "pack_sequences" ->
      s"""WITH t AS (SELECT source, doc_id,
         |  len(string_split(text, ' ')) AS nt FROM documents),
         |c AS (SELECT source, doc_id, nt,
         |  CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT source, (cum - nt) // $packBudget AS pack_id,
         | count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS pack_tokens,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM c GROUP BY source, (cum - nt) // $packBudget
         |ORDER BY source, pack_id""".stripMargin,
    "mixture_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n_total,
        |  CAST(CASE WHEN lang = 'en' THEN 4 WHEN lang = 'zh' THEN 1
        |       ELSE 2 END AS BIGINT) AS w
        |  FROM documents GROUP BY lang),
        |k AS (SELECT min(n_total // w) AS k FROM c),
        |g AS (SELECT d.doc_id, d.lang, c.n_total, c.w, c.w * k.k AS target,
        |  CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |    % 1000000 AS h
        |  FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN k)
        |SELECT lang, max(n_total) AS n_total, max(w) AS weight,
        | max(target) AS target,
        | CAST(sum(CASE WHEN h * n_total < target * 1000000 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_kept,
        | min(CASE WHEN h * n_total < target * 1000000 THEN doc_id END) AS first_kept
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT doc_id, len(tk) AS nt,
        |  len(list_distinct(list_transform(range(1, len(tk)),
        |    i -> array_to_string(list_slice(tk, i, i + 1), ' ')))) AS d2,
        |  len(list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS d3
        |  FROM t),
        |tp AS (SELECT doc_id, max(c) AS top_n FROM
        |  (SELECT doc_id, tok, count(*) AS c FROM
        |    (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY doc_id, tok)
        |  GROUP BY doc_id),
        |j AS (SELECT b.doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  round(CASE WHEN nt > 1 THEN CAST(nt - 1 - d2 AS DOUBLE) / (nt - 1)
        |        ELSE 0.0 END, 4) AS dup2_frac,
        |  round(CASE WHEN nt > 2 THEN CAST(nt - 2 - d3 AS DOUBLE) / (nt - 2)
        |        ELSE 0.0 END, 4) AS dup3_frac,
        |  round(CAST(top_n AS DOUBLE) / nt, 4) AS top_tok_frac
        |  FROM b JOIN tp ON b.doc_id = tp.doc_id)
        |SELECT *, (dup2_frac <= 0.2 AND dup3_frac <= 0.15 AND
        |           top_tok_frac <= 0.3) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,
  )
}
