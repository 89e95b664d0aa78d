package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan inspection main: prints `explain(formatted)` excerpts for
  * key queries and greps for the plan traits the 100 TB design requires —
  * filters/projections reaching the parquet scan, dimension joins planned
  * as broadcast, fact joins as sort-merge/shuffled-hash, global top-k as
  * TakeOrderedAndProject, and whole-stage codegen spans. Run:
  *
  *   sbt "runMain graft.PlanCheck /root/testdata/sf0.01"
  */
object PlanCheck {
  private case class Check(query: String, mustContain: Seq[String], mustNot: Seq[String] = Nil,
      // plan with spark.sql.autoBroadcastJoinThreshold=-1 so any remaining
      // BroadcastExchange must come from an explicit broadcast() hint —
      // the way to prove a query does NOT force-broadcast an unbounded table
      noAutoBroadcast: Boolean = false,
      // memoized queries return an eagerly-checkpointed relation whose
      // declared plan is just a checkpoint scan; `build` explains the
      // underlying un-memoized dataflow instead, so the check pins the
      // plan shape the build actually pays for
      build: Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] = None,
      // upper bounds on physical node COUNTS (formatted-mode detail
      // headers "(N) <node>"), e.g. "Exchange" -> 2 pins the shuffle
      // budget of a plan, "Scan parquet" -> 5 its scan budget
      maxNodes: Seq[(String, Int)] = Nil,
      // plan with AQE off so ReuseExchange applies statically and the
      // formatted plan shows the TRUE exchange count (AQE explain prints
      // the textual initial plan, where every reused exchange counts
      // once per occurrence — useless for a shuffle budget)
      noAdaptive: Boolean = false)

  private val checks = Seq(
    Check("q2_filter_pushdown",
      mustContain = Seq("PushedFilters: [", "Batched: true")),
    Check("q6_revenue_filter",
      mustContain = Seq("PushedFilters: [IsNotNull(l_shipdate)", "Batched: true")),
    Check("q3_shipping_priority",
      mustContain = Seq("BroadcastHashJoin", "Batched: true")),
    Check("q5_nation_revenue",
      mustContain = Seq("BroadcastHashJoin")),
    Check("q8_broadcast_dims",
      mustContain = Seq("BroadcastHashJoin")),
    Check("q4_order_priority_semi",
      mustContain = Seq("LeftSemi"), mustNot = Seq("CartesianProduct")),
    Check("q7_customer_anti",
      mustContain = Seq("LeftAnti"), mustNot = Seq("CartesianProduct")),
    Check("q9_event_range_join", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("q10_top_orders",
      mustContain = Seq("TakeOrderedAndProject")),
    // heavy-hitters: global top-k must NOT be a full sort
    Check("text_vocab_topk",
      mustContain = Seq("TakeOrderedAndProject", "HashAggregate")),
    Check("q1_pricing_summary",
      mustContain = Seq("HashAggregate", "ReadSchema: struct<l_quantity:double")),
    // the per-doc size table must NOT be forced broadcast (O(corpus) rows):
    // with auto-broadcast off, a hint-free plan has zero BroadcastExchange
    // and the keyed joins fall back to sort-merge
    Check("dedup_ngram_jaccard", mustContain = Seq("SortMergeJoin"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "BroadcastExchange"),
      noAutoBroadcast = true,
      // the declared query serves the memoized checkpoint; pin the plan
      // of the build that populates it
      build = Some((s, d) => graft.operators.DedupOps.ngramJaccardBuild(s, d))),
    // as-of via composition: window pass, no join explosion
    Check("q26_asof_join", mustContain = Seq("Window"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // as-of via the custom operator: strategy must engage
    Check("q26b_asof_native", mustContain = Seq("AsofJoin"),
      mustNot = Seq("SortMergeJoin", "CartesianProduct")),
    // outer variant rides the same exec — same plan shape required
    Check("q26c_asof_outer", mustContain = Seq("AsofJoin"),
      mustNot = Seq("SortMergeJoin", "CartesianProduct")),
    // grouping sets: Expand + hash agg shape
    Check("q28_grouping_sets", mustContain = Seq("Expand", "HashAggregate")),
    // single distinct column → Spark's two-phase keyed rewrite (no Expand);
    // assert the map-side partial sketch aggregation is present
    Check("q30_approx_distinct",
      mustContain = Seq("HashAggregate", "partial_approx_count_distinct")),
    // static pivot values → plain hash agg, no driver-side distinct pass
    Check("q29_pivot", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct")),
    Check("q27_percentiles", mustContain = Seq("ObjectHashAggregate")),
    Check("dedup_minhash_pairs", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("dedup_simhash_pairs", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("ann_lsh_topk", mustContain = Nil,
      mustNot = Seq("CartesianProduct")),
    Check("ann_lsh_portable", mustContain = Nil,
      mustNot = Seq("CartesianProduct")),
    Check("ann_ivf_topk", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("dedup_minhash_portable", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("dedup_simhash_portable", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // batch probes the corpus digest index via a keyed join — never a
    // cartesian, and the banded near-dup join stays bucket-keyed
    Check("ingest_dedup_exact", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("ingest_dedup_minhash", mustContain = Nil,
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // benchmark n-gram set is the bounded side → must be the broadcast
    // side of a hash join; the corpus side must never cartesian
    Check("decontam_exact", mustContain = Seq("BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin")),
    // the bloom probe must be the codegen expression (shows by name in
    // the Filter detail), never a scala udf (which would break
    // whole-stage codegen at the hottest filter of the pipeline)
    Check("decontam_bloom",
      mustContain = Seq("BroadcastHashJoin", "graft_bloom_might_contain"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin", "UDF")),
    // one window pass, no self-join
    Check("pack_sequences", mustContain = Seq("Window"),
      mustNot = Seq("Join")),
    // composed pipeline keeps the component shapes: broadcast bench join,
    // keyed digest join — never a cartesian
    Check("curation_pipeline", mustContain = Seq("BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // per-stratum counts ride a broadcast hash join back onto the corpus
    // (the 1-row k scalar is an intentional broadcast nested loop)
    Check("mixture_sample", mustContain = Seq("BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin")),
    // query table / df table / corpus stats all broadcast; the postings
    // filter (term IN query-vocab) must reach the corpus side before the
    // tf shuffle (it shows as a Filter above the scan, not above an agg)
    Check("search_bm25", mustContain = Seq("BroadcastHashJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin")),
    // only join is the intentional 1-row corpus-stats broadcast
    Check("search_term_stats", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin")),
    // window digests join back keyed on the digest — no self-join of the
    // un-aggregated window table, no cartesian
    Check("dedup_substring_spans", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // dense spine via distributed sequence-explode + one window pass —
    // no driver-side calendar loop, no cartesian
    Check("q39_gap_fill", mustContain = Seq("Window", "Generate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // full outer cannot broadcast a build side — a keyed shuffle join is
    // the CORRECT plan here, not a regression
    Check("q40_full_outer", mustContain = Seq("FullOuter"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // one explode + one partial-agged groupBy; scoring is pure projection
    Check("text_quality_model", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Join")),
    // one keyed window pass, filter pushed to the scan, no join at all
    Check("q41_rank_family", mustContain = Seq("Window", "PushedFilters: ["),
      mustNot = Seq("Join", "HashAggregate")),
    // map assembly is a two-level aggregation — no join, no cartesian
    Check("q42_map_funcs", mustContain = Seq("ObjectHashAggregate"),
      mustNot = Seq("Join", "CartesianProduct")),
    // the salted join is a plain (k, salt)-keyed equi-join — salting must
    // never degrade it to a cartesian/BNLJ
    Check("q43_salted_join", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // corpus-sized work is ONE signature projection + per-source mins;
    // the #sources² comparison is an INTENTIONAL tiny broadcast nested
    // loop — but never a cartesian product
    Check("dedup_source_overlap", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct")),
    // the bigram/context count tables are O(corpus n-grams) and must NOT
    // be force-broadcast: with auto-broadcast off the scoring joins fall
    // back to keyed sort-merge; the 1-row vocab scalar is an intentional
    // broadcast nested loop
    Check("text_perplexity", mustContain = Seq("SortMergeJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct"), noAutoBroadcast = true),
    // perceptual-hash candidates come from a (band, chunk)-keyed
    // equi-join over the checkpointed sketch table — never a cartesian
    Check("multimodal_phash_pairs", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // the recall audit runs the UNCHANGED production band joins over the
    // planted corpus; the only nested loops are the one-row count
    // crossJoins — never a cartesian over data
    Check("dedup_sketch_recall", mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct")),
    // one-pass profiler: a single aggregate (Expand feeds the exact
    // multi-column DISTINCTs) — never a join, never a second scan.
    // min/max over string columns forces a SortAggregate (string agg
    // buffers aren't hash-mutable), so accept any aggregate flavor.
    Check("profile_columns", mustContain = Seq("Expand", "Aggregate"),
      mustNot = Seq("Join", "CartesianProduct")),
    // snapshot diff: both sides reduce to (key, digest) BEFORE the one
    // full-outer shuffle join; full-outer has no broadcast form, so the
    // plan must be keyed sort-merge — and the 16-byte digest (not the
    // text) is what crosses the exchange
    Check("cdc_snapshot_delta",
      mustContain = Seq("SortMergeJoin", "FullOuter"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true),
    // cohort cells: one window pass (per-user min in the user shuffle)
    // then one aggregate — no join back onto the event log
    Check("cohort_retention", mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct")),
    // OHLC bars: both window orders and the final aggregate share the
    // (event_type, bar) exchange — no join, no cartesian
    Check("events_ohlc", mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct")),
    // pagerank rounds are keyed joins on long node ids; the rank table
    // is O(nodes) and must fall back to sort-merge without a hint —
    // never a cartesian/BNLJ
    // declared result is a per-round checkpoint scan; pin the shape of
    // the round dataflow each iteration actually pays for
    Check("graph_pagerank", mustContain = Seq("SortMergeJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true,
      build = Some((s, d) => graft.operators.AnalyticsOps.pagerankRoundPlan(s, d))),
    // whole 3-round pagerank exchange budget (AQE off → reuse visible):
    // one pair-distinct (reused by every other appearance), per-round
    // edge-side hash + deg where canonicalization permits reuse, one
    // rank0, three round aggs — 8 total, ONE marginal exchange per
    // round in the executed DAG. The pin fails if the plan regresses to
    // re-shuffling the pair table per round per direction (the union
    // shape this replaced: 10 fresh exchanges, 14 scans vs 1).
    Check("graph_pagerank_budget",
      mustContain = Seq("SortMergeJoin", "HashAggregate", "ReusedExchange"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true, noAdaptive = true,
      build = Some((s, d) => graft.operators.AnalyticsOps.pagerankDeclaredPlan(s, d)),
      maxNodes = Seq("Exchange" -> 8, "Scan parquet" -> 1)),
    // priority sampling: global top-k stays TakeOrderedAndProject
    // (map-side k per partition), never a full sort of the corpus
    Check("sample_weighted", mustContain = Seq("TakeOrderedAndProject"),
      mustNot = Seq("Join", "CartesianProduct")),
    // z-order cell audit: pure codegen projection feeding ONE partial-agg
    // shuffle plus the final sort's range exchange — no join, no extra
    // shuffle, and the scan reads only the two clustered keys
    Check("layout_zorder",
      mustContain = Seq("HashAggregate",
        "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      mustNot = Seq("Join", "CartesianProduct"),
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // hybrid RRF: the fusion is a keyed merge join of two tiny rank
    // tables (full outer cannot broadcast a side — SMJ is the right
    // shape), per-query top-k is rank-limited BEFORE the window sort
    // (WindowGroupLimit), and the whole two-leg plan touches the corpus
    // a bounded number of times (2 documents + 2 embeddings scans); the
    // declared query serves the memoized postings index, so pin the
    // un-memoized build dataflow
    Check("search_hybrid_rrf",
      mustContain = Seq("FullOuter", "WindowGroupLimit"),
      mustNot = Seq("CartesianProduct"),
      maxNodes = Seq("Scan parquet" -> 5),
      build = Some((s, d) => graft.operators.SearchOps.searchHybridRrfBuild(s, d))),
    // bm25 index build: vocabulary filter applied under the Generate
    // (postings volume to the tf shuffle), query/df/stats joins all
    // broadcast — the corpus never shuffles into a join
    // 3 scans: postings explode, the df-table derivation, corpus stats —
    // paid ONCE per corpus generation; the declared query serves the
    // checkpoint with zero corpus scans
    Check("search_bm25",
      mustContain = Seq("Generate", "BroadcastHashJoin", "WindowGroupLimit"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      maxNodes = Seq("Scan parquet" -> 3),
      build = Some((s, d) => graft.operators.SearchOps.searchBm25Build(s, d))),
    // CMS: the 4096-cell sketch rides a BROADCAST into the probe join
    // (hinted, so it survives auto-broadcast off); heavy aggregation is
    // hash-based with map-side partials, and nothing cartesian
    Check("text_cms_heavyhitters",
      mustContain = Seq("BroadcastHashJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true),
    // quantized ANN: scales (1 row) and queries (5 rows) broadcast; the
    // corpus is scanned, never shuffled into a join
    Check("ann_quantized_topk",
      mustContain = Seq("BroadcastExchange"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true),
    // anomaly: per-type moments broadcast back over one corpus scan,
    // global top-100 via TakeOrdered, no full sort
    Check("events_anomaly",
      mustContain = Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true),
    // funnel: per-user stage frames are O(users) — they must NOT be
    // force-broadcast; keyed joins + hash aggs, nothing cartesian.
    // Exchange budget (AQE off → reuse visible): the corpus shuffles on
    // the user key once as three disjoint stage slices (3), each stage's
    // singleton count-agg adds one (3), plus one stage-frame reuse
    // boundary — any regression to re-shuffling a stage frame breaks 7
    Check("events_funnel",
      mustContain = Seq("SortMergeJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "BroadcastExchange"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 7, "Scan parquet" -> 4)),
    // per-stratum top-k: rank-limited window (map-side k per group),
    // no join, no global TakeOrdered of the corpus
    Check("sample_stratified_topk",
      mustContain = Seq("WindowGroupLimit"),
      mustNot = Seq("Join", "CartesianProduct")),
    // approx percentiles: GK/exact sketches aggregate via
    // ObjectHashAggregate; the ≤3·|types| probe rows broadcast back —
    // the corpus itself never joins shuffled
    Check("events_approx_percentiles",
      mustContain = Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true),
    // merge-apply: the delta derivation keeps the extractor's keyed
    // full-outer; the final 1-row audit assembly may broadcast but
    // nothing cartesian over data. Budgets (AQE off): the audit's two
    // checksum legs + delta replay bound the table at 8 scans and the
    // keyed joins/aggs at 7 exchanges (4 more arrive as ReusedExchange)
    Check("cdc_merge_apply",
      mustContain = Seq("SortMergeJoin FullOuter", "HashAggregate"),
      mustNot = Seq("CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 7, "Scan parquet" -> 8)),
    // streaming top-k serving read: rank over the streamed sink table is
    // ONE parquet scan, rank-limited per hour BEFORE any sort
    // (WindowGroupLimit), with only the window hash + presentation range
    // exchanges — never a join back onto the stream
    Check("stream_topk_users",
      mustContain = Seq("WindowGroupLimit", "Window"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // centroids: one generator + one keyed agg to 64·|labels| cells —
    // no join anywhere
    Check("embedding_centroids",
      mustContain = Seq("Generate", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct")),
    // kNN classify: the label join runs over ≤10·|queries| neighbor
    // rows, never a corpus-by-corpus product
    Check("ann_knn_classify",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct")),
    // normalization: a shuffle-free scalar projection (the single
    // Exchange is the final presentation sort's range partitioning)
    Check("text_normalize",
      mustContain = Seq("Scan parquet"),
      mustNot = Seq("Join", "CartesianProduct"),
      maxNodes = Seq("Exchange" -> 1)),
    // triangles: degree and wedge joins are keyed on node ids (O(V)/O(E)
    // tables — sort-merge without a hint, NEVER cartesian over edges);
    // the only nested-loop joins are the three hinted one-row summary
    // crosses. Scan budget: the folded edge list is derived once and
    // reused (ReusedExchange) by degree/orientation/wedge legs
    Check("graph_triangles",
      mustContain = Seq("SortMergeJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 2)),
    // time-RANGE trailing frame: ONE window exchange (hash by user) and
    // the running frame evaluated inside a single Window node — no
    // self-join, no (event × hour) explosion, scan reads 4 columns
    Check("events_range_trailing",
      mustContain = Seq("Window", "RangeFrame"),
      mustNot = Seq("Join", "CartesianProduct"),
      maxNodes = Seq("Exchange" -> 1, "Scan parquet" -> 1)),
    // corr stats: one partial-agg shuffle to |event_type| rows; the
    // closed forms are pure projection on the aggregate output — no
    // join, no second pass over the corpus
    Check("events_corr_stats",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // LATERAL top-N per outer row: Catalyst must decorrelate into a
    // rank-limited window join — one pass over the inner table
    // (WindowGroupLimit caps each key's buffer at N), never a
    // per-outer-row re-execution and never a cartesian
    Check("q44_lateral_topk",
      mustContain = Seq("WindowGroupLimit"),
      mustNot = Seq("CartesianProduct"),
      maxNodes = Seq("Scan parquet" -> 2)),
    // shard manifest: one scalar projection + one 16-group aggregate —
    // no join; exchanges are the agg hash + presentation sort
    Check("curation_shard_manifest",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // shuffled-hash: the hint must engage the third join strategy — a
    // partitioned hash build, no sort passes, no broadcast of the
    // O(orders) side even with auto-broadcast off
    Check("q45_shuffle_hash",
      mustContain = Seq("ShuffledHashJoin", "HashAggregate"),
      mustNot = Seq("SortMergeJoin", "CartesianProduct", "BroadcastExchange"),
      noAutoBroadcast = true),
    // PQ-ADC: codebook (128 rows) and LUT (|q|·8·16 rows) are the ONLY
    // join builds and both ride explicit broadcasts; the corpus is
    // never shuffled into a join and nothing is cartesian
    // (AQE off so the exchange budget sees the true static count: 6 —
    // the scale/codebook/LUT broadcast builds plus the per-query rank
    // and presentation exchanges; a regression shuffling the encoded
    // corpus into a join breaks both the budget and the no-SMJ pin)
    Check("ann_pq_topk",
      mustContain = Seq("BroadcastHashJoin", "HashAggregate", "WindowGroupLimit"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 6, "Scan parquet" -> 4)),
    // histogram: per-type bounds broadcast back over one corpus re-scan
    // (the events_anomaly two-pass pattern) — keyed hash aggs, no SMJ,
    // nothing cartesian
    Check("events_histogram",
      mustContain = Seq("BroadcastHashJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true,
      maxNodes = Seq("Scan parquet" -> 2)),
    // KL divergence: corpus shuffles ONCE into (source, token) counts;
    // totals/vocab/pairs are tiny and ride broadcast nested loops into
    // the map-side term expansion — no keyed join of the corpus against
    // anything, nothing cartesian over data
    Check("text_source_divergence",
      mustContain = Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      maxNodes = Seq("Scan parquet" -> 4)),
    // banded fuzzy join: an equi-join on the band key (never a cartesian
    // or BNLJ — the blocking key is what makes the dictionary join
    // hash-partitionable), dictionary distinct is one exchange per side
    Check("entity_fuzzy_pairs",
      mustContain = Seq("levenshtein"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true),
    // incremental MV merge: the view↔delta merge is a keyed full-outer
    // (SMJ — an O(keys) side must never broadcast), and the delta/audit
    // arms are keyed aggregates; no cartesian anywhere
    Check("mv_incremental_refresh",
      mustContain = Seq("SortMergeJoin FullOuter", "HashAggregate"),
      mustNot = Seq("CartesianProduct"),
      noAutoBroadcast = true),
    // phrase match: position-shift joins are keyed equi-joins on
    // (doc_id, pos) over vocabulary-filtered postings — never a
    // cartesian/BNLJ, and the corpus scans carry the phrase-term filter
    Check("search_phrase",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true),
    // skyline: banded windows + broadcast prefix-max — the corpus-sized
    // stages are one distinct agg and one partitioned window; no
    // dominance self-join, no single-task global window over the corpus
    Check("pareto_frontier",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"),
      maxNodes = Seq("Scan parquet" -> 2)),
    // transitions: ONE user-key window exchange feeds the pair agg; the
    // per-from totals ride an explicit broadcast back — the corpus never
    // joins shuffled, nothing cartesian. Exchanges (AQE off): window
    // hash + pair-agg hash + totals-agg hash + presentation sort = 4
    Check("events_transitions",
      mustContain = Seq("Window", "BroadcastHashJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 4, "Scan parquet" -> 1)),
    // interval coverage: both windows and both aggs share the single
    // user-key partitioning — ONE data exchange plus the presentation
    // sort; no join anywhere
    Check("events_interval_coverage",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // EWMA: two windows + final agg all hash by user_id — one data
    // exchange, one presentation sort; per-user state capped at 8 rows
    Check("events_ewma",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // filtered aggs: FILTER clauses + distinct expand + median stay in
    // ONE aggregation lineage — no self-join, single corpus scan
    Check("q46_filter_aggs",
      mustContain = Seq("HashAggregate", "Expand"),
      mustNot = Seq("Join", "CartesianProduct"),
      maxNodes = Seq("Scan parquet" -> 1)),
    // leakproof split: ONE linear pipeline — one corpus scan, the
    // fingerprint shuffle, the |splits|-row rollup, and the global audit
    // as an unpartitioned window over ≤3 rows; NO join of any kind.
    // Exchanges: fp hash + split hash + window singleton + sort = 4
    Check("curation_split_leakproof",
      mustContain = Seq("HashAggregate", "Window"),
      mustNot = Seq("Join", "CartesianProduct", "Expand"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 4, "Scan parquet" -> 1)),
    // bigram LM: corpus touched by ONE generate + per-doc window; the
    // (w1,w2) relation is vocabulary-bounded, ctx joins keyed on it and
    // the scalar V broadcasts — the token stream never joins shuffled
    // (AQE off so the bi-relation's ReusedExchange is visible — the
    // token stream is generated twice: bigram leg + vocabulary leg)
    Check("text_bigram_lm",
      mustContain = Seq("Window", "HashAggregate", "Generate"),
      mustNot = Seq("CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 2)),
    // pattern match: one user-keyed sequence agg + a singleton fold +
    // stack projection — no join, two exchanges (user hash + singleton)
    Check("events_pattern_match",
      mustContain = Seq("HashAggregate", "Generate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // k-hop BFS: frontier joins are keyed SMJ against the ONE
    // pre-partitioned edge exchange (reused every round — AQE off makes
    // the ReusedExchange visible); anti-joins keyed; nothing cartesian,
    // nothing broadcast-forced over the corpus
    // (scan budget 3: ONE lineitem scan — every round's edge probe is a
    // ReusedExchange off it — plus the O(suppliers) seed table planned
    // under two prunings; the corpus-sized table is never re-read)
    // (exchange budget 12: the one-off edge fold/repartition + seeds,
    // then per round ONE frontier-side shuffle, one distinct, and the
    // anti-join's visited side — the edge side of every round's probe
    // must stay a ReusedExchange; re-shuffling the edge list per round
    // adds 3 and breaks the budget. Nothing broadcast: frontier and
    // visited are O(V) at scale.)
    Check("graph_khop",
      mustContain = Seq("SortMergeJoin", "ReusedExchange"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "BroadcastExchange"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 12, "Scan parquet" -> 3)),
    // time-weighted average: lead window + agg share the user hash —
    // one data exchange plus the presentation sort; no join
    Check("events_timeweighted",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // Benford: one 9-group agg, share window over 9 rows, broadcast
    // 9-row literal join — the corpus is scanned once and never joined
    Check("quality_benford",
      mustContain = Seq("HashAggregate", "BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1)),
    // TF-IDF keywords: postings/df/N all derive from the one token
    // explode; the df join is KEYED (SMJ — the vocabulary is
    // corpus-sized at scale, it must never broadcast), N rides the one
    // explicit broadcast, and the per-doc top-3 is a rank-limited window
    Check("text_tfidf_keywords",
      mustContain = Seq("WindowGroupLimit", "SortMergeJoin", "Generate"),
      mustNot = Seq("CartesianProduct"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 3)),
    // weighted median: (flag,price) pre-agg shrinks the windowed
    // relation to distinct prices; both frames + final min share the
    // flag ordering — keyed shuffles only, no join
    Check("q47_weighted_median",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1)),
    // deciles: one per-type window + one same-partitioning agg — a
    // single data exchange plus the presentation sort, no join
    Check("events_deciles",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // global index: numbering reads the checkpointed range-partitioned
    // frame; offsets (≤16 rows) ride the one explicit broadcast — the
    // corpus is never globally windowed (no single-task sort of data)
    Check("layout_global_index",
      mustContain = Seq("Window", "BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true, noAdaptive = true),
    // changepoint: every window (prefix, totals, rank) shares the ONE
    // type-keyed exchange; no join, no second scan
    Check("events_changepoint",
      mustContain = Seq("Window", "RowFrame"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // price reconcile: per-order line agg + keyed left join — both
    // shuffles on the order key, never a broadcast of either fact table
    Check("quality_price_reconcile",
      mustContain = Seq("SortMergeJoin LeftOuter", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastExchange"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 4, "Scan parquet" -> 2)),
    // autocorr: one type-keyed window + moment agg on the same
    // partitioning; the closed form is projection on |types| rows
    Check("events_autocorr",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // winsorize: the |types|-row exact-percentile bounds broadcast back
    // over one re-scan (the anomaly/histogram two-pass shape) — the
    // corpus is never shuffled into a join
    Check("events_winsorized",
      mustContain = Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true,
      maxNodes = Seq("Scan parquet" -> 2)),
    // dow profile: one ≤168-group agg + share window over the grid
    Check("events_dow_profile",
      mustContain = Seq("HashAggregate", "Window"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1)),
    // time rollup: ONE Expand-based aggregate pass over one scan
    Check("q48_time_rollup",
      mustContain = Seq("Expand", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // zone-map probes: three band aggregates over the snapshot relation —
    // each scan plans from manifest metadata and data-skips to its band;
    // no join anywhere near the fact table
    Check("layout_snapshot_prune",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 3)),
    // deterministic shuffle: the layout_global_index two-phase shape —
    // range exchange + per-partition window, offsets (<=16 rows) ride
    // the one explicit broadcast; never a single-task global window
    Check("curation_shuffle",
      mustContain = Seq("Window", "BroadcastHashJoin"),
      mustNot = Seq("CartesianProduct", "SortMergeJoin"),
      noAutoBroadcast = true, noAdaptive = true),
    // bucketed snapshot join: BOTH scans report the bucket hash
    // partitioning, so the join itself is exchange-free — the only two
    // exchanges are the segment aggregation and the presentation sort.
    // A bucket-layout regression re-shuffles the join inputs and breaks
    // the budget at 4.
    Check("layout_snapshot_bucketed",
      mustContain = Seq("SortMergeJoin", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastExchange"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 2)),
    // bucket-WITHIN-partition: the orders scan prunes directories from
    // the partition IN-filter AND reports the bucket hash partitioning;
    // the join runs exchange-free on both bucketed sides — the only two
    // exchanges are the aggregation and the presentation sort. A bucket
    // regression re-shuffles the join (budget breaks at 4); a partition
    // regression loses the PartitionFilters entry.
    Check("layout_partitioned_bucketed",
      mustContain = Seq("SortMergeJoin", "HashAggregate",
        "IN (1-URGENT,2-HIGH)"),
      mustNot = Seq("CartesianProduct", "BroadcastExchange"),
      noAutoBroadcast = true, noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 2)),
    // decimal zone maps: the money band reaches the scan pushed down
    // (scan-metric pruning pinned in SnapshotTimeStatsSpec); one scan,
    // no join, agg + presentation sort only
    Check("layout_snapshot_moneyband",
      mustContain = Seq("PushedFilters: [IsNotNull(amount), " +
        "GreaterThanOrEqual(amount,", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // timestamp zone maps: the window predicate reaches the scan pushed
    // down (the manifest FileIndex data-skips on it — the file-count
    // metric is pinned in SnapshotTimeStatsSpec); one scan, no join,
    // agg + presentation sort only
    Check("layout_snapshot_timefilter",
      mustContain = Seq("PushedFilters: [IsNotNull(ts), " +
        "GreaterThanOrEqual(ts,", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 2, "Scan parquet" -> 1)),
    // burstiness: two chained aggs (minute grid, per-type reduction) —
    // one corpus scan, no join
    Check("events_burstiness",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 3, "Scan parquet" -> 1)),
    // exact prefix join: every join is keyed (shingle / doc id) — a
    // regression to any nested-loop/cartesian candidate generation, or
    // to force-broadcasting the O(corpus) postings, breaks this
    Check("dedup_jaccard_prefix",
      // round 19: candidate verify is per-PAIR array_intersect over the
      // materialized shingle-set arrays, not a candidate re-explosion
      mustContain = Seq("Window", "HashAggregate", "array_intersect"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true,
      build = Some((s, d) => graft.operators.DedupOps.prefixJaccardPlan(s, d))),
    // ingest probe: same contract — the corpus postings index is joined
    // keyed, never broadcast, never self-joined
    Check("ingest_jaccard_prefix",
      mustContain = Seq("Window", "HashAggregate", "array_intersect"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true,
      build = Some((s, d) => graft.operators.DedupOps.ingestJaccardPrefixPlan(s, d))),
    // JL recall: the reduced-space search must stay a keyed equi-join on
    // the sign bucket — the pre-fix shape (broadcast q + <> predicate)
    // was a BroadcastNestedLoopJoin, quadratic in the corpus. (The
    // 1-row×1-row audit assembly at the top IS a cartesian by design,
    // so only BNLJ — the data-sized failure mode — is banned.)
    Check("ann_rp_recall",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("BroadcastNestedLoopJoin"),
      noAutoBroadcast = true),
    // robust stats: two per-type sort windows + keyed joins, nothing
    // cartesian, the corpus never broadcast
    Check("events_mad_outliers",
      mustContain = Seq("Window"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true),
    // trigram paths: one window pass, tiny path-universe agg, top-20 via
    // TakeOrdered — never a join, never a global sort of the corpus
    Check("events_trigrams",
      mustContain = Seq("Window", "TakeOrderedAndProject"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 3, "Scan parquet" -> 1)),
    // KMV set-op sketches: exactly ONE corpus-sized stage (the distinct
    // (type, hash) shuffle feeding the per-type window) plus the exact
    // audit's hash join; everything pairwise runs on T·K sketch rows —
    // never a cartesian over DATA (the type-pair crosses are over the
    // ≤|types| frame). Scan budget: events read once per leg
    Check("sketch_kmv_setops",
      mustContain = Seq("Window", "HashAggregate"),
      mustNot = Seq("CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Exchange" -> 7, "Scan parquet" -> 2)),
    // truncation-recall audit: two broadcast-query corpus passes (full
    // + 16-dim prefix), each one window — no corpus-side broadcast, no
    // cartesian; the only nested-loop join is the 5-row query set
    Check("embed_truncation_recall",
      mustContain = Seq("Window"),
      mustNot = Seq("CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 3, "Exchange" -> 6)),
    // runtime bloom-filter join pruning: the injected semi-join filter
    // must show on the application (lineitem) side as a might_contain
    // over the scan — the 100 TB fact-shuffle reducer. The builder
    // forces its plan inside the threshold-override window
    Check("q49_runtime_bloom",
      mustContain = Seq("might_contain", "SortMergeJoin"),
      mustNot = Seq("CartesianProduct")),
    // BPE encode is ONE projection over the scan — the codegen
    // expression by name, never a UDF, never a join; the merge table
    // rides the expression, so no broadcast/exchange beyond the
    // ordering requested by the query itself
    Check("text_token_ids",
      mustContain = Seq("graft_bpe_encode"),
      mustNot = Seq("Join", "UDF", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 1)),
    // the roundtrip audit: encode∘decode inside one aggregate pass
    Check("text_bpe_roundtrip",
      mustContain = Seq("graft_bpe_decode", "HashAggregate"),
      mustNot = Seq("Join", "UDF", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 1)),
    // nested zone-map pruning: the band query is ONE manifest-planned
    // scan + keyed agg — no join, no second pass; nested schema pruning
    // must drop the untouched meta.prov branch from the read
    Check("layout_nested_prune",
      mustContain = Seq("HashAggregate", "Scan parquet"),
      mustNot = Seq("Join", "CartesianProduct", "prov"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // GRAFT CHANGES resolves to the DISTRIBUTED feed plan (exceptAll
    // diff legs over the table's files) — never a collected echo
    // re-parallelized driver-side
    Check("cdc_sql_changes",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("LocalTableScan", "CartesianProduct"),
      noAdaptive = true),
    // right-outer stream read-back: the declared result is one scan of
    // the sink table + presentation sort — the join ran IN the stream,
    // never re-joined batch-side
    Check("stream_right_outer_join",
      mustContain = Seq("Scan parquet"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 1)),
    // real-id packing: ONE window per source over ONE scan, the encode
    // riding the scan projection as the codegen expression — no join,
    // no UDF, no second corpus pass
    Check("pack_sequences_ids",
      mustContain = Seq("Window", "graft_bpe_encode"),
      mustNot = Seq("Join", "UDF", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Window" -> 1, "Exchange" -> 3)),
    // conservation audit: the direct count and the packed rollup are
    // two corpus scans folded by a 1-row broadcast cross — never a
    // row-level cartesian, still exactly one Window
    Check("pack_ids_conservation",
      mustContain = Seq("Window", "graft_bpe_encode"),
      mustNot = Seq("CartesianProduct", "UDF"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 2, "Window" -> 1)),
    // change-feed stream read-back: the declared rollup is one scan of
    // the landed partials + keyed agg — the per-commit diffing ran IN
    // the stream, nothing re-joins the source
    Check("stream_cdf",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // update-paired feed read-back: same landed-partials shape — the
    // per-commit diffing (and the kind-based image pairing) ran IN the
    // stream, nothing re-joins the source
    Check("stream_cdf_updates",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // byte-level encoder: same single-scan codegen-projection shape as
    // the code-point variant
    Check("text_token_ids_bytes",
      mustContain = Seq("graft_bpe_encode_bytes"),
      mustNot = Seq("Join", "UDF", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 1)),
    Check("text_bpe_bytes_roundtrip",
      mustContain = Seq("graft_bpe_decode_bytes", "HashAggregate"),
      mustNot = Seq("Join", "UDF", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 1)),
    // declared map-key probe: one manifest-planned scan + keyed agg,
    // the subscript filter evaluated on the scan — no join, no UDF
    Check("layout_map_prune",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "UDF", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // declared array-element probe: one manifest-planned scan + keyed
    // agg, array_contains evaluated on the scan — no join, no UDF, no
    // explode (membership never needs an element blow-up)
    Check("layout_array_prune",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "UDF", "CartesianProduct", "Generate"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // mixed-era read: ONE relation per scheme era (flat + hive = two
    // scans), unioned — never a join, never a third pass
    Check("layout_partition_evolution",
      mustContain = Seq("Union", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 2, "Exchange" -> 2)),
    // cross-era DML read-back: after the UPDATE the table still spans
    // two eras (untouched old-era files + hive files incl. the
    // migrated rewrites) — same two-scan union budget, never a join;
    // the update itself ran pre-read, invisible to this plan
    Check("layout_evolved_update",
      mustContain = Seq("Union", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 2, "Exchange" -> 2)),
    // tag-pinned read: the tag resolves to a version at PLAN time —
    // one manifest-planned scan + agg, no joins, nothing re-resolved
    // row-side (a pin is metadata, invisible to the plan)
    Check("layout_tag_read",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // published main reads as one plain snapshot: single scan + agg —
    // the branch splice is pure manifest metadata, invisible to plans
    Check("layout_branch_publish",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // published MOR splice reads as one data scan + ONE vector-frame
    // anti-join (the unioned vectors subtract in a single pass) — the
    // del splice is manifest metadata, never a per-side re-diff
    Check("layout_branch_mor",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("CartesianProduct", "UDF"),
      noAdaptive = true,
      // 2 scans: the spliced data files + the unioned vector frame;
      // 3 exchanges: the vector BROADCAST (anti-join subtraction is
      // broadcast-sized by MOR design) + agg + presentation sort
      maxNodes = Seq("Scan parquet" -> 2, "Exchange" -> 3)),
    // the keyed-FOLLOW mirror reads as one plain snapshot: the CDC
    // applies landed as selective merges upstream of this plan — no
    // vectors to subtract, no join, nothing re-reads the source
    Check("cdc_follow_merge",
      mustContain = Seq("Scan parquet", "HashAggregate"),
      mustNot = Seq("Join", "CartesianProduct", "UDF"),
      noAdaptive = true,
      maxNodes = Seq("Scan parquet" -> 1, "Exchange" -> 2)),
    // tiled batch feed: a UNION of per-commit diff plans (append tiles
    // are pure added-file scans; the UPDATE/DELETE tiles pay exceptAll
    // over their changed files) + the keyed rollup — distributed end
    // to end, never a collected echo re-parallelized driver-side
    Check("cdc_tiled_changes",
      mustContain = Seq("Scan parquet", "HashAggregate", "Union"),
      mustNot = Seq("LocalTableScan", "CartesianProduct", "UDF"),
      noAdaptive = true),
    // ---- round-19 optimization pins ----
    // diffLegs: BOTH multiset-diff legs of a rewrite-crossing CDF range
    // come from ONE shared aggregation — the second leg's grouped sum
    // reads the first's exchange (static ReusedExchange; a regression
    // to two independent exceptAll rewrites plans two exchanges and
    // loses the reuse). ReplicateRows is the except-all generate shape
    // both legs serve rows through.
    Check("layout_snapshot_changes",
      mustContain = Seq("replicaterows(", "ReusedExchange"),
      mustNot = Seq("CartesianProduct"),
      noAdaptive = true),
    // containment verify: per-PAIR array_intersect against the per-doc
    // shingle-set arrays (one collect_list aggregate reused for both
    // sides) — a regression to re-exploding candidates against the
    // postings re-plans the pair-count HashAggregate over |cand|·|doc|
    // rows; the arrays make the verify one row per candidate
    Check("dedup_containment",
      mustContain = Seq("Window", "array_intersect"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAutoBroadcast = true),
    // connected components, ONE star round: three exchanges — the
    // symmetric view and the large-star output each repartitioned ONCE
    // on the star key and reused by their min aggregate + join-back
    // (ReusedExchange present), plus the emitted-pair dedup. A
    // regression to per-consumer shuffles breaks the budget.
    Check("dedup_components_round",
      mustContain = Seq("ReusedExchange"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAdaptive = true, noAutoBroadcast = true,
      build = Some((s, d) => graft.operators.DedupOps.starRoundPlan(s, d)),
      maxNodes = Seq("Exchange" -> 4)),
    // connected components, the per-round convergence test: is the
    // round's output a star forest? One keyed aggregate over the pairs —
    // one exchange, no join, no second pass over the previous round.
    Check("dedup_components_converged",
      mustContain = Seq("HashAggregate"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"),
      noAdaptive = true, noAutoBroadcast = true,
      build = Some((s, d) => graft.operators.DedupOps.starForestPlan(s, d)),
      maxNodes = Seq("Exchange" -> 1)),
    // k-core, ONE peeling round over the folded lineitem edges: one
    // degree aggregate whose weak-node set is broadcast once and reused
    // by both anti-joins (ReusedExchange) — one exchange. The round's
    // convergence count rides its checkpoint, so this is the whole
    // per-round budget.
    Check("graph_kcore_round",
      mustContain = Seq("LeftAnti", "ReusedExchange"),
      mustNot = Seq("CartesianProduct", "BroadcastNestedLoopJoin"),
      noAdaptive = true,
      build = Some((s, d) => graft.operators.GraphOps.kcoreRoundPlan(s, d)),
      maxNodes = Seq("Exchange" -> 1)),
  )

  /** One check's outcome: the query name, pass/fail, and on failure a
    * summary plus the first plan lines (empty when ok). */
  final case class Result(query: String, ok: Boolean, detail: String)

  /** The `build` override registered for `query`, if any — shared with
    * [[PlanDump]] so dumps explain the same un-memoized dataflow the
    * checks assert on. */
  private[graft] def buildFor(query: String)
      : Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] =
    checks.find(_.query == query).flatMap(_.build)

  /** Run every plan assertion against `sfDir` on an EXISTING session
    * (conf toggles are saved/restored per check) — the callable core
    * behind both the inspection main and the `PlanCheckSpec` test
    * gate, so a plan regression fails `sbt test` instead of surfacing
    * rounds later as a bench mystery. */
  def runAll(spark: SparkSession, sfDir: String,
      only: Option[Set[String]] = None): Seq[Result] =
    checks.filter(c => only.forall(_.contains(c.query))).map { c =>
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
      if (c.noAutoBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      if (c.noAdaptive) spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = try {
        val df = c.build match {
          case Some(b) => b(spark, sfDir)
          case None    => SparkEntry.queries(c.query)(spark, sfDir)
        }
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      }
      val missing = c.mustContain.filterNot(plan.contains)
      val present = c.mustNot.filter(plan.contains)
      // count formatted-mode detail headers "(N) <node>" — one per
      // physical node, so substring noise in expressions never counts
      val headerRe = """^\((\d+)\) (.+?)\s*$""".r
      val headers = plan.linesIterator.collect {
        case headerRe(_, node) => node
      }.toSeq
      val over = c.maxNodes.flatMap { case (node, cap) =>
        val n = headers.count(_.startsWith(node))
        if (n > cap) Some(s"$node x$n > $cap") else None
      }
      if (missing.isEmpty && present.isEmpty && over.isEmpty)
        Result(c.query, ok = true, "")
      else Result(c.query, ok = false,
        s"missing=$missing forbidden=$present over=$over\n" +
          plan.linesIterator.take(40).mkString("\n"))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession("4", "ERROR")
    // optional second arg: comma-separated query names to check alone
    val only = args.lift(1).map(_.split(",").toSet)
    val results = runAll(spark, sfDir, only)
    results.foreach { r =>
      if (r.ok) println(s"OK   ${r.query}")
      else println(s"FAIL ${r.query} ${r.detail}")
    }
    val failed = results.count(!_.ok)
    println(s"\nplan checks: ${results.size - failed}/${results.size} ok")
    // optional machine-readable artifact (the per-round committed gate)
    sys.env.get("SPARK_GRAFT_PLANCHECK_OUT").foreach { out =>
      val json = results.map(r =>
        s"""{"query":"${r.query}","ok":${r.ok}}""").mkString(",")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (s"""{"n":${results.size},"failed":$failed,""" +
          s""""checks":[$json]}""").getBytes("UTF-8"))
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
