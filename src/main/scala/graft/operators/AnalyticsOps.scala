package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-operations analytics a 100 TB data platform runs daily, each
  * expressed as one declarative plan Catalyst can own end-to-end:
  *
  *  - [[profileColumns]]     — one-pass column profiler (ingest QA)
  *  - [[cdcSnapshotDelta]]   — snapshot-diff CDC: upsert/delete extraction
  *  - [[cohortRetention]]    — weekly cohort retention over the event log
  *  - [[eventsOhlc]]         — time-series downsampling to hourly OHLC bars
  *  - [[graphPagerank]]      — fixed-iteration PageRank in exact integer
  *                             micro-units (order-independent at any scale)
  *  - [[sampleWeighted]]     — deterministic weighted sampling without
  *                             replacement (priority sampling)
  *
  * Scale notes live on each method; the shared principles: one shuffle per
  * logical phase, integer arithmetic wherever summation order could move a
  * float's last ulp, and deterministic tiebreaks on every top-k.
  */
object AnalyticsOps extends QueryPack {

  /** One-pass column profiler over `documents`: per column the row count,
    * null count, exact distinct count, and 20-char min/max representation.
    *
    * Shape: a SINGLE aggregate computes every metric — one scan, map-side
    * partials, one shuffle. The exact multi-column DISTINCTs make Catalyst
    * plan an Expand (rows ×5, one per distinct group) before the partial
    * aggregate; that is the textbook exact-profile shape and is bounded by
    * the scan, not the shuffle (the partial agg collapses each partition
    * to its distinct set before anything moves). At 100 TB you would flip
    * the distinct metrics to `approx_count_distinct` and lose the Expand
    * entirely; the oracle needs exact counts, and the plan is otherwise
    * identical. The wide one-row result is exploded to one row per column
    * driver-side-free (explode of a 5-element literal array).
    */
  def profileColumns(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def nulls(c: String)  = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    def repr(c: Column)   = substring(c.cast("string"), 1, 20)
    val wide = docs.agg(
      count(lit(1)).as("n_rows"),
      nulls("doc_id"), countDistinct(col("doc_id")).as("doc_id_distinct"),
      repr(min(col("doc_id"))).as("doc_id_min"), repr(max(col("doc_id"))).as("doc_id_max"),
      nulls("text"), countDistinct(col("text")).as("text_distinct"),
      repr(min(col("text"))).as("text_min"), repr(max(col("text"))).as("text_max"),
      nulls("lang"), countDistinct(col("lang")).as("lang_distinct"),
      repr(min(col("lang"))).as("lang_min"), repr(max(col("lang"))).as("lang_max"),
      nulls("source"), countDistinct(col("source")).as("source_distinct"),
      repr(min(col("source"))).as("source_min"), repr(max(col("source"))).as("source_max"),
      nulls("n_chars"), countDistinct(col("n_chars")).as("n_chars_distinct"),
      repr(min(col("n_chars"))).as("n_chars_min"), repr(max(col("n_chars"))).as("n_chars_max"))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    wide.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("n_rows"),
        col(s"${c}_nulls").as("n_nulls"),
        col(s"${c}_distinct").as("n_distinct"),
        col(s"${c}_min").as("min_repr"), col(s"${c}_max").as("max_repr"))): _*))
        .as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Snapshot-diff CDC: given the previous and current snapshot of a keyed
    * table, emit the (key, op) delta — I(nsert), U(pdate), D(elete). The
    * "current" snapshot is derived deterministically from `documents` so
    * the oracle can rebuild it: doc_id%13==0 deleted, else doc_id%7==0
    * text-revised, else doc_id%19==0 boundary-shifted (the last character
    * of `text` moves to the front of `lang` — total bytes unchanged, so an
    * unseparated digest would silently miss this Update), and doc_id%17==0
    * re-inserted under key doc_id+10M.
    *
    * Shape: both snapshots reduce to (key, digest) at the scan — the md5
    * digest is computed map-side so only 16 bytes per row reach the
    * shuffle, never the document text — then ONE full-outer shuffle join
    * on the primary key classifies every key. This is the incremental-
    * ingest primitive: at 100 TB you run it per partition-slice and feed
    * the 'I'/'U' keys to the ingest dedup path ([[DedupOps]]), and it
    * scales exactly like the exact-dedup digest join because it IS that
    * join plus a three-way CASE.
    */
  private def cdcBase(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))

  private def cdcNext(base: DataFrame): DataFrame = {
    val shift = col("doc_id") % 19 === 0 && col("doc_id") % 7 =!= 0 &&
      length(coalesce(col("text"), lit(""))) >= 1
    base.filter(col("doc_id") % 13 =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(coalesce(col("text"), lit("")), lit(" [rev2]")))
          .when(shift, expr("substring(text, 1, length(text) - 1)"))
          .otherwise(col("text")).as("text"),
        when(shift, concat(expr("substring(text, length(text), 1)"),
          coalesce(col("lang"), lit(""))))
          .otherwise(col("lang")).as("lang"),
        col("source"))
      .unionByName(base.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L))
  }

  def cdcSnapshotDelta(s: SparkSession, d: String): DataFrame = {
    val base = cdcBase(s, d)
    val next = cdcNext(base)
    def keyed(df: DataFrame) = df.select(col("doc_id"),
      md5(concat_ws("\u0001", coalesce(col("text"), lit("")),
        coalesce(col("lang"), lit("")), coalesce(col("source"), lit(""))))
        .as("digest"))
    val p = keyed(base).withColumnRenamed("digest", "prev_digest")
    val n = keyed(next).withColumnRenamed("digest", "next_digest")
    p.join(n, Seq("doc_id"), "full_outer")
      .withColumn("op",
        when(col("next_digest").isNull, lit("D"))
          .when(col("prev_digest").isNull, lit("I"))
          .when(col("prev_digest") =!= col("next_digest"), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("doc_id"), col("op"))
      .orderBy(col("doc_id"))
  }

  /** MERGE-apply of the CDC delta — the other half of the replication
    * contract: [[cdcSnapshotDelta]] EXTRACTS the (key, op) delta; this
    * REPLAYS it onto the base snapshot and audits that the merged table
    * equals the independently-derived next snapshot. Output is the one
    * audit row every replication job logs: rows updated / inserted /
    * deleted, the merged row count, and `matches` — equality of TWO
    * order-independent integer checksums (sums of independent 32-bit md5
    * words over ␁-separated fields) between merged and next. The
    * guarantee is probabilistic — an additive sum can in principle be
    * cancelled by offsetting substitutions — but a wrong merge must
    * cancel BOTH independent word-sums simultaneously (~2⁻⁶⁴), so in
    * practice a dropped update, double-applied insert, or resurrected
    * delete flips `matches`.
    *
    * Shape: kept rows are one left join of base against the (small)
    * delta; updated/inserted payloads are one join of next against the
    * delta; checksums are map-side digests reduced by an order-free sum.
    * Everything scales like the extractor's digest join. */
  def cdcMergeApply(s: SparkSession, d: String): DataFrame = {
    val base = cdcBase(s, d)
    val next = cdcNext(base)
    val delta = cdcSnapshotDelta(s, d).select(col("doc_id"), col("op"))
    def digWord(from: Int) = expr("CAST(conv(substring(md5(concat_ws('\u0001', " +
      "CAST(doc_id AS STRING), coalesce(text, ''), coalesce(lang, ''), " +
      "coalesce(source, ''))), " + from + ", 8), 16, 10) AS BIGINT)")
    val dig = digWord(1)
    val dig2 = digWord(9)
    val kept = base.join(delta, Seq("doc_id"), "left_outer")
      .filter(col("op").isNull)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val upserted = next.join(delta.filter(col("op").isin("U", "I")), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val merged = kept.unionByName(upserted)
    val mc = merged.agg(count(lit(1)).as("n_merged"),
      coalesce(sum(dig), lit(0L)).as("ck_merged"),
      coalesce(sum(dig2), lit(0L)).as("ck2_merged"))
    val nc = next.agg(count(lit(1)).as("n_next"),
      coalesce(sum(dig), lit(0L)).as("ck_next"),
      coalesce(sum(dig2), lit(0L)).as("ck2_next"))
    val ops = delta.agg(
      sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"),
      sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserted"),
      sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"))
    ops.crossJoin(mc).crossJoin(nc)
      .select(
        coalesce(col("n_updated"), lit(0L)).as("n_updated"),
        coalesce(col("n_inserted"), lit(0L)).as("n_inserted"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"),
        col("n_merged"),
        (col("n_merged") === col("n_next") &&
          col("ck_merged") === col("ck_next") &&
          col("ck2_merged") === col("ck2_next")).as("matches"))
      // zero-row-corpus contract: no snapshot, no audit row
      .filter(col("n_merged") + coalesce(col("n_deleted"), lit(0L)) > 0)
  }

  /** Weekly cohort retention: users are cohorted by the ISO week of their
    * first event; each (cohort_week, week_offset) cell counts the distinct
    * users from that cohort active `offset` weeks later.
    *
    * Shape: one window pass partitioned by user (min-ts is computed in the
    * same shuffle that would be needed for any per-user reduction), then
    * one aggregate shuffle on the (cohort, offset) cell — no join back,
    * no self-join. Offsets are exact integer day-diffs `div` 7 between
    * week-truncated dates, so no float touches the result.
    */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, d).select(col("user_id"), col("ts"))
      .withColumn("cohort_week", to_date(date_trunc("week", min(col("ts")).over(w))))
      .withColumn("event_week", to_date(date_trunc("week", col("ts"))))
      .withColumn("week_offset",
        expr("CAST(datediff(event_week, cohort_week) div 7 AS INT)"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Time-series downsampling: hourly OHLC bars per event type. Open and
    * close are the value at the first/last event of the bar with a total
    * (ts, event_id) tiebreak, so every bar is deterministic even under
    * timestamp ties; volume is the 2dp-rounded value sum (the established
    * float-sum convention, `q23`).
    *
    * Shape: one shuffle on the bar key drives BOTH window orders (same
    * partitioning, two sort orders) and the final aggregate collapses the
    * bar in the same exchange — Catalyst reuses the exchange, so the plan
    * is scan → shuffle(bar key) → sort ×2 → agg. Bars are naturally
    * balanced (hash on (event_type, hour)); a hot hour would salt exactly
    * like any skewed agg key.
    */
  def eventsOhlc(s: SparkSession, d: String): DataFrame = {
    val bar = date_trunc("hour", col("ts"))
    val part = Window.partitionBy(col("event_type"), col("bar"))
    Tables.events(s, d)
      .select(col("event_type"), bar.as("bar"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn_open", row_number().over(part.orderBy(col("ts"), col("event_id"))))
      .withColumn("rn_close", row_number().over(part.orderBy(col("ts").desc, col("event_id").desc)))
      .groupBy(col("event_type"), col("bar"))
      .agg(
        max(when(col("rn_open") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_close") === 1, col("value"))).as("close"),
        round(sum(col("value")), 2).as("volume"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("bar"))
  }

  /** Ordered conversion funnel view → click → purchase: per user, the
    * first view, the first click strictly after it, and the first
    * purchase strictly after that click — later steps only count inside
    * 7 days of the entering view (the attribution window). Output is the
    * per-stage distinct-user count, the shape every growth dashboard
    * wants and a pure-integer result.
    *
    * Shape: three chained keyed aggregations, all hash-partitioned on
    * `user_id` — Catalyst reuses the exchange, so the corpus shuffles on
    * the user key once and each later stage joins/aggregates within the
    * same partitioning. The stage frames shrink monotonically (funnel!),
    * and nothing is windowed over the whole corpus. At 100 TB this is
    * one shuffle of the event log + per-user work, the minimum any
    * order-sensitive funnel needs. */
  def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
    val week = expr("INTERVAL 7 DAYS")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + week)
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t2") && col("ts") <= col("t1") + week)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
      // a stage nobody reached is absent, not a zero row — the zero-row-
      // corpus contract every declared query keeps (EmptyCorpusSpec)
      .filter(col("n_users") > 0)
      .orderBy(col("stage"))
  }

  /** Per-stratum weighted sampling without replacement: the top-5 docs
    * per language by the SAME md5-derived priority as [[sampleWeighted]]
    * — the per-group variant a mixture builder runs to pull a fixed
    * quota from every stratum in one pass. Window top-k per group
    * (rank-limited before any full sort), never a global shuffle of the
    * corpus order. */
  def sampleStratifiedTopK(s: SparkSession, d: String): DataFrame = {
    val h = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("priority").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_chars"), lit(1L)).as("weight"))
      .withColumn("u", (h + 1).cast("double") / lit(4294967296.0))
      .withColumn("priority", col("weight").cast("double") / col("u"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("doc_id"), col("weight"), col("priority"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Approximate percentiles (the KLL/GK-family `percentile_approx`
    * sketch) audited against the exact interpolated percentile, per
    * event type. The raw sketch output is engine-specific, so — the
    * [[AdvancedOps.q30ApproxDistinct]] convention — the oracle-checked
    * columns are the EXACT percentile (linear interpolation over integer
    * cents, identical in both engines) plus `within_bound`: the rank
    * interval of the approx value must overlap the target rank within
    * the sketch's guaranteed n/accuracy rank error (+1 interpolation
    * slack). DuckDB asserts `true`; a broken sketch (off by more than
    * the deterministic GK bound) fails the hash.
    *
    * Shape: ONE aggregate computes n + both percentile families per
    * type; the rank audit joins the ≤3·|types| probe rows back over one
    * corpus scan (broadcast), so the whole query is two passes and no
    * corpus shuffle beyond the type agg — the sketch is why: at 100 TB
    * `percentile_approx` merges map-side GK summaries instead of
    * shuffling raw values the way the exact percentile must. */
  def eventsApproxPercentiles(s: SparkSession, d: String): DataFrame = {
    val acc = 1000
    val ps = Seq(0.5, 0.9, 0.99)
    val psArr = s"array(${ps.mkString(", ")})"
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("v_c"))
    val st = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      expr(s"percentile(v_c, $psArr)").as("exact_arr"),
      expr(s"percentile_approx(v_c, $psArr, $acc)").as("approx_arr"))
    val pr = st
      .select(col("event_type"), col("n"), col("approx_arr"),
        posexplode(col("exact_arr")).as(Seq("i", "exact_raw")))
      .select(col("event_type"), col("n"), col("i"), col("exact_raw"),
        element_at(typedlit(ps), col("i") + 1).as("p"),
        element_at(col("approx_arr"), col("i") + 1).as("approx_v"))
    val cnts = ev
      .join(broadcast(pr.select(col("event_type"), col("i"), col("approx_v"))),
        Seq("event_type"))
      .groupBy(col("event_type"), col("i")).agg(
        sum(when(col("v_c") <= col("approx_v"), 1L).otherwise(0L)).as("cnt_le"),
        sum(when(col("v_c") < col("approx_v"), 1L).otherwise(0L)).as("cnt_lt"))
    val tol = col("n").cast("double") / acc + 1.0
    pr.join(broadcast(cnts), Seq("event_type", "i"))
      .select(col("event_type"), col("p"),
        round(col("exact_raw"), 4).as("exact_c"), col("n"),
        (col("cnt_le") >= col("p") * col("n") - tol &&
          col("cnt_lt") <= col("p") * col("n") + tol).as("within_bound"))
      .orderBy(col("event_type"), col("p"))
  }

  /** Per-type z-score anomaly extraction: flag events whose value sits
    * more than 3 standard deviations from their type's mean, reporting
    * z² in 4dp (z itself needs a sqrt; z² is the same ranking and stays
    * a ratio of exactly-computed integers). Values are converted to
    * integer cents at the scan, so the per-type moments (n, Σv, Σv²) are
    * EXACT integers — no float summation-order drift can move a
    * borderline event across the 3σ gate — and the final ratio is one
    * deterministic double division both engines perform on identical
    * integers. (At ~100 TB per type the Σv² long would need DECIMAL
    * widening; the declared scales stay far inside 2^63.)
    *
    * Shape: one aggregate shuffle for the per-type moments (a handful of
    * rows), broadcast back over the scan, top-100 by TakeOrdered — the
    * corpus is read once and never shuffled. NaN/Inf/null values are
    * excluded at the scan in both engines (they have no place on a real
    * number line; the established NULL-not-NaN contract). */
  def eventsAnomaly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("v_c"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("v_c")).as("s1"),
      sum(col("v_c") * col("v_c")).as("s2"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("num", (col("n") * col("v_c") - col("s1")).cast("double"))
      .withColumn("den", col("n").cast("double") * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double"))
      .filter(col("den") > 0 && col("num") * col("num") > lit(9.0) * col("den"))
      .select(col("event_id"), col("event_type"), col("v_c"),
        round(col("num") * col("num") / col("den"), 4).as("z2"))
      .orderBy(col("z2").desc, col("event_id"))
      .limit(100)
  }

  /** Fixed-iteration PageRank (3 rounds, damping 0.85) over the bipartite
    * supplier↔part graph implied by `lineitem`, walked as an undirected
    * graph (each distinct supply pair contributes both directed edges).
    * Node ids are longs (`2*suppkey` / `2*partkey+1`); ranks are exact
    * integer MICRO-UNITS (`1e6` start, `0.15` → `150000`), contributions
    * are integer `div` — so the per-node result is bit-identical under
    * ANY summation order, the property float PageRank loses the moment
    * two executors add contributions in different orders. Top-20 with a
    * (rank, node) total order.
    *
    * Shape: the loop-invariant edge-with-degree frame is pre-partitioned
    * (and pre-sorted) on the join key ONCE; the loop-carried rank leaves
    * each round clustered on `node` by its own `groupBy(dst)`, so every
    * round's contribution join finds both sides co-partitioned and the
    * per-round cost is the ONE aggregation exchange — not a re-shuffle
    * of both sides. Shallow runs (≤ 4 rounds, including the declared
    * 3-round query) build ONE lazy DAG — Catalyst's exchange reuse
    * serves every round from the single edge repartition. Deeper runs
    * switch to the [[DedupOps.componentsWithRounds]] idiom: the
    * partitioned edge frame is `localCheckpoint`ed once (it feeds every
    * round) and the loop-carried rank every 4th round, so lineage stays
    * bounded at ANY depth. Every node has in-edges by construction
    * (undirected expansion), so no dangling-node left join is needed.
    *
    * Fault-tolerance trade (shared with [[DedupOps.componentsWithRounds]]):
    * `localCheckpoint` stores blocks on executors only — an executor loss
    * mid-run makes the checkpointed frame unrecoverable and fails the
    * job (re-run restarts from the scan), unlike reliable `checkpoint`
    * which survives it at the price of a distributed-FS round-trip per
    * barrier. Deep runs therefore trade intra-job fault tolerance for
    * speed; on an unreliable cluster swap in `checkpoint` + a checkpoint
    * dir.
    */
  def graphPagerank(s: SparkSession, d: String): DataFrame =
    graphPagerank(s, d, rounds = 3)

  private def pagerankEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey"))
      .filter(col("l_suppkey").isNotNull && col("l_partkey").isNotNull)
      .distinct()
    // undirected expansion as an inline explode, NOT a union of two
    // projections: a union re-plans the distinct under each branch's
    // pushed filters (isNotNull(src) diverges per direction), which
    // breaks exchange reuse and re-shuffles the pair table once per
    // round per branch. One distinct pass, rows doubled in the same
    // stage, nothing for reuse to miss.
    pairs.select(explode(array(
        struct((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst")),
        struct((col("l_partkey") * 2 + 1).as("src"), (col("l_suppkey") * 2).as("dst"))))
      .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  private def pagerankRound(edgesDeg: DataFrame, rank: DataFrame): DataFrame =
    edgesDeg.join(rank, edgesDeg("src") === rank("node"))
      .select(col("dst"), expr("(rank_micro * 85) div (100 * outdeg)").as("contrib"))
      .groupBy(col("dst"))
      .agg((lit(150000L) + sum(col("contrib"))).as("rank_micro"))
      .withColumnRenamed("dst", "node")

  /** One round's dataflow with NO materialization barriers — the
    * canonical per-iteration shape PlanCheck pins through this builder
    * regardless of cadence (shallow runs build one lazy multi-round DAG;
    * deep runs interleave checkpoint scans — see [[graphPagerank]]). */
  private[graft] def pagerankRoundPlan(s: SparkSession, d: String): DataFrame = {
    val edges = pagerankEdges(s, d)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(deg, "src")
      .repartition(col("src")).sortWithinPartitions("src")
    val rank = edges.select(col("src").as("node")).distinct()
      .withColumn("rank_micro", lit(1000000L))
    pagerankRound(edgesDeg, rank)
  }

  /** The full declared dataflow at a FIXED round count, exposed so
    * PlanCheck can pin its total exchange budget: the loop-invariant
    * edge table shuffles once (its repartition is textually identical
    * under every round's join, so exchange reuse serves rounds 2..n from
    * round 1's shuffle files), the initial rank rides deg's exchange,
    * and each round adds exactly ONE exchange — its contribution
    * aggregation — because the rank side arrives alias-aware
    * hash-clustered on `node` from the previous round's `groupBy(dst)`. */
  private[graft] def pagerankDeclaredPlan(s: SparkSession, d: String): DataFrame =
    graphPagerank(s, d, rounds = 3)

  def graphPagerank(s: SparkSession, d: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val deep = rounds > 4
    val edges = pagerankEdges(s, d)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Pre-partition (and pre-sort) the loop-invariant edge table on the
    // join key ONCE. Every round's contribution join then finds BOTH
    // sides already clustered — edgesDeg by this exchange, rank by the
    // previous round's groupBy(dst) — so the per-round cost collapses to
    // the one aggregation exchange instead of re-shuffling both sides.
    // Shallow runs keep it lazy (ReuseExchange serves all rounds from
    // the single repartition); deep runs localCheckpoint the partitioned
    // frame — LogicalRDD preserves partitioning AND ordering, so the
    // reuse survives the lineage cut.
    val edgesDegLazy = edges.join(deg, "src")
      .repartition(col("src")).sortWithinPartitions("src")
    val edgesDeg = if (deep) edgesDegLazy.localCheckpoint(true) else edgesDegLazy
    // deg's keys ARE the node set (every node has out-edges by the
    // undirected expansion), so the initial rank rides deg's exchange —
    // no separate distinct-over-edges shuffle
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("rank_micro"))
    for (round <- 1 to rounds) {
      rank = pagerankRound(edgesDeg, rank)
      // skip the barrier on the FINAL round — the result is consumed
      // once immediately; lineage bounding buys nothing there
      if (deep && round % 4 == 0 && round < rounds)
        rank = rank.localCheckpoint(true)
    }
    rank.select(
        when(col("node") % 2 === 0, lit("s")).otherwise(lit("p")).as("node_type"),
        expr("node div 2").as("key"),
        col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("node_type"), col("key"))
      .limit(20)
  }

  /** Deterministic weighted sampling without replacement — priority
    * sampling (Duffield–Lund–Thorup): each document draws a uniform
    * `u ∈ (0,1]` from the portable md5 hash of its key and gets priority
    * `w/u` with `w = n_chars`; the sample is the top-k by priority. The
    * uniform is `(h32+1)/2^32` — exact in a double (≤ 2^32, then a
    * power-of-two divide), so the single `w/u` IEEE division is the only
    * rounding and both engines agree bit-for-bit.
    *
    * Shape: scalar projection + `TakeOrderedAndProject` — map-side
    * top-k per partition, k rows per partition to the driver-side merge,
    * never a full sort. The same plan at 100 TB moves k·#partitions rows.
    */
  def sampleWeighted(s: SparkSession, d: String): DataFrame = {
    val h = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("n_chars"), lit(1L)).as("weight"))
      .withColumn("u", (h + 1).cast("double") / lit(4294967296.0))
      .withColumn("priority", col("weight").cast("double") / col("u"))
      .select(col("doc_id"), col("weight"), col("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(20)
  }

  /** Time-based RANGE window frame: per user, the trailing-one-hour sum
    * and count of event values at every event — the "rolling feature"
    * shape of a fraud/abuse scorer. The frame is `RANGE (t−1h, t]` over
    * epoch MICROSECONDS, so peers (equal timestamps) share a frame and
    * the result is order-independent; values ride as exact integer cents.
    *
    * Shape: ONE window exchange (hash by user_id, sort by time within the
    * partition). Spark evaluates a RANGE frame with a sliding two-pointer
    * over the sorted partition — O(rows) per user, never re-summing the
    * hour from scratch. At 100 TB this is the per-entity-timeline plan:
    * state is one partition's sort, no self-join, no explosion of
    * (event × hour) pairs like the naive interval-join phrasing.
    */
  def eventsRangeTrailing(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
      .rangeBetween(-3600L * 1000000L + 1, Window.currentRow)
    Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity) &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
      .withColumn("trail_sum_c", sum(col("v_c")).over(w))
      .withColumn("trail_n", count(lit(1)).over(w))
  }

  /** Correlation / dispersion / regression statistics per event type from
    * EXACT integer moments: one scan accumulates n, Σx, Σy, Σx², Σy², Σxy
    * as BIGINTs (x = value in cents, y = hour-of-day), then the classic
    * closed forms run on those integers in double — both engines compute
    * the identical expression tree over identical integers, so the
    * micro-rounded outputs match bit-for-bit (the same discipline as
    * [[eventsAnomaly]]; naive `corr()` would drift by summation order).
    *
    * Shape: one partial-aggregated shuffle to |event_type| rows; the
    * closed forms are driver-free scalar math on the tiny result. The
    * same plan at 100 TB moves six longs per (partition × type).
    */
  /** Per-type LINEAR TREND over daily event counts — the capacity-
    * planning regression: OLS slope/intercept and the next-day
    * forecast from exact integer moments of (day index, daily count),
    * the [[eventsCorrStats]] discipline (moments summed as exact
    * longs, ONE micro-rounding at the very end, zero-variance groups
    * NULL, never NaN). The regression runs over OBSERVED days — a
    * type's silent days contribute no point — and the day index is
    * anchored at the GLOBAL min day so both engines derive identical
    * x values.
    *
    * Shape: one scan → (type, day) partial-aggregated count → a
    * |types|-row moment aggregate → closed-form projection. The heavy
    * stage shuffles (type, day) pairs only. */
  /** SCD TYPE-2 interval build — the dimension-history op every
    * warehouse runs on a CDC feed: per user, collapse consecutive
    * equal values (ordered by (ts, event_id), the total event order)
    * into versions, each with its validity interval
    * [valid_from, valid_to) in epoch micros — valid_to NULL for the
    * OPEN current version. Change detection is null-safe (`<=>` /
    * IS DISTINCT FROM on exact cent values), so a NULL measure forms
    * its own version rather than poisoning the comparison.
    *
    * Shape: ONE user-keyed window partitioning serves both the lag
    * (change detection) and the lead (interval close) — a single
    * exchange on user_id; output is change-point-sized, not
    * event-sized. */
  def eventsScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
    val changes = ev
      .withColumn("prev", lag(col("v_c"), 1).over(w))
      .withColumn("is_first", lag(col("event_id"), 1).over(w).isNull)
      .filter(col("is_first") || !(col("v_c") <=> col("prev")))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    changes
      .select(col("user_id"), col("v_c"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(lead(col("ts"), 1).over(w2)).as("valid_to_us"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  def eventsTrendForecast(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("ts").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val b = ev.agg(min(col("day"))).head()
    if (b.isNullAt(0))
      return ev.filter(lit(false))
        .select(col("event_type"), lit(0L).as("n_days"),
          lit(0L).as("slope_micro"), lit(0L).as("icept_micro"),
          lit(0L).as("forecast_micro"))
    val lo = lit(java.sql.Date.valueOf(b.getDate(0).toLocalDate))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("y"))
      .select(col("event_type"),
        datediff(col("day"), lo).cast("long").as("x"), col("y"))
    val m = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
      max(col("x")).as("mx"))
    val nD = "CAST(n AS DOUBLE)"
    val den = s"($nD * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val num = s"($nD * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    val slope = s"($num / $den)"
    val icept = s"((CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE)) / $nD)"
    m.select(col("event_type"), col("n").as("n_days"),
        expr(s"CASE WHEN $den > 0 THEN CAST(round($slope * 1000000.0) AS BIGINT) END")
          .as("slope_micro"),
        expr(s"CASE WHEN $den > 0 THEN CAST(round($icept * 1000000.0) AS BIGINT) END")
          .as("icept_micro"),
        expr(s"CASE WHEN $den > 0 THEN CAST(round(($icept + $slope * (CAST(mx AS DOUBLE) + 1.0)) * 1000000.0) AS BIGINT) END")
          .as("forecast_micro"))
      .orderBy(col("event_type"))
  }

  def eventsCorrStats(s: SparkSession, d: String): DataFrame = {
    val moments = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity) && col("ts").isNotNull)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
    // covariance numerators/denominators in double from the exact longs;
    // zero-variance groups yield NULL (not NaN/Inf) by the CASE guards
    val nD = "CAST(n AS DOUBLE)"
    val vx = s"($nD * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val vy = s"($nD * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    val cv = s"($nD * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    moments.select(col("event_type"), col("n"), col("sx"), col("sy"),
        expr(s"CASE WHEN $vx > 0 AND $vy > 0 THEN CAST(round($cv / (sqrt($vx) * sqrt($vy)) * 1000000.0) AS BIGINT) END")
          .as("corr_micro"),
        expr(s"CASE WHEN n > 1 THEN CAST(round(sqrt($vx / ($nD * ($nD - 1.0))) * 1000.0) AS BIGINT) END")
          .as("stddev_x_milli"),
        expr(s"CASE WHEN $vy > 0 THEN CAST(round($cv / $vy * 1000000.0) AS BIGINT) END")
          .as("slope_x_on_y_micro"))
      .orderBy(col("event_type"))
  }

  /** Equi-width histogram per event type: 10 bins spanning each type's
    * [min, max] value range, entirely in integer cents —
    * `bin = ((x−lo)·10) div (hi−lo+1)` maps lo→0 and hi→9 with no float
    * edge ambiguity (the classic float-width histogram puts boundary
    * values in different bins depending on rounding; integer division
    * cannot).
    *
    * Shape: the per-type bounds are a tiny aggregate (|types| rows)
    * broadcast back over ONE corpus re-scan, then a keyed
    * (type, bin) aggregate — the [[eventsAnomaly]] two-pass pattern. At
    * 100 TB both passes are scan-bound with map-side partials. */
  def eventsHistogram(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .filter(col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
    val bounds = e.groupBy(col("event_type"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    e.join(broadcast(bounds), Seq("event_type"))
      .withColumn("bin", expr("((x - lo) * 10) div (hi - lo + 1)"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("bin_min"),
        max(col("x")).as("bin_max"))
      .orderBy(col("event_type"), col("bin"))
  }

  /** 2-D Pareto frontier (skyline) over parts: minimize price, maximize
    * size — "no other part is at most as expensive AND at least as
    * large". The classic formulation is a quadratic dominance anti-join;
    * the sort-based identity (sort by price asc / size desc → a point is
    * on the frontier iff its size exceeds the running max of everything
    * before it) makes it one ordered scan — but a bare global window
    * funnels the whole input through ONE task. This runs the scan as a
    * distributed prefix-max instead:
    *
    *  1. collapse to distinct `(price, size)` points with counts — the
    *     frontier of the distinct set IS the frontier of the multiset,
    *     and the point set is domain-bounded (≤ |prices|·|sizes|), not
    *     corpus-bounded;
    *  2. band by fixed price ranges (all prices in band b are strictly
    *     below all of band b+1), local running-max window PER BAND —
    *     parallel across bands;
    *  3. per-band maxima (|bands| rows) → prefix max of strictly-lower
    *     bands on the driver-scale frame, broadcast back;
    *  4. survivor ⟺ size > max(local running max, lower-band prefix max).
    *
    * Same two-phase scan pattern as [[eventsAnomaly]]/[[eventsHistogram]]:
    * every corpus-sized stage is a keyed aggregate or a partitioned
    * window; nothing corpus-sized crosses one task. Fixed-point cents
    * keep both engines in integer arithmetic. Band width is chosen from
    * the known price domain (a production run derives bands from a
    * quantile sketch first pass). */
  def paretoFrontier(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.part(s, d)
      .select(expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"),
        col("p_size").cast("long").as("size"))
      .groupBy(col("price_cents"), col("size"))
      .agg(count(lit(1)).as("n_parts"))
      .withColumn("band", expr("price_cents div 1000"))
    val local = Window.partitionBy(col("band"))
      .orderBy(col("price_cents").asc, col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // |bands| rows: the unpartitioned window runs over a ~10-row frame
    val bandMax = pts.groupBy(col("band")).agg(max(col("size")).as("bmax"))
      .withColumn("pmax", max(col("bmax")).over(
        Window.orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("band"), col("pmax"))
    pts.withColumn("lmax", max(col("size")).over(local))
      .join(broadcast(bandMax), "band")
      .filter(col("size") > coalesce(greatest(col("lmax"), col("pmax")),
        lit(Long.MinValue)))
      .select(col("price_cents"), col("size"), col("n_parts"))
      .orderBy(col("price_cents"))
  }

  /** Incremental materialized-view maintenance: a per-customer
    * (order count, revenue cents) MV is refreshed by applying a signed
    * delta batch — deletes as (−1, −cents), the insert half of updates
    * as (+1, +new cents) — via ONE keyed full-outer merge of partial
    * aggregates, instead of recomputing the base table. Groups whose
    * count reaches zero leave the view. The delta here is synthesized
    * deterministically from the orders table (`o_orderkey % 20 == 0` →
    * delete; `% 10 == 0` otherwise → price-bump update), standing in
    * for a CDC feed.
    *
    * The query then AUDITS the incremental path in-engine: it recomputes
    * the view from the applied table and counts groups where the
    * incrementally-maintained row differs — emitted as `n_mismatch`
    * (must be 0). Output is a 1-row summary, so the oracle can recompute
    * the final state directly while the mismatch count proves the
    * delta-merge produced it too.
    *
    * 100 TB shape: the view and the delta aggregate are both keyed
    * partial aggregates; the merge is a co-partitioned keyed join; the
    * delta side is O(changed keys). Nothing rescans the base except the
    * audit (which a production run samples or skips). */
  def mvIncrementalRefresh(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val mv0 = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    val touched = o.filter(col("o_orderkey") % 10 === 0)
    val delta = touched
      .select(col("o_custkey"), lit(-1L).as("w"), (-col("cents")).as("wc"))
      .unionByName(touched.filter(col("o_orderkey") % 20 =!= 0)
        .select(col("o_custkey"), lit(1L).as("w"),
          (col("cents") + 500L).as("wc")))
    val dAgg = delta.groupBy(col("o_custkey"))
      .agg(sum(col("w")).as("dn"), sum(col("wc")).as("dc"))
    val mv1 = mv0.join(dAgg, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sc"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sc"))
      .filter(col("n") > 0)
    // audit: recompute from the applied table; any differing group counts
    val applied = o.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_custkey"), col("cents"))
      .unionByName(touched.filter(col("o_orderkey") % 20 =!= 0)
        .select(col("o_custkey"), (col("cents") + 500L).as("cents")))
    val rec = applied.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("rn"), sum(col("cents")).as("rsc"))
    val mismatch = mv1.join(rec, Seq("o_custkey"), "full_outer")
      .filter(coalesce(col("n"), lit(-1L)) =!= coalesce(col("rn"), lit(-2L)) ||
        coalesce(col("sc"), lit(-1L)) =!= coalesce(col("rsc"), lit(-2L)))
      .agg(count(lit(1)).as("n_mismatch"))
    mv1.agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_orders"),
        sum(col("sc")).as("sum_cents"))
      .crossJoin(broadcast(mismatch))
      .select(col("n_groups"), col("n_orders"), col("sum_cents"),
        coalesce(col("n_mismatch"), lit(0L)).as("n_mismatch"))
      .filter(col("n_groups") > 0)
  }

  /** Mergeable approximate-distinct sketches: per event type, the
    * DataSketches HLL estimate of distinct users, computed BOTH directly
    * and as a union of 8 per-shard sketches (the 100 TB shape: shards
    * sketch independently — e.g. per day or per partition — and the
    * serving tier merges, never re-scanning history). Emits the exact
    * count plus two audit booleans: the direct and the merged estimate
    * must each land within 3% of exact (lgK=14 ⇒ ~0.8% RSE, so 3% is a
    * ~4σ bound — deterministic for a fixed corpus since HLL register
    * updates are order-insensitive max operations).
    *
    * The estimates themselves are library-specific, so the oracle checks
    * the exact counts and the audit verdicts — the same gate pattern as
    * `ann_recall`/`text_cms_recall`. */
  def sketchHllDistinct(s: SparkSession, d: String): DataFrame = {
    // event_type IS NOT NULL on BOTH engine and oracle: the audit's
    // inner equi-joins on event_type would silently drop a NULL group
    // the oracle's GROUP BY keeps — state the exclusion once, up front
    val e = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("user_id"))
    val direct = e.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14)))
        .as("est_d"))
    val merged = e.withColumn("shard", pmod(col("user_id"), lit(8)))
      .groupBy(col("event_type"), col("shard"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_m"))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val bound = (est: Column, ex: Column) =>
      abs(est - ex) * lit(100L) <= ex * lit(3L)
    exact.join(direct, "event_type").join(merged, "event_type")
      .select(col("event_type"), col("exact_distinct"),
        bound(col("est_d"), col("exact_distinct")).as("direct_ok"),
        bound(col("est_m"), col("exact_distinct")).as("merged_ok"))
      .orderBy(col("event_type"))
  }

  /** Mergeable set-operation sketches (KMV / bottom-k, the theta-sketch
    * family): per activity-type PAIR, the estimated distinct-element
    * UNION and INTERSECTION of the two types' user-day sets — the
    * audience-overlap question HLL cannot answer (HLL unions merge;
    * intersections need inclusion–exclusion with exploding error, while
    * a bottom-k sketch intersects directly). Elements are user-days
    * (user × day-of-year), the standard "on how many user-days do both
    * activities occur" overlap unit.
    *
    * KMV mechanics: hash every element uniformly into [0, 2^60) (md5 —
    * a hash family both engines implement identically, so the oracle
    * replays the EXACT sketch, not a tolerance band); a set's sketch is
    * its K smallest distinct hashes. Union sketch = K smallest of the
    * two sketches' union; with U_(K) the Kth smallest, n̂ = (K−1)·2^60 /
    * U_(K) (unbiased), exact when the union holds < K elements. The
    * intersection estimate is ρ·n̂ where ρ is the fraction of
    * union-sketch members present in BOTH sketches — membership in the
    * per-set sketches suffices, because a union-sketch member in set A
    * is necessarily among A's K smallest.
    *
    * Scale: ONE corpus-sized distinct (type, element) shuffle + one
    * hash-join on h for the exact audit; everything downstream operates
    * on T·K sketch rows (tiny, broadcast). At 100 TB the per-set
    * sketches would be computed once per partition and merged — the
    * same min-K merge this plan's window performs. K=256 ⇒ union RSE
    * ~1/√255 ≈ 6.3%; `union_ok` audits the estimate within 20%. */
  def sketchKmvSetops(s: SparkSession, d: String): DataFrame = {
    val K = 256
    // the one corpus-sized stage: distinct (type, user-day), hashed
    val h = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type").as("t"),
        (col("user_id") * 1000L + dayofyear(col("ts")).cast("long")).as("u"))
      .select(col("t"),
        expr("CAST(conv(substring(md5(CAST(u AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT)").as("h"))
      .distinct()
    val sk = h.withColumn("r",
        row_number().over(Window.partitionBy(col("t")).orderBy(col("h"))))
      .filter(col("r") <= K).select(col("t"), col("h"))
    // exact ground truth (the audit): per-set sizes and pairwise
    // intersections over the hashed elements
    val ex = h.groupBy(col("t")).agg(count(lit(1)).as("exact_n"))
    val xi = h.as("x")
      .join(h.as("y"), col("x.h") === col("y.h") && col("x.t") < col("y.t"))
      .groupBy(col("x.t").as("ta"), col("y.t").as("tb"))
      .agg(count(lit(1)).as("exact_inter"))
    // sketch-only pairwise stage: T²/2 pairs × ≤2K rows — broadcast-sized
    val types = sk.select(col("t")).distinct()
    val prs = types.as("a").join(types.as("b"), col("a.t") < col("b.t"))
      .select(col("a.t").as("ta"), col("b.t").as("tb"))
    val contrib = prs
      .join(sk, col("t") === col("ta") || col("t") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("h"))
      .agg(max(when(col("t") === col("ta"), 1).otherwise(0)).as("ina"),
        max(when(col("t") === col("tb"), 1).otherwise(0)).as("inb"))
    val usk = contrib.withColumn("r", row_number().over(
        Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))))
      .filter(col("r") <= K)
    val st = usk.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("hk"),
        sum(col("ina") * col("inb")).cast("long").as("n_both"))
    // the estimator, written once as SQL text so the oracle evaluates
    // the byte-identical expression tree (same IEEE rounding)
    val estU = s"CASE WHEN n_sk < $K THEN CAST(n_sk AS DOUBLE) " +
      s"ELSE ${K - 1}.0 * ${1L << 60}.0 / CAST(hk AS DOUBLE) END"
    st.join(ex.select(col("t").as("ta"), col("exact_n").as("exact_a")), "ta")
      .join(ex.select(col("t").as("tb"), col("exact_n").as("exact_b")), "tb")
      .join(xi, Seq("ta", "tb"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("exact_a"), col("exact_b"),
        (col("exact_a") + col("exact_b") - col("exact_inter"))
          .as("exact_union"),
        col("exact_inter"),
        expr(s"round($estU, 4)").as("est_union"),
        expr(s"round((CAST(n_both AS DOUBLE) / CAST(n_sk AS DOUBLE)) * " +
          s"($estU), 4)").as("est_inter"),
        (abs(expr(s"round($estU, 4)") -
          (col("exact_a") + col("exact_b") - col("exact_inter"))) * lit(100L)
          <= (col("exact_a") + col("exact_b") - col("exact_inter")) * lit(20L))
          .as("union_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** RFM segmentation — the recency/frequency/monetary customer grid
    * every growth team cuts: per user the days since their last event,
    * their event count, and their finite-value spend in exact cents;
    * each metric quintiled (1 = best: most recent / most frequent /
    * highest spend) and the corpus rolled up per (r,f,m) cell. The
    * quintile is `((rank−1)·5) div n + 1` over an EXACT global rank
    * with a user_id tiebreak — computed by [[SkewUtils.globalRank]]'s
    * range-partition + offset scheme, so no single-task global window
    * touches the per-user table (at 100 TB that table is billions of
    * rows; the naive `ntile() OVER (ORDER BY …)` serializes it through
    * one task). The oracle recomputes the same closed-form quintile
    * from `row_number()`. */
  def eventsRfm(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val maxDay = e.agg(max(to_date(col("ts"))).as("md"))
    val per = e.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        coalesce(sum(expr("CASE WHEN value IS NOT NULL AND " +
          "abs(CAST(value AS DOUBLE)) < CAST('Infinity' AS DOUBLE) " +
          "THEN CAST(round(value * 100) AS BIGINT) END")), lit(0L))
          .as("mon_c"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("md"), col("last_day")).cast("long").as("recency"),
        col("freq"), col("mon_c"))
    val n = per.agg(count(lit(1)).as("cnt"))
    import SkewUtils.globalRank
    val ranked =
      globalRank(
        globalRank(
          globalRank(per, Seq(col("recency"), col("user_id")), "r_rank"),
          Seq(col("freq").desc, col("user_id")), "f_rank"),
        Seq(col("mon_c").desc, col("user_id")), "m_rank")
    ranked.crossJoin(broadcast(n))
      .select(col("user_id"), col("mon_c"),
        expr("((r_rank - 1) * 5) div cnt + 1").as("r_q"),
        expr("((f_rank - 1) * 5) div cnt + 1").as("f_q"),
        expr("((m_rank - 1) * 5) div cnt + 1").as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"), sum(col("mon_c")).as("sum_mon_c"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** New-user accounting: per day, the count of users whose FIRST-EVER
    * event falls on that day, plus the running cumulative user count —
    * the growth dashboard's top line, and the classic "cumulative
    * distinct" query that a naive COUNT(DISTINCT) OVER would answer
    * with an ever-growing state.
    *
    * Shape: first-seen day = ONE keyed min-aggregate over users (the
    * heavy, corpus-sized stage — partial-aggregated); daily counts and
    * the cumulative sum then run over |days| rows (the unpartitioned
    * window's frame is calendar-bounded, not corpus-bounded). */
  def eventsNewUsers(s: SparkSession, d: String): DataFrame = {
    val first = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
    first.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("day"))
  }

  /** First-order behavioral transition matrix: for every adjacent pair
    * of events in a user's timeline, the (from_type → to_type) count and
    * the row-normalized transition probability — the Markov-chain input
    * of next-action prediction and funnel diagnosis.
    *
    * Shape: ONE user-keyed window (lead over (ts, event_id) order — the
    * timeline sort is per-user, parallel across users) feeding one
    * (from, to) aggregate of |types|² cells; the probability is an exact
    * integer division against broadcast per-from totals. */
  def eventsTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("total"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div total").as("p_micro"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Interval-union coverage (gaps-and-islands): each event opens a
    * 5-minute activity interval; per user, overlapping intervals merge
    * into islands and the output is the island count, the total covered
    * time, and the first-to-last span — the "how much of the day was
    * this user actually active" statistic that naive `max-min` spans
    * overstate and per-event sums double-count.
    *
    * Shape: every window (prev-running-max, island cum-sum) and both
    * aggregates share the SAME `user_id` hash partitioning, so the event
    * log shuffles on the user key exactly once and the per-user timeline
    * sort is paid once and reused; islands never leave their partition.
    * Microsecond integer arithmetic end to end — no float drift. */
  def eventsIntervalCoverage(s: SparkSession, d: String): DataFrame = {
    val span = 300L * 1000000L // 5 min in microseconds
    val iv = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + span)
    val w = Window.partitionBy(col("user_id")).orderBy(col("st"), col("en"))
    iv
      .withColumn("prev_max",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("st") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("new_island"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        expr("sum(ien - ist) div 1000000").as("covered_sec"),
        expr("(max(ien) - min(ist)) div 1000000").as("span_sec"))
      .orderBy(col("user_id"))
  }

  /** Integer-exact exponential smoothing (α = 1/2) over each user's last
    * 8 observations: the EWMA is computed as an exact rational — the
    * numerator doubles each step toward the newest value
    * (`Σ cents·2^(i-1)`), the denominator is `2^n − 1` — then projected
    * to integer micro-units. Newer events dominate, history decays
    * geometrically, and both engines agree bit-for-bit because no float
    * ever enters the recurrence.
    *
    * Shape: both row-number windows and the final aggregate share one
    * `user_id` partitioning (one shuffle, one per-user sort each way);
    * the top-8 filter caps per-user state at 8 rows regardless of how
    * deep a user's history is — at 100 TB the heavy user costs the same
    * as the light one past the window scan. */
  def eventsEwma(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val wAsc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    base
      .withColumn("rd", row_number().over(wDesc)).filter(col("rd") <= 8)
      .withColumn("rn", row_number().over(wAsc))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recent"),
        expr("sum(cents * CAST(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(rn - 1 AS INT)) AS BIGINT))").as("num"),
        expr("CAST(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(count(1) AS INT)) - 1 AS BIGINT)").as("den"))
      .select(col("user_id"), col("n_recent"),
        expr("(num * 1000000) div den").as("ewma_micro"))
      .orderBy(col("user_id"))
  }

  /** Sequence-pattern matching over per-user event timelines — the
    * MATCH_RECOGNIZE workload: each user's journey becomes one ordered
    * event-type string and three behavioral patterns (direct conversion
    * `view purchase`, assisted conversion `view click purchase`,
    * frustration `error error`) are counted as non-overlapping regex
    * occurrences, reported as matched-user and total-occurrence counts
    * per pattern.
    *
    * Shape: ONE user-keyed aggregation builds every sequence (state
    * bounded by per-user history, the same contract as sessionization —
    * a production run on unbounded timelines would chunk by session
    * first); all three patterns scan each sequence in the SAME projection
    * (one pass, no re-aggregation per pattern), fold to a single 6-cell
    * row, and `stack` unpivots to the 3-row report. Event types are a
    * closed word vocabulary, so the space-joined regexes cannot match
    * across token boundaries. */
  def eventsPatternMatch(s: SparkSession, d: String): DataFrame = {
    val occs = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .groupBy(col("user_id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(ts, event_id, event_type)))," +
          " x -> x.event_type)"), " ").as("seq"))
      .select(
        expr("regexp_count(seq, 'view purchase')").cast("long").as("od"),
        expr("regexp_count(seq, 'view click purchase')").cast("long")
          .as("oa"),
        expr("regexp_count(seq, 'error error')").cast("long").as("oe"))
    occs
      .agg(
        sum(when(col("od") > 0, 1L).otherwise(0L)).as("ud"),
        sum(col("od")).as("sd"),
        sum(when(col("oa") > 0, 1L).otherwise(0L)).as("ua"),
        sum(col("oa")).as("sa"),
        sum(when(col("oe") > 0, 1L).otherwise(0L)).as("ue"),
        sum(col("oe")).as("se"))
      .select(expr(
        "stack(3, 'direct_purchase', ud, sd," +
          " 'assisted_purchase', ua, sa," +
          " 'error_retry', ue, se) AS (pattern, n_users, n_occurrences)"))
      .filter(col("n_users").isNotNull)
      .orderBy(col("pattern"))
  }

  /** Bounded-depth BFS over the supplier–part supply graph: minimum hop
    * distance (≤ 3) from a deterministic seed set of suppliers, reported
    * as per-hop node counts with id-range and id-sum checksums — the
    * "blast radius" primitive of recall expansion, contamination
    * tracing, and graph sampling.
    *
    * Shape: classic distributed frontier BFS — per round ONE keyed join
    * of the loop-invariant edge table (pre-partitioned by `src` once;
    * every round reuses that exchange) against the previous frontier,
    * one distinct, and one anti-join against the visited set. Work per
    * round is O(frontier ∪ visited), rounds are fixed at 3, and nothing
    * is ever quadratic — at 100 TB this is 3 shuffles of a shrinking
    * frontier, not a transitive closure. */
  def graphKhop(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_partkey"))
      .filter(col("l_suppkey").isNotNull && col("l_partkey").isNotNull)
      .distinct()
    val edges = pairs.select(explode(array(
        struct((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst")),
        struct((col("l_partkey") * 2 + 1).as("src"), (col("l_suppkey") * 2).as("dst"))))
      .as("e"))
      .select(col("e.src").cast("long").as("src"),
        col("e.dst").cast("long").as("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
    val seeds = Tables.supplier(s, d)
      .filter(col("s_suppkey").isNotNull && col("s_suppkey") % 7 === 0)
      .select((col("s_suppkey") * 2).cast("long").as("node")).distinct()
    var visited = seeds.withColumn("hop", lit(0L))
    var frontier = seeds
    for (k <- 1 to 3) {
      val next = edges
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      visited = visited.unionByName(next.withColumn("hop", lit(k.toLong)))
      frontier = next
    }
    visited.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_nodes"))
      .orderBy(col("hop"))
  }

  /** Duration-weighted average value per user: each observation holds
    * until the user's next event (the step-function reading of a metric
    * stream), so the mean is weighted by holding time — the correct
    * summary when sampling is irregular, where the plain average
    * over-counts burst periods. Integer end to end: whole-second
    * durations, cent values, centi-cent output — both engines agree
    * bit-for-bit.
    *
    * Shape: one user-keyed lead window + the aggregate on the same
    * partitioning (one shuffle of the event log); the final HAVING drops
    * degenerate all-zero-duration users instead of dividing by zero. */
  def eventsTimeweighted(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("dur_s",
        expr("(lead(t_us, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)" +
          " - t_us) div 1000000"))
      .filter(col("dur_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_s")).as("total_dur_s"),
        expr("(sum(cents * dur_s) * 100) div sum(dur_s)").as("twa_centicents"))
      .filter(col("total_dur_s") > 0)
      .orderBy(col("user_id"))
  }

  /** Benford's-law first-digit audit on the value column — the
    * fraud/corruption smoke test: observed leading-digit frequencies
    * against the Benford expectation, with exact integer micro-unit
    * shares (the expectation table is a fixed integer literal, not a
    * runtime log — no float in either engine).
    *
    * Shape: one 9-group aggregate over a scan-level projection; the
    * expected distribution joins as a broadcast 9-row literal. */
  def qualityBenford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // round(log10(1 + 1/d) * 1e6) for d = 1..9, fixed by definition
    val expected = Seq(
      (1L, 301030L), (2L, 176091L), (3L, 124939L), (4L, 96910L),
      (5L, 79181L), (6L, 66947L), (7L, 57992L), (8L, 51153L), (9L, 45757L))
      .toDF("digit", "benford_micro")
    val digits = Tables.events(s, d)
      // abs < Inf is false for NaN AND ±Inf (a +Inf value would round to
      // Long.MaxValue and count as digit 9); matches the oracle's isfinite
      .filter(col("value").isNotNull &&
        abs(col("value")) < lit(Double.PositiveInfinity) &&
        col("value") > 0)
      .select(expr(
        "CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS STRING)," +
          " 1, 1) AS BIGINT)").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    digits
      .withColumn("p_micro", expr("(n * 1000000) div (sum(n) OVER " +
        "(ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"))
      .join(broadcast(expected), "digit")
      .select(col("digit"), col("n"), col("p_micro"), col("benford_micro"),
        abs(col("p_micro") - col("benford_micro")).as("dev_micro"))
      .orderBy(col("digit"))
  }

  /** Equi-DEPTH histogram (deciles) per event type — the complement of
    * the equi-width `events_histogram`: ntile(10) splits each type's
    * value distribution into ten equal-population buckets and reports
    * each bucket's row count and integer-cent bounds, the spec a
    * data-profiler or choropleth binner actually wants on skewed data
    * (equal-width bins collapse to one hot bin there).
    *
    * Shape: one window (per-type sort, parallel across types) + one
    * (type, decile) aggregate on the same partitioning — a single
    * shuffle of the scanned columns; full-precision (cents, event_id)
    * order makes every ntile assignment deterministic in both engines. */
  def eventsDeciles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** CUSUM change-point detection per event type: the position where
    * the cumulative deviation from the series mean peaks — the standard
    * single-change estimator (the argmax of |Σ(xᵢ − x̄)|). Computed on
    * the integer-scaled statistic `D_t = n·S_t − t·T` (= n·Σ deviations,
    * never a float mean), so both engines agree exactly; ties resolve to
    * the earliest position.
    *
    * Shape: prefix sums and positions from ONE per-type ordered window,
    * totals from the same partitioning's unbounded frame, and the argmax
    * as a rank-1 filter — everything lives in a single type-keyed
    * exchange; no join, no second scan. */
  def eventsChangepoint(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val all = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("s_t", sum(col("cents")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("tot", sum(col("cents")).over(all))
      .withColumn("d_abs", abs(col("n") * col("s_t") - col("t") * col("tot")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("d_abs").desc, col("t"))).cast("long"))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"), col("t").as("t_star"),
        col("event_id").as("event_at_peak"), col("d_abs").as("peak_dev_n"))
      .orderBy(col("event_type"))
  }

  /** Lag-1 autocorrelation per event type — does the series remember
    * itself one step back, the first diagnostic of any time-series model
    * (and of accidental ordering bugs: shuffled data autocorrelates to
    * ~0). Pairs come from ONE per-type lead window; the correlation is
    * the [[eventsCorrStats]] closed form over EXACT integer moments of
    * (xₜ, xₜ₊₁), micro-rounded at the very end — no float summation
    * drift, zero-variance series yield NULL, never NaN.
    *
    * Shape: one type-keyed window + the moment aggregate on the same
    * partitioning — a single shuffle of (type, cents); the closed form
    * is a pure projection on |types| rows. */
  def eventsAutocorr(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val moments = Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull && !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_type"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("x"))
      .withColumn("y", lead(col("x"), 1).over(ord))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"), sum(expr("x * y")).as("sxy"))
    val nD = "CAST(n AS DOUBLE)"
    val vx = s"($nD * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val vy = s"($nD * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    val cv = s"($nD * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    moments.select(col("event_type"), col("n").as("n_pairs"),
        expr(s"CASE WHEN $vx > 0 AND $vy > 0 THEN " +
          s"CAST(round($cv / (sqrt($vx) * sqrt($vy)) * 1000000.0) AS BIGINT)" +
          " END").as("autocorr_micro"))
      .orderBy(col("event_type"))
  }

  /** Winsorized (clipped) robust statistics per event type: values are
    * clamped to the type's exact interpolated [p5, p95] band and the
    * clipped mean reported next to the clip counts — the outlier-robust
    * mean a metrics pipeline publishes when single corrupt points must
    * not move the aggregate. Percentile interpolation follows the q27
    * convention (exact `percentile`, identical in both engines); the
    * mean is micro-rounded at a resolution where FP summation-order
    * noise collapses.
    *
    * Shape: the [[eventsAnomaly]] two-pass pattern — a |types|-row exact
    *-percentile aggregate broadcast back over one corpus re-scan, then a
    * keyed partial agg. Both passes scan-bound at any scale. */
  def eventsWinsorized(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("event_type"), col("value"))
    val bounds = base.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
    base.join(broadcast(bounds), "event_type")
      .select(col("event_type"),
        when(col("value") < col("p05"), col("p05"))
          .when(col("value") > col("p95"), col("p95"))
          .otherwise(col("value")).as("clipped"),
        when(col("value") < col("p05"), 1L).otherwise(0L).as("lo"),
        when(col("value") > col("p95"), 1L).otherwise(0L).as("hi"),
        col("p05"), col("p95"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("lo")).as("n_clipped_lo"), sum(col("hi")).as("n_clipped_hi"),
        expr("CAST(round(max(p05) * 1000000) AS BIGINT)").as("p05_micro"),
        expr("CAST(round(max(p95) * 1000000) AS BIGINT)").as("p95_micro"),
        expr("CAST(round(avg(clipped) * 1000000) AS BIGINT)")
          .as("winsorized_mean_micro"))
      .orderBy(col("event_type"))
  }

  /** Day-of-week × hour seasonality profile: the traffic heatmap grid —
    * per (dow, hour) cell counts and exact micro-unit share of total,
    * the baseline any anomaly alert compares against. (Spark dayofweek
    * is 1=Sunday; the oracle aligns DuckDB's 0-based dow.)
    *
    * Shape: one ≤168-group aggregate with map-side partials + a share
    * window over the tiny grid — nothing but the scan touches data. */
  def eventsDowProfile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .select(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("dow"), col("hr")).agg(count(lit(1)).as("n"))
      .withColumn("share_micro", expr("(n * 1000000) div (sum(n) OVER " +
        "(ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"))
      .orderBy(col("dow"), col("hr"))

  /** Burstiness per event type: minute-resolution arrival counts reduced
    * to the peak minute, the peak count, and the integer peak-to-mean
    * ratio — the "is this traffic smooth or spiky" statistic that decides
    * provisioning headroom (mean-based capacity is wrong exactly when
    * this ratio is high). Mean = events per ACTIVE minute; ties resolve
    * to the earliest peak minute.
    *
    * Shape: one (type, minute) partial-agg pass, then a |active minutes|
    *-row per-type reduction via max_by/aggregates — nothing joins, the
    * corpus is scanned once. */
  def eventsBurstiness(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("ts").isNotNull)
      .select(col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .groupBy(col("event_type"), col("minute"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_active_minutes"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("peak_n"),
        expr("min_by(minute, struct(-n, minute))").as("peak_minute"))
      .select(col("event_type"), col("n_active_minutes"), col("n_events"),
        col("peak_n"), col("peak_minute"),
        expr("(peak_n * n_active_minutes * 1000000) div n_events")
          .as("burst_ratio_micro"))
      .orderBy(col("event_type"))

  /** Lower-median of `v` per `key`: the element at row_number =
    * ⌈n/2⌉ under (v, tie) order — a DISCRETE order statistic, chosen
    * over interpolated percentile so the oracle comparison never rides
    * on which engine's interpolation arithmetic rounds the last ulp.
    * One sort-shuffle per call, partitioned on the (low-cardinality)
    * key; the selected element is an actual stored double, bit-equal
    * in any engine reading the same parquet. */
  private def lowerMedian(df: DataFrame, key: String, v: String,
      tie: String, out: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(v), col(tie))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(key))))
      .filter(col("__rn") === ceil(col("__n") / 2.0))
      .select(col(key), col(v).as(out))

  /** Robust outlier screen per event type: median / MAD (median absolute
    * deviation) / robust-z outlier count — the outlier detector that
    * survives the outliers themselves (mean/stddev screens are dragged
    * by the very tail they are meant to flag). Both medians are the
    * DISCRETE lower median (see [[lowerMedian]]) so every derived double
    * is an exact stored value and the |v − med| > 3·1.4826·mad cut
    * evaluates identically in any engine.
    *
    * Shape: two per-type sort passes (median, then MAD over the
    * re-joined deviations) and one final aggregate — all partitioned on
    * event_type, no driver work, no interpolation. */
  def eventsMadOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    val med = lowerMedian(ev, "event_type", "value", "event_id", "med")
    val dev = ev.join(med, "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = lowerMedian(dev, "event_type", "dev", "event_id", "mad")
    dev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 4).as("median"),
        round(first(col("mad")), 4).as("mad"),
        sum(when(col("dev") > lit(3.0 * 1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** First/last-touch attribution: for every user whose log contains a
    * purchase, the type of their FIRST event and of the LAST
    * non-purchase event strictly before their first purchase —
    * marketing's classic credit-assignment pair. Users whose first
    * event IS the purchase credit as 'direct' on both touches.
    *
    * Shape: one per-user aggregate finds the first purchase (min_by on
    * the (ts, event_id) order key), one keyed self-join restricts to
    * pre-purchase history, one per-user min_by/max_by picks the
    * touches, one count aggregate — every stage partitions on user_id
    * or the tiny (first, last) type pair; no windows over the full log,
    * no driver loops. */
  def eventsAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("p"))
      .select(col("user_id"), col("p.ts").as("p_ts"), col("p.event_id").as("p_id"))
    val touches = ev.join(firstPurchase, "user_id")
      .filter(col("ts") < col("p_ts") ||
        (col("ts") === col("p_ts") && col("event_id") < col("p_id")))
      .groupBy(col("user_id"))
      .agg(
        expr("min_by(event_type, struct(ts, event_id))").as("first_touch"),
        expr("max_by(event_type, struct(ts, event_id))").as("last_touch"))
    firstPurchase.join(touches, Seq("user_id"), "left_outer")
      .select(coalesce(col("first_touch"), lit("direct")).as("first_touch"),
        coalesce(col("last_touch"), lit("direct")).as("last_touch"))
      .groupBy(col("first_touch"), col("last_touch"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("first_touch"), col("last_touch"))
  }

  /** Behavioral path mining: the 20 most common 3-step event-type
    * paths over per-user time-ordered logs — the "what do users
    * actually do next" query behind funnel design. One window pass
    * (two leads over the same (user, ts, event_id) sort — Catalyst
    * evaluates both in a single Window operator), one count aggregate
    * over the ≤ |types|³ path universe, and a TakeOrderedAndProject
    * top-20 with a full deterministic tiebreak. */
  def eventsTrigrams(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_trigrams" -> eventsTrigrams,
    "events_mad_outliers" -> eventsMadOutliers,
    "events_attribution" -> eventsAttribution,
    "events_burstiness" -> eventsBurstiness,
    "events_winsorized" -> eventsWinsorized,
    "events_dow_profile" -> eventsDowProfile,
    "events_autocorr" -> eventsAutocorr,
    "events_changepoint" -> eventsChangepoint,
    "events_deciles" -> eventsDeciles,
    "graph_khop" -> graphKhop,
    "events_timeweighted" -> eventsTimeweighted,
    "quality_benford" -> qualityBenford,
    "events_pattern_match" -> eventsPatternMatch,
    "events_interval_coverage" -> eventsIntervalCoverage,
    "events_ewma" -> eventsEwma,
    "events_transitions" -> eventsTransitions,
    "events_new_users" -> eventsNewUsers,
    "mv_incremental_refresh" -> mvIncrementalRefresh,
    "sketch_hll_distinct" -> sketchHllDistinct,
    "sketch_kmv_setops" -> sketchKmvSetops,
    "events_rfm" -> eventsRfm,
    "pareto_frontier"    -> paretoFrontier,
    "events_histogram"   -> eventsHistogram,
    "profile_columns"    -> profileColumns,
    "cdc_snapshot_delta" -> cdcSnapshotDelta,
    "cdc_merge_apply"    -> cdcMergeApply,
    "cohort_retention"   -> cohortRetention,
    "events_ohlc"        -> eventsOhlc,
    "events_anomaly"     -> eventsAnomaly,
    "events_funnel"      -> eventsFunnel,
    "events_approx_percentiles" -> eventsApproxPercentiles,
    "events_range_trailing" -> eventsRangeTrailing,
    "events_corr_stats"  -> eventsCorrStats,
    "events_trend_forecast" -> eventsTrendForecast,
    "events_scd2" -> eventsScd2,
    "sample_stratified_topk" -> sampleStratifiedTopK,
    "graph_pagerank"     -> graphPagerank,
    "sample_weighted"    -> sampleWeighted,
  )

  def oracle: Map[String, String] = Map(
    // per-user lead pairs restated; the LIMIT boundary is safe because
    // the tiebreak is total (n DESC, then the full path)
    "events_trigrams" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t3
        |  FROM e),
        |c AS (SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n FROM p
        |  WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, n FROM c
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    // DISCRETE lower medians (rn = ceil(n/2) under (v, event_id) order)
    // on both sides: every compared double is an exact stored value, so
    // the robust-z cut needs no interpolation-parity caveat
    "events_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |m AS (SELECT event_type, value AS med FROM r
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)),
        |d AS (SELECT e.event_type, e.event_id, m.med,
        |    abs(e.value - m.med) AS dev
        |  FROM e JOIN m USING (event_type)),
        |r2 AS (SELECT event_type, event_id, med, dev,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mm AS (SELECT event_type, dev AS mad FROM r2
        |  WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(any_value(d.med), 4) AS median,
        |  round(any_value(mm.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN d.dev > 3.0 * 1.4826 * mm.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mm USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    // ts truncated to micros (CAST TIMESTAMP) to mirror the engine's
    // nanos->micros event-time normalization exactly
    "events_attribution" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |fp AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM (
        |    SELECT user_id, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS rn
        |    FROM e WHERE event_type = 'purchase') WHERE rn = 1),
        |pre AS (SELECT e.user_id, e.event_type, e.ts, e.event_id
        |  FROM e JOIN fp USING (user_id)
        |  WHERE e.ts < fp.p_ts OR (e.ts = fp.p_ts AND e.event_id < fp.p_id)),
        |tt AS (SELECT user_id,
        |    max(CASE WHEN rn_a = 1 THEN event_type END) AS ft,
        |    max(CASE WHEN rn_d = 1 THEN event_type END) AS lt
        |  FROM (SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS rn_a,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn_d
        |    FROM pre) GROUP BY user_id)
        |SELECT coalesce(tt.ft, 'direct') AS first_touch,
        |  coalesce(tt.lt, 'direct') AS last_touch,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM fp LEFT JOIN tt USING (user_id)
        |GROUP BY 1, 2 ORDER BY first_touch, last_touch""".stripMargin,
    "events_burstiness" ->
      """WITH c AS (SELECT event_type, date_trunc('minute', ts) AS minute,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n_active_minutes,
        |    CAST(sum(n) AS BIGINT) AS n_events,
        |    CAST(max(n) AS BIGINT) AS peak_n
        |  FROM c GROUP BY 1),
        |r AS (SELECT event_type, minute,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, minute) AS rk
        |  FROM c)
        |SELECT t.event_type, t.n_active_minutes, t.n_events, t.peak_n,
        |  r.minute AS peak_minute,
        |  CAST((t.peak_n * t.n_active_minutes * 1000000) // t.n_events
        |    AS BIGINT) AS burst_ratio_micro
        |FROM t JOIN r ON t.event_type = r.event_type AND r.rk = 1
        |ORDER BY t.event_type""".stripMargin,
    "events_winsorized" ->
      """WITH b AS (SELECT event_type, value FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND isfinite(value)),
        |q AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM b GROUP BY event_type),
        |c AS (SELECT b.event_type,
        |    CASE WHEN b.value < q.p05 THEN q.p05
        |         WHEN b.value > q.p95 THEN q.p95 ELSE b.value END AS clipped,
        |    CASE WHEN b.value < q.p05 THEN 1 ELSE 0 END AS lo,
        |    CASE WHEN b.value > q.p95 THEN 1 ELSE 0 END AS hi,
        |    q.p05, q.p95
        |  FROM b JOIN q USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(lo) AS BIGINT) AS n_clipped_lo,
        |  CAST(sum(hi) AS BIGINT) AS n_clipped_hi,
        |  CAST(round(max(p05) * 1000000) AS BIGINT) AS p05_micro,
        |  CAST(round(max(p95) * 1000000) AS BIGINT) AS p95_micro,
        |  CAST(round(avg(clipped) * 1000000) AS BIGINT)
        |    AS winsorized_mean_micro
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_dow_profile" ->
      """WITH g AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hr
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS n
        |  FROM g GROUP BY 1, 2)
        |SELECT dow, hr, n,
        |  CAST((n * 1000000) // (sum(n) OVER ()) AS BIGINT) AS share_micro
        |FROM c ORDER BY dow, hr""".stripMargin,
    "events_autocorr" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |p AS (SELECT event_type, x,
        |    lead(x) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y
        |  FROM b),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM p WHERE y IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n AS n_pairs,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |  THEN CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) END AS autocorr_micro
        |FROM m ORDER BY event_type""".stripMargin,
    "events_changepoint" ->
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |w AS (SELECT event_type, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS t,
        |    CAST(sum(cents) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s_t,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM b),
        |d AS (SELECT event_type, n, t, event_id,
        |    abs(n * s_t - t * tot) AS d_abs,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * s_t - t * tot) DESC, t) AS rk
        |  FROM w)
        |SELECT event_type, n, t AS t_star, event_id AS event_at_peak,
        |  CAST(d_abs AS BIGINT) AS peak_dev_n
        |FROM d WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "events_deciles" ->
      """WITH b AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |t AS (SELECT event_type, cents,
        |    ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS decile
        |  FROM b)
        |SELECT event_type, CAST(decile AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(cents) AS BIGINT) AS lo_cents,
        |  CAST(max(cents) AS BIGINT) AS hi_cents
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "graph_khop" ->
      """WITH pairs AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
        |e AS (SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |    FROM pairs
        |  UNION ALL
        |  SELECT l_partkey * 2 + 1, l_suppkey * 2 FROM pairs),
        |d0 AS (SELECT DISTINCT CAST(s_suppkey * 2 AS BIGINT) AS node
        |  FROM supplier WHERE s_suppkey IS NOT NULL AND s_suppkey % 7 = 0),
        |d1 AS (SELECT DISTINCT e.dst AS node FROM e
        |  JOIN d0 ON e.src = d0.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)),
        |d2 AS (SELECT DISTINCT e.dst AS node FROM e
        |  JOIN d1 ON e.src = d1.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)
        |    AND e.dst NOT IN (SELECT node FROM d1)),
        |d3 AS (SELECT DISTINCT e.dst AS node FROM e
        |  JOIN d2 ON e.src = d2.node
        |  WHERE e.dst NOT IN (SELECT node FROM d0)
        |    AND e.dst NOT IN (SELECT node FROM d1)
        |    AND e.dst NOT IN (SELECT node FROM d2)),
        |v AS (SELECT CAST(0 AS BIGINT) AS hop, node FROM d0
        |  UNION ALL SELECT 1, node FROM d1
        |  UNION ALL SELECT 2, node FROM d2
        |  UNION ALL SELECT 3, node FROM d3)
        |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(node) AS BIGINT) AS min_node,
        |  CAST(max(node) AS BIGINT) AS max_node,
        |  CAST(sum(node) AS BIGINT) AS sum_nodes
        |FROM v GROUP BY hop ORDER BY hop""".stripMargin,
    "events_timeweighted" ->
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(epoch_us(ts) AS BIGINT) AS t_us
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |d AS (SELECT user_id, cents,
        |    (lead(t_us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - t_us) // 1000000 AS dur_s
        |  FROM b),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |    CAST(sum(dur_s) AS BIGINT) AS total_dur_s,
        |    CAST((sum(cents * dur_s) * 100) // sum(dur_s) AS BIGINT)
        |      AS twa_centicents
        |  FROM d WHERE dur_s IS NOT NULL
        |  GROUP BY user_id HAVING sum(dur_s) > 0)
        |SELECT * FROM a ORDER BY user_id""".stripMargin,
    "quality_benford" ->
      """WITH exp9 AS (SELECT * FROM (VALUES
        |    (1, 301030), (2, 176091), (3, 124939), (4, 96910),
        |    (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |  AS t(digit, benford_micro)),
        |d AS (SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM events
        |  WHERE value IS NOT NULL AND isfinite(value) AND value > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
        |  WHERE digit >= 1 GROUP BY digit),
        |p AS (SELECT digit, n,
        |    CAST((n * 1000000) // (sum(n) OVER ()) AS BIGINT) AS p_micro
        |  FROM c)
        |SELECT p.digit, p.n, p.p_micro,
        |  CAST(e.benford_micro AS BIGINT) AS benford_micro,
        |  CAST(abs(p.p_micro - e.benford_micro) AS BIGINT) AS dev_micro
        |FROM p JOIN exp9 e ON p.digit = e.digit
        |ORDER BY p.digit""".stripMargin,
    "events_pattern_match" ->
      """WITH s AS (SELECT user_id,
        |    string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY user_id),
        |o AS (SELECT
        |    len(regexp_extract_all(seq, 'view purchase')) AS od,
        |    len(regexp_extract_all(seq, 'view click purchase')) AS oa,
        |    len(regexp_extract_all(seq, 'error error')) AS oe
        |  FROM s),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN od > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ud,
        |    CAST(sum(od) AS BIGINT) AS sd,
        |    CAST(sum(CASE WHEN oa > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ua,
        |    CAST(sum(oa) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN oe > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ue,
        |    CAST(sum(oe) AS BIGINT) AS se
        |  FROM o)
        |SELECT p.pattern, p.n_users, p.n_occurrences FROM (
        |  SELECT 'direct_purchase' AS pattern, ud AS n_users,
        |    sd AS n_occurrences FROM a
        |  UNION ALL SELECT 'assisted_purchase', ua, sa FROM a
        |  UNION ALL SELECT 'error_retry', ue, se FROM a) p
        |WHERE p.n_users IS NOT NULL ORDER BY p.pattern""".stripMargin,
    "events_interval_coverage" ->
      """WITH iv AS (SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS st,
        |    CAST(epoch_us(ts) AS BIGINT) + 300000000 AS en
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |m AS (SELECT user_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |f AS (SELECT user_id, st, en,
        |    CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END
        |      AS new_island
        |  FROM m),
        |g AS (SELECT user_id, st, en,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |isl AS (SELECT user_id, island, min(st) AS ist, max(en) AS ien
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(ien - ist) // 1000000 AS BIGINT) AS covered_sec,
        |  CAST((max(ien) - min(ist)) // 1000000 AS BIGINT) AS span_sec
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_ewma" ->
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rd FROM b),
        |k AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn FROM r WHERE rd <= 8),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
        |    sum(cents * (CAST(1 AS BIGINT) << (rn - 1))) AS num,
        |    (CAST(1 AS BIGINT) << count(*)) - 1 AS den
        |  FROM k GROUP BY user_id)
        |SELECT user_id, n_recent,
        |  CAST((num * 1000000) // den AS BIGINT) AS ewma_micro
        |FROM a ORDER BY user_id""".stripMargin,
    "events_transitions" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST((c.n * 1000000) // t.total AS BIGINT) AS p_micro
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "events_new_users" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new, CAST(sum(n_new) OVER (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_users
        |FROM d ORDER BY day""".stripMargin,
    // final MV state recomputed directly; n_mismatch is the in-engine
    // audit of the incremental path (0 = delta-merge produced the same
    // view the recompute does)
    "mv_incremental_refresh" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |applied AS (
        |  SELECT o_custkey, cents FROM o WHERE o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_custkey, cents + 500 FROM o
        |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0),
        |mv AS (SELECT o_custkey, count(*) AS n, sum(cents) AS sc
        |  FROM applied GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n) AS BIGINT) AS n_orders,
        |  CAST(sum(sc) AS BIGINT) AS sum_cents,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM mv HAVING count(*) > 0""".stripMargin,
    // estimates are DataSketches-specific; the oracle pins the exact
    // distinct counts and the audit verdicts (the ann_recall pattern)
    "sketch_hll_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |  true AS direct_ok, true AS merged_ok
        |FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the oracle's quintile is the same closed form over row_number —
    // agreement proves the range-partition + offset global rank exact
    "events_rfm" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM e),
        |per AS (SELECT user_id,
        |    CAST(date_diff('day', max(CAST(ts AS DATE)),
        |      (SELECT md FROM mx)) AS BIGINT) AS recency,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(coalesce(sum(CASE WHEN value IS NOT NULL
        |      AND isfinite(value)
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
        |      AS mon_c
        |  FROM e GROUP BY user_id),
        |n AS (SELECT count(*) AS cnt FROM per),
        |rk AS (SELECT user_id, mon_c,
        |    row_number() OVER (ORDER BY recency, user_id) AS r_rank,
        |    row_number() OVER (ORDER BY freq DESC, user_id) AS f_rank,
        |    row_number() OVER (ORDER BY mon_c DESC, user_id) AS m_rank
        |  FROM per),
        |q AS (SELECT user_id, mon_c,
        |    ((r_rank - 1) * 5) // cnt + 1 AS r_q,
        |    ((f_rank - 1) * 5) // cnt + 1 AS f_q,
        |    ((m_rank - 1) * 5) // cnt + 1 AS m_q
        |  FROM rk, n)
        |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |  CAST(m_q AS BIGINT) AS m_q,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(mon_c) AS BIGINT) AS sum_mon_c
        |FROM q GROUP BY 1, 2, 3
        |ORDER BY r_q, f_q, m_q""".stripMargin,
    // the oracle replays the ENTIRE KMV derivation (md5 is computed
    // identically by both engines), so estimates hash-match exactly —
    // no tolerance band needed
    "sketch_kmv_setops" ->
      """WITH e AS (SELECT DISTINCT event_type AS t,
        |    user_id * 1000 + CAST(date_part('doy', CAST(ts AS TIMESTAMP))
        |      AS BIGINT) AS u
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS NOT NULL),
        |h AS (SELECT DISTINCT t,
        |    CAST(('0x' || substring(md5(CAST(u AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h FROM e),
        |sk AS (SELECT t, h FROM (SELECT t, h,
        |    row_number() OVER (PARTITION BY t ORDER BY h) AS r FROM h)
        |  WHERE r <= 256),
        |ex AS (SELECT t, CAST(count(*) AS BIGINT) AS exact_n FROM h
        |  GROUP BY t),
        |xi AS (SELECT x.t AS ta, y.t AS tb,
        |    CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM h x JOIN h y ON x.h = y.h AND x.t < y.t GROUP BY 1, 2),
        |types AS (SELECT DISTINCT t FROM sk),
        |prs AS (SELECT a.t AS ta, b.t AS tb FROM types a
        |  JOIN types b ON a.t < b.t),
        |contrib AS (SELECT p.ta, p.tb, s.h,
        |    max(CASE WHEN s.t = p.ta THEN 1 ELSE 0 END) AS ina,
        |    max(CASE WHEN s.t = p.tb THEN 1 ELSE 0 END) AS inb
        |  FROM prs p JOIN sk s ON s.t = p.ta OR s.t = p.tb
        |  GROUP BY 1, 2, 3),
        |usk AS (SELECT * FROM (SELECT ta, tb, h, ina, inb,
        |    row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS r
        |  FROM contrib) WHERE r <= 256),
        |st AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_sk,
        |    max(h) AS hk, CAST(sum(ina * inb) AS BIGINT) AS n_both
        |  FROM usk GROUP BY 1, 2)
        |SELECT st.ta AS type_a, st.tb AS type_b,
        |  ea.exact_n AS exact_a, eb.exact_n AS exact_b,
        |  ea.exact_n + eb.exact_n - coalesce(xi.exact_inter, 0)
        |    AS exact_union,
        |  coalesce(xi.exact_inter, 0) AS exact_inter,
        |  round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE)
        |    ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END, 4)
        |    AS est_union,
        |  round((CAST(n_both AS DOUBLE) / CAST(n_sk AS DOUBLE)) *
        |    (CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE)
        |     ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END), 4)
        |    AS est_inter,
        |  (abs(round(CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE)
        |     ELSE 255.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END, 4)
        |    - (ea.exact_n + eb.exact_n - coalesce(xi.exact_inter, 0)))
        |    * 100 <= (ea.exact_n + eb.exact_n - coalesce(xi.exact_inter, 0))
        |    * 20) AS union_ok
        |FROM st JOIN ex ea ON ea.t = st.ta JOIN ex eb ON eb.t = st.tb
        |LEFT JOIN xi ON xi.ta = st.ta AND xi.tb = st.tb
        |ORDER BY type_a, type_b""".stripMargin,
    // the oracle runs the GLOBAL single-window formulation — agreement
    // proves the banded prefix-max decomposition is exact
    "pareto_frontier" ->
      """WITH pts AS (
        |  SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |         CAST(p_size AS BIGINT) AS size, count(*) AS n_parts
        |  FROM part GROUP BY 1, 2),
        |w AS (
        |  SELECT *, max(size) OVER (ORDER BY price_cents ASC, size DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        |  FROM pts)
        |SELECT price_cents, size, n_parts FROM w
        |WHERE m IS NULL OR size > m
        |ORDER BY price_cents""".stripMargin,
    "profile_columns" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | substring(CAST(min($c) AS VARCHAR), 1, 20) AS min_repr,
           | substring(CAST(max($c) AS VARCHAR), 1, 20) AS max_repr
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "cdc_snapshot_delta" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        |next AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text,'') || ' [rev2]'
        |         WHEN doc_id % 19 = 0 AND length(coalesce(text,'')) >= 1
        |           THEN substring(text, 1, length(text) - 1)
        |         ELSE text END AS text,
        |    CASE WHEN doc_id % 19 = 0 AND doc_id % 7 <> 0
        |              AND length(coalesce(text,'')) >= 1
        |           THEN substring(text, length(text), 1) || coalesce(lang,'')
        |         ELSE lang END AS lang,
        |    source
        |  FROM base WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, source
        |  FROM base WHERE doc_id % 17 = 0),
        |p AS (SELECT doc_id, md5(coalesce(text,'') || chr(1) ||
        |        coalesce(lang,'') || chr(1) || coalesce(source,'')) AS prev_digest
        |      FROM base),
        |n AS (SELECT doc_id, md5(coalesce(text,'') || chr(1) ||
        |        coalesce(lang,'') || chr(1) || coalesce(source,'')) AS next_digest
        |      FROM next),
        |j AS (SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN n.next_digest IS NULL THEN 'D'
        |             WHEN p.prev_digest IS NULL THEN 'I'
        |             WHEN p.prev_digest <> n.next_digest THEN 'U' END AS op
        |      FROM p FULL OUTER JOIN n ON p.doc_id = n.doc_id)
        |SELECT doc_id, op FROM j WHERE op IS NOT NULL ORDER BY doc_id""".stripMargin,
    "cdc_merge_apply" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        |next AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text,'') || ' [rev2]'
        |         WHEN doc_id % 19 = 0 AND length(coalesce(text,'')) >= 1
        |           THEN substring(text, 1, length(text) - 1)
        |         ELSE text END AS text,
        |    CASE WHEN doc_id % 19 = 0 AND doc_id % 7 <> 0
        |              AND length(coalesce(text,'')) >= 1
        |           THEN substring(text, length(text), 1) || coalesce(lang,'')
        |         ELSE lang END AS lang,
        |    source
        |  FROM base WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, lang, source
        |  FROM base WHERE doc_id % 17 = 0),
        |p AS (SELECT doc_id, md5(coalesce(text,'') || chr(1) ||
        |        coalesce(lang,'') || chr(1) || coalesce(source,'')) AS pd
        |      FROM base),
        |n AS (SELECT doc_id, md5(coalesce(text,'') || chr(1) ||
        |        coalesce(lang,'') || chr(1) || coalesce(source,'')) AS nd
        |      FROM next),
        |d2 AS (SELECT doc_id, op FROM (
        |    SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
        |      CASE WHEN n.nd IS NULL THEN 'D'
        |           WHEN p.pd IS NULL THEN 'I'
        |           WHEN p.pd <> n.nd THEN 'U' END AS op
        |    FROM p FULL OUTER JOIN n ON p.doc_id = n.doc_id)
        |  WHERE op IS NOT NULL),
        |kept AS (SELECT b.doc_id, b.text, b.lang, b.source
        |  FROM base b LEFT JOIN d2 USING (doc_id) WHERE d2.op IS NULL),
        |ups AS (SELECT nx.doc_id, nx.text, nx.lang, nx.source
        |  FROM next nx JOIN d2 USING (doc_id) WHERE d2.op IN ('U','I')),
        |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ups),
        |ckm AS (SELECT CAST(count(*) AS BIGINT) AS n_merged,
        |    coalesce(CAST(sum(CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text,'') || chr(1) ||
        |      coalesce(lang,'') || chr(1) || coalesce(source,'')), 1, 8))
        |      AS BIGINT)) AS BIGINT), 0) AS ck_merged,
        |    coalesce(CAST(sum(CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text,'') || chr(1) ||
        |      coalesce(lang,'') || chr(1) || coalesce(source,'')), 9, 8))
        |      AS BIGINT)) AS BIGINT), 0) AS ck2_merged
        |  FROM merged),
        |ckn AS (SELECT CAST(count(*) AS BIGINT) AS n_next,
        |    coalesce(CAST(sum(CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text,'') || chr(1) ||
        |      coalesce(lang,'') || chr(1) || coalesce(source,'')), 1, 8))
        |      AS BIGINT)) AS BIGINT), 0) AS ck_next,
        |    coalesce(CAST(sum(CAST(('0x' || substring(md5(
        |      CAST(doc_id AS VARCHAR) || chr(1) || coalesce(text,'') || chr(1) ||
        |      coalesce(lang,'') || chr(1) || coalesce(source,'')), 9, 8))
        |      AS BIGINT)) AS BIGINT), 0) AS ck2_next
        |  FROM next),
        |ops AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_updated,
        |    CAST(coalesce(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_inserted,
        |    CAST(coalesce(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_deleted
        |  FROM d2)
        |SELECT n_updated, n_inserted, n_deleted, n_merged,
        |  (n_merged = n_next AND ck_merged = ck_next
        |   AND ck2_merged = ck2_next) AS matches
        |FROM ops, ckm, ckn
        |WHERE n_merged + n_deleted > 0""".stripMargin,
    "cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |c AS (SELECT user_id, ts,
        |        CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS DATE) AS cohort_week,
        |        CAST(date_trunc('week', ts) AS DATE) AS event_week
        |      FROM e)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, event_week) // 7 AS INTEGER) AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    "events_ohlc" ->
      """WITH e AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
        |        ts, event_id, value,
        |        row_number() OVER (PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
        |                           ORDER BY ts, event_id) AS rn_open,
        |        row_number() OVER (PARTITION BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
        |                           ORDER BY ts DESC, event_id DESC) AS rn_close
        |      FROM events)
        |SELECT event_type, bar,
        |  max(CASE WHEN rn_open = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_close = 1 THEN value END) AS close,
        |  round(sum(value), 2) AS volume, count(*) AS n_events
        |FROM e GROUP BY event_type, bar ORDER BY event_type, bar""".stripMargin,
    "events_approx_percentiles" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events WHERE value IS NOT NULL AND isfinite(value)),
        |st AS (SELECT event_type,
        |    quantile_cont(v_c, [0.5, 0.9, 0.99]) AS qs,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM e GROUP BY event_type)
        |SELECT event_type, ([0.5, 0.9, 0.99])[i] AS p,
        |  round(qs[i], 4) AS exact_c, n, true AS within_bound
        |FROM st, unnest(range(1, 4)) AS u(i)
        |ORDER BY event_type, p""".stripMargin,
    "events_histogram" ->
      """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL AND isfinite(value)),
        |b AS (SELECT event_type, min(x) AS lo, max(x) AS hi
        |  FROM e GROUP BY event_type)
        |SELECT e.event_type,
        |  CAST(((x - lo) * 10) // (hi - lo + 1) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n, min(x) AS bin_min, max(x) AS bin_max
        |FROM e JOIN b USING (event_type)
        |GROUP BY e.event_type, bin ORDER BY event_type, bin""".stripMargin,
    "events_range_trailing" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events
        |  WHERE value IS NOT NULL AND isfinite(value)
        |    AND ts IS NOT NULL AND user_id IS NOT NULL)
        |SELECT event_id, user_id, t_us, v_c,
        |  CAST(sum(v_c) OVER w AS BIGINT) AS trail_sum_c,
        |  CAST(count(*) OVER w AS BIGINT) AS trail_n
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // consecutive-distinct collapse + interval close, both on the same
    // (ts, event_id) total order; null-safe change detection
    "events_scd2" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |c AS (SELECT user_id, ts, event_id, v_c,
        |    lag(v_c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      IS NULL AS is_first
        |  FROM e),
        |ch AS (SELECT user_id, ts, event_id, v_c FROM c
        |  WHERE is_first OR v_c IS DISTINCT FROM prev)
        |SELECT user_id, v_c,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from_us,
        |  epoch_us(CAST(lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS TIMESTAMP)) AS valid_to_us
        |FROM ch ORDER BY user_id, valid_from_us""".stripMargin,
    // identical moment shape and rounding as the engine: exact integer
    // sums, the same double expression tree, one micro-round at the end
    "events_trend_forecast" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day
        |  FROM events WHERE ts IS NOT NULL),
        |lo AS (SELECT min(day) AS lo FROM e),
        |daily AS (SELECT event_type, date_diff('day', lo, day) AS x,
        |    count(*) AS y
        |  FROM e, lo GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, max(x) AS mx
        |  FROM daily GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN CAST(round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * 1000000.0) AS BIGINT) END
        |    AS slope_micro,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN CAST(round(((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) END
        |    AS icept_micro,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN CAST(round((((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) + ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * (CAST(mx AS DOUBLE) + 1.0)) * 1000000.0) AS BIGINT) END
        |    AS forecast_micro
        |FROM m ORDER BY event_type""".stripMargin,
    "events_corr_stats" ->
      """WITH m AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM (SELECT event_type,
        |      CAST(round(value * 100) AS BIGINT) AS x,
        |      CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
        |    FROM events
        |    WHERE value IS NOT NULL AND isfinite(value) AND ts IS NOT NULL)
        |  GROUP BY event_type)
        |SELECT event_type, n, sx, sy,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |      * 1000000.0) AS BIGINT) END AS corr_micro,
        |  CASE WHEN n > 1
        |    THEN CAST(round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) * 1000.0) AS BIGINT) END AS stddev_x_milli,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |    THEN CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |      * 1000000.0) AS BIGINT) END AS slope_x_on_y_micro
        |FROM m ORDER BY event_type""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |v AS (SELECT user_id, min(ts) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, v.t1, min(e.ts) AS t2
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 7 DAY
        |      GROUP BY e.user_id, v.t1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t1 + INTERVAL 7 DAY
        |      GROUP BY e.user_id)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |  UNION ALL
        |  SELECT '2_click' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM c
        |  UNION ALL
        |  SELECT '3_purchase' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM p)
        |WHERE n_users > 0 ORDER BY stage""".stripMargin,
    "sample_stratified_topk" ->
      """WITH g AS (SELECT doc_id, lang, coalesce(n_chars, 1) AS weight,
        |  (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
        |    / 4294967296.0 AS u
        |  FROM documents),
        |r AS (SELECT lang, doc_id, CAST(weight AS BIGINT) AS weight,
        |    CAST(weight AS DOUBLE) / u AS priority,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(weight AS DOUBLE) / u DESC, doc_id) AS rank
        |  FROM g)
        |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, weight, priority
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "events_anomaly" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events WHERE value IS NOT NULL AND isfinite(value)),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v_c) AS BIGINT) AS s1, CAST(sum(v_c*v_c) AS BIGINT) AS s2
        |  FROM e GROUP BY event_type),
        |j AS (SELECT e.event_id, e.event_type, e.v_c,
        |    CAST(st.n * e.v_c - st.s1 AS DOUBLE) AS num,
        |    CAST(st.n AS DOUBLE) * CAST(st.s2 AS DOUBLE)
        |      - CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE) AS den
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, v_c, round(num*num/den, 4) AS z2
        |FROM j WHERE den > 0 AND num*num > 9.0*den
        |ORDER BY z2 DESC, event_id LIMIT 100""".stripMargin,
    "graph_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
        |edges AS (SELECT sk*2 AS src, pk*2+1 AS dst FROM pairs
        |          UNION ALL
        |          SELECT pk*2+1 AS src, sk*2 AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM edges),
        |r1 AS (SELECT e.dst AS node,
        |         150000 + CAST(sum((r.rank_micro * 85) // (100 * d.outdeg)) AS BIGINT) AS rank_micro
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node,
        |         150000 + CAST(sum((r.rank_micro * 85) // (100 * d.outdeg)) AS BIGINT) AS rank_micro
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node,
        |         150000 + CAST(sum((r.rank_micro * 85) // (100 * d.outdeg)) AS BIGINT) AS rank_micro
        |       FROM edges e JOIN deg d ON e.src = d.src JOIN r2 r ON r.node = e.src
        |       GROUP BY e.dst)
        |SELECT CASE WHEN node % 2 = 0 THEN 's' ELSE 'p' END AS node_type,
        |  node // 2 AS key, rank_micro
        |FROM r3
        |ORDER BY rank_micro DESC, node_type, key LIMIT 20""".stripMargin,
    "sample_weighted" ->
      """WITH g AS (SELECT doc_id, coalesce(n_chars, 1) AS weight,
        |  (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
        |    / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, CAST(weight AS BIGINT) AS weight,
        |  CAST(weight AS DOUBLE) / u AS priority
        |FROM g ORDER BY priority DESC, doc_id LIMIT 20""".stripMargin,
  )
}
