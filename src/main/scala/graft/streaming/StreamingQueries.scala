package graft.streaming

import graft.QueryPack
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-declared CORRECTNESS entries for the streaming surface: each
  * query runs a [[StreamingOps]] transform over the parquet `events` table
  * read AS A STREAM (file source + `availableNow` trigger — the "process
  * everything already there, then stop" mode a backfill uses), so the
  * whole streaming pipeline — source, watermark, stateful agg, sink
  * commit — is exercised and then hash-checked against a plain SQL
  * oracle, not just spec-tested.
  *
  * The sink is the exactly-once `foreachBatch` + dynamic-partition-
  * overwrite parquet sink ([[StreamingOps.idempotentParquetSink]]), run in
  * APPEND mode — the production shape: the watermark evicts window state
  * incrementally and each closed window is emitted exactly once, to files,
  * never through driver memory. A finite backfill in Append mode would
  * normally withhold the windows the final watermark never passes, so the
  * staged input carries one far-future FLUSH SENTINEL row (30 days past
  * the corpus max — a standard finite-backfill device): processing it
  * advances the watermark beyond every real window, the trailing state
  * drains to the sink, and the sentinel's own groups are dropped on
  * read-back (it contaminates only groups keyed by its own
  * user_id = -1 / event_type = "__flush__"). The staged directory is
  * hard-linked, not copied, so staging is O(#files) regardless of size.
  */
object StreamingQueries extends QueryPack {

  private val FlushType = "__flush__"
  /** 30 days in nanoseconds — the sentinel's distance past max(ts); far
    * beyond the 2 h watermark delay + 1 h max window span, so every real
    * window closes strictly before the sentinel's watermark. */
  private val SentinelGapNs = 30L * 86400L * 1000000000L

  /** Directory entries as a materialized list — `Files.list` streams hold
    * an open directory fd until closed, so never leak the stream. */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(p)
    try {
      val it = st.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    } finally st.close()
  }

  /** Stage the events table into a temp directory (hard links; copy
    * fallback across devices) plus one sentinel parquet file whose single
    * row sits 30 days past the corpus max ts. Hard links preserve the
    * originals' older mtime, so the file source's oldest-first ordering
    * processes all real data before (or with) the sentinel — the sentinel
    * must never advance the watermark ahead of unprocessed real rows. */
  private def stageWithSentinel(s: SparkSession, d: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = Paths.get(s"$d/events.parquet")
    val tmp = Files.createTempDirectory("graft_stream_in_")
    val dataFiles: Seq[java.nio.file.Path] =
      if (Files.isDirectory(src))
        listDir(src).filter { f =>
          val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
      else Seq(src)
    dataFiles.zipWithIndex.foreach { case (f, i) =>
      val dst = tmp.resolve(f"data_$i%05d_${f.getFileName.toString}")
      try Files.createLink(dst, f)
      catch { case _: Exception => Files.copy(f, dst) }
    }
    // sentinel row with the RAW on-disk schema (ts may be nanos-long or
    // timestamp depending on the fixture layout)
    val batch = s.read.parquet(src.toString)
    // no TIMED rows (zero rows, or every ts NULL): there is nothing to
    // flush (and no max ts to offset), so stage the data files with no
    // sentinel — the ingress filter drops untimed rows and the backfill
    // is the empty relation. ONE null-aware max probe covers both cases
    // (max skips NULLs; an all-NULL or empty input yields a NULL max).
    val maxRow = batch.agg(max(col("ts"))).head()
    if (maxRow.isNullAt(0)) return tmp
    val tsLit = batch.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        lit(maxRow.getLong(0) + SentinelGapNs)
      // NTZ surfaces as LocalDateTime on the driver; the sentinel literal
      // must stay NTZ so its file unions with the staged raw schema
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(maxRow.getAs[java.time.LocalDateTime](0).plusNanos(SentinelGapNs))
      case _ =>
        lit(new java.sql.Timestamp(
          maxRow.getTimestamp(0).getTime + SentinelGapNs / 1000000L))
    }
    val sentinel = batch.limit(1).select(batch.columns.toIndexedSeq.map {
      case "ts"         => tsLit.as("ts")
      case "event_id"   => lit(-1L).cast(batch.schema("event_id").dataType).as("event_id")
      case "user_id"    => lit(-1L).cast(batch.schema("user_id").dataType).as("user_id")
      case "event_type" => lit(FlushType).as("event_type")
      case "value"      => lit(0.0).cast(batch.schema("value").dataType).as("value")
      case other        => col(other)
    }: _*)
    val sentDir = Files.createTempDirectory("graft_stream_sent_")
    sentinel.coalesce(1).write.mode("overwrite").parquet(sentDir.toString)
    val part = listDir(sentDir).find(_.getFileName.toString.endsWith(".parquet"))
    require(part.nonEmpty, "sentinel parquet part file not found")
    Files.move(part.get, tmp.resolve("zz_sentinel.parquet"))
    deleteRecursively(sentDir)
    tmp
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** The staged (data + sentinel) directory is identical for every
    * backfill over the same events table, and building it costs two small
    * Spark jobs (max-ts probe, sentinel write) — memoized per
    * (application, sf dir) like the component labeling, invalidated and
    * deleted by [[graft.CacheRegistry.clear]] at pass boundaries. */
  /** Superseded staged dirs are RETIRED, not deleted eagerly: a backfill
    * started against the previous generation may still be mid-read (the
    * JobServer supports interleaved client submissions), and yanking its
    * parquet files fails the running stream. The pass-boundary clear()
    * is the documented safe deletion point. Hook ORDER matters: the
    * memo's own clear hook (registered first, in its constructor)
    * retires the live generation, then this hook — registered after —
    * deletes everything retired, so one clear() reclaims all dirs. */
  private val retiredStaging =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  private val stagedCache =
    new graft.CacheRegistry.VersionedMemo[java.nio.file.Path](
      p => retiredStaging.add(p))
  graft.CacheRegistry.onClear(() => {
    retiredStaging.forEach(p => deleteRecursively(p))
    retiredStaging.clear()
  })

  private def stagedFor(s: SparkSession, d: String): java.nio.file.Path =
    stagedCache.getOrBuild(s, d + "/events.parquet")(stageWithSentinel(s, d))

  /** Event-time column normalization, shared by every stream builder —
    * same as [[graft.Tables.events]]: TIMESTAMP(NANOS) read as long and
    * converted in integer arithmetic; TIMESTAMP_NTZ (DuckDB/pandas-written
    * corpora) cast to TIMESTAMP — value-preserving under the pinned UTC
    * session TZ, and required by the watermark operators. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** The staged directory as a stream. */
  private def streamFromDir(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    normalizeTs(s.readStream.schema(schema)
      .option("latestFirst", "false") // oldest first: data before sentinel
      .parquet(dir))
  }

  /** The events table streamed DIRECTLY from its source files — for the
    * operators that emit in-flight (stateful dedup, inner stream-stream
    * join) and therefore need no flush sentinel: nothing is withheld
    * behind the watermark, so the unstaged source is both cheaper (no
    * sentinel batch) and the truer production shape. The file stream
    * source needs a directory; a single-file fixture streams from its
    * parent with a leaf-name glob (pathGlobFilter matches LEAF names).
    *
    * Watermark safety: rows older than (watermark) are DROPPED by the
    * stateful operators, and the watermark only advances BETWEEN
    * micro-batches — so a backfill is exact iff no batch carries rows
    * older than a previous batch's max ts minus the delay. The file
    * source splits batches only when `maxFilesPerTrigger` is set; these
    * builders never set it, so every available file lands in ONE batch
    * and nothing is ever late. A deployment that re-enables rate limits
    * accepts ordinary watermark semantics instead. */
  private def eventsStreamDirect(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$d/events.parquet"
    val schema = s.read.parquet(path).schema
    normalizeTs(
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
        s.readStream.schema(schema).parquet(path)
      else
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet*")
          .parquet(d))
  }

  /** Sink output dirs live until the next [[graft.CacheRegistry.clear]]:
    * the returned DataFrame reads them lazily, so they must outlive the
    * query result's consumption — the same pass-boundary contract as the
    * checkpointed band/label tables. */
  private val outDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  graft.CacheRegistry.onClear(() => {
    outDirs.forEach(p => deleteRecursively(p))
    outDirs.clear()
  })

  /** Streaming state partitioning for the finite backfills. The state
    * store pays a per-partition, per-micro-batch maintenance/commit cost,
    * so running a bounded backfill at the session's full shuffle width
    * is pure overhead (measured on local[32]: every stream query more
    * than halves at width 8). A quarter of the cluster parallelism
    * (floor 4) keeps the backfill parallel while bounding that fixed
    * cost; `spark.graft.stream.statePartitions` overrides. The setting
    * is applied around the whole query run because Spark fixes a
    * stream's state partition count from the session conf at start —
    * there is no per-writer option — and the declared backfills are
    * sequential driver entry points, so nothing else plans against the
    * temporary value (a concurrent planner in the same session would;
    * production deployments size the session conf directly instead). */
  private def withStatePartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = s.conf.get(key)
    s.conf.set(key, s.conf.get("spark.graft.stream.statePartitions",
      math.max(4, s.sparkContext.defaultParallelism / 4).toString))
    try body finally s.conf.set(key, saved)
  }

  /** Run a streaming transform over a finite source to completion
    * through the exactly-once parquet sink and return the landed files as
    * a DataFrame. No memory sink, no `collect()`, no Complete mode: rows
    * flow executor → files, the driver only coordinates. The checkpoint
    * dir is deleted once the query terminates (fully processed); the
    * sink dir backs the lazy result, reclaimed by
    * [[graft.CacheRegistry.clear]] at the next pass boundary (or with
    * the JVM's temp space at process exit). */
  private def runStream(s: SparkSession)(source: => DataFrame)(
      aggOf: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_stream_out_")
    outDirs.add(out)
    val ckpt = Files.createTempDirectory("graft_stream_ckpt_")
    // finally: a failed query must not leak its checkpoint temp dir (the
    // out dir stays — it is tracked in outDirs and reclaimed by the
    // CacheRegistry.clear hook either way)
    val planned = aggOf(source)
    try withStatePartitions(s) {
      val q = StreamingOps.idempotentParquetSink(
        planned, out.toString, ckpt.toString)
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    // a zero-row source fires no micro-batch, so the sink dir has no
    // files to infer a schema from — the result is planned's empty
    // relation in that case
    if (listDir(out).isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        planned.schema)
    else s.read.parquet(out.toString).drop("batch_id")
  }

  /** [[runStream]] over the memoized sentinel-staged input — for the
    * Append-mode aggregations, whose trailing windows only drain once
    * the sentinel advances the final watermark. */
  private def runBackfill(s: SparkSession, d: String)(
      aggOf: DataFrame => DataFrame): DataFrame =
    runStream(s)(streamFromDir(s, stagedFor(s, d).toString))(aggOf)

  /** [[runStream]] over the raw unstaged source — for the operators that
    * emit in-flight and need no sentinel. */
  private def runDirect(s: SparkSession, d: String)(
      aggOf: DataFrame => DataFrame): DataFrame =
    runStream(s)(eventsStreamDirect(s, d))(aggOf)

  /** Streaming twin of q23: watermarked 1-hour tumbling windows. Produces
    * exactly q23's relation (minus the derived avg), so the oracle is the
    * same GROUP BY date_trunc. */
  def streamTumbling(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d)(StreamingOps.tumblingAgg)
      // null-SAFE comparison: a corpus with NULL event types keeps its
      // null group (a valid GROUP BY key) — only the sentinel's own
      // group is scrubbed
      .filter(!(col("event_type") <=> lit(FlushType)))
      .orderBy(col("hour"), col("event_type"))

  /** Streaming bounded-state distinct estimation: per 1-hour window the
    * KMV bottom-64 sketch's distinct-user estimate
    * ([[StreamingOps.kmvDistinctAgg]] / [[graft.functions.KmvDistinctAgg]]
    * — ≤64 longs of state per open window on ANY feed volume). The
    * sketch is deterministic (order-insensitive min-K over md5 hashes),
    * so the oracle recomputes the exact same estimate from the batch
    * table — a streaming approximate aggregate with a hash-exact gate.
    * The sentinel rides INTO the aggregation as the sketch's skip
    * marker rather than being filtered (a pre-agg filter is pushed
    * below the watermark node and would stop the clock that drains the
    * final windows); its own far-future window holds nothing and never
    * drains. */
  def streamKmvDistinct(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d)(StreamingOps.kmvDistinctAgg(_,
      !(col("event_type") <=> lit(FlushType))))
      .orderBy(col("hour"))

  /** Streaming sliding windows: 1-hour windows every 15 minutes, so each
    * event lands in exactly 4 windows. Spark aligns window starts to the
    * epoch, as does the oracle's `time_bucket` — each event's 4 windows
    * are its 15-minute bucket minus k·15min for k = 0..3. */
  def streamSliding(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d)(StreamingOps.slidingAgg)
      .filter(!(col("event_type") <=> lit(FlushType)))
      .orderBy(col("w_start"), col("event_type"))

  /** Streaming session windows (30-min gap). Session-window semantics:
    * an event EXTENDS a session iff its ts falls strictly inside the
    * previous window [start, last + gap) — a gap of exactly 30 minutes
    * starts a NEW session, hence the >= in the oracle's split flag
    * (unlike batch q24, whose lag-based rule used strict >). */
  def streamSession(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d)(StreamingOps.sessionWindowAgg)
      // scrub exactly the sentinel's RESERVED key (user_id = -1), not a
      // blanket >= 0: a corpus with other negative user ids keeps them
      .filter(!(col("user_id") <=> lit(-1L)))
      .orderBy(col("user_id"), col("sess_start"))

  /** Custom-stateful sessionization via flatMapGroupsWithState
    * ([[StreamingOps.statefulSessions]]) — the arbitrary-state API, run
    * as a declared backfill: per-user event-time state, sessions emitted
    * on close (mid-stream) or event-time timeout (the sentinel's
    * watermark drains every open session). Timestamps surface as epoch
    * MILLISECONDS (the state struct's arithmetic unit), and the gap rule
    * is `gap > 30 min` CONTINUES ⇔ `gap <= 30 min`, i.e. an exactly-30-min
    * gap still extends the session — both mirrored in the oracle
    * (`epoch_ms`, split on `gap > 1800000`), unlike the built-in
    * session_window whose exact-gap event starts a new session. */
  def streamFmgwsSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    runBackfill(s, d) { df =>
      // statefulSessions' input contract: Ev.user_id is a primitive Long
      // (encoder throws on null) and the per-group sort dereferences ts —
      // an untimed or unidentified event has no session to belong to
      StreamingOps.statefulSessions(s,
        df.filter(col("ts").isNotNull && col("user_id").isNotNull)
          .as[StreamingOps.Ev]).toDF()
    }
      .filter(!(col("user_id") <=> lit(-1L))) // sentinel key scrub, see streamSession
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events").cast("long").as("n_events"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  /** Bounded-state streaming exact dedup, end to end: the stream is
    * unioned with itself (every event arrives TWICE — the at-least-once
    * delivery shape dedup exists for), then
    * `dropDuplicatesWithinWatermark` on the unique event id restores
    * exactly the original relation while holding one state row per key
    * only inside the watermark horizon. Duplicate rows are bit-identical,
    * so whichever copy survives is deterministic. Dedup is a stateful
    * FILTER — rows emit immediately in Append mode, so the raw unstaged
    * source suffices — and the oracle is simply the events table. */
  def streamDedup(s: SparkSession, d: String): DataFrame =
    runDirect(s, d) { df =>
      // ingress contract: an untimed row has no watermark horizon to be
      // deduplicated within (its state key would never evict)
      df.filter(col("ts").isNotNull)
        .unionByName(df.filter(col("ts").isNotNull))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    }
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("event_id"))

  /** Per-user record-high tracking on the `transformWithState` API
    * ([[StreamingOps.RecordHighProcessor]]): typed ValueState per user,
    * RocksDB state store (required by the API, and the at-scale choice —
    * state on disk with changelog checkpoints, not JVM heap). The
    * processor emits each touched user's running (record count, max)
    * per batch; a finite single-batch backfill therefore lands exactly
    * one row per user — the full-history answer the oracle replays with
    * an ordered window. The provider conf is scoped to the run: Spark
    * reads it at query start, and the declared backfills are sequential
    * driver entry points. */
  def streamRecordHighs(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runDirect(s, d)(df => StreamingOps.recordHighs(s, df))
      .orderBy(col("user_id"))
    finally saved match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Watermarked STREAM-STREAM interval join as a declared query: each
    * purchase joined to the same user's clicks from the preceding hour,
    * both sides of [[StreamingOps.streamStreamJoin]] fed from the same
    * raw source stream. Inner stream-stream joins emit matches as they
    * are found (the watermark bounds buffered state, not emission), so
    * the finite backfill lands the complete join with no sentinel. */
  def streamStreamInterval(s: SparkSession, d: String): DataFrame =
    runDirect(s, d) { df => StreamingOps.streamStreamJoin(df, df) }
      .orderBy(col("p_id"), col("c_id"))

  /** LEFT OUTER stream-stream interval join as a declared query: every
    * purchase, its preceding-hour clicks, and NULL click columns for
    * purchases no click preceded — the unmatched rows are withheld
    * until the watermark proves them final, so this backfill runs over
    * the STAGED sentinel stream (the Append-windowed-agg discipline);
    * the sentinel rides both sides to advance their watermarks and its
    * own reserved id −1 is scrubbed here, null-safely. */
  def streamLeftOuterInterval(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d) { df => StreamingOps.streamStreamLeftOuter(df, df) }
      .filter(!(col("p_id") <=> lit(-1L)))
      .orderBy(col("p_id"), col("c_id"))

  /** The FULL-outer completion of the interval-join family: every
    * purchase exactly once (nulls where no click preceded) AND every
    * click exactly once (nulls where no purchase followed) — both
    * unmatched buffers drained by the sentinel-advanced watermarks.
    * The scrub removes exactly the sentinel pair; real unmatched rows'
    * NULL ids pass the null-safe inequalities. */
  def streamFullOuterInterval(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d) { df => StreamingOps.streamStreamFullOuter(df, df) }
      .filter(!(col("p_id") <=> lit(-1L)) && !(col("c_id") <=> lit(-1L)))
      .orderBy(col("p_id"), col("c_id"))

  /** RIGHT-outer interval join as a declared query: every click exactly
    * once — its following purchase's columns, or NULLs once the
    * purchase watermark proves none can come. Staged sentinel stream
    * for the same reason as left/full (unmatched emission is
    * watermark-gated); the scrub drops exactly the sentinel pair,
    * null-safely, so real unmatched clicks (NULL p_id) survive. */
  def streamRightOuterInterval(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d) { df => StreamingOps.streamStreamRightOuter(df, df) }
      .filter(!(col("p_id") <=> lit(-1L)) && !(col("c_id") <=> lit(-1L)))
      .orderBy(col("p_id"), col("c_id"))

  /** Streaming heavy-hitters serving path: the stream maintains
    * watermarked per-hour per-user counts ([[StreamingOps
    * .hourlyUserCounts]] — Append mode, sentinel-flushed like every
    * windowed agg here); the declared result then RANKS the sink table
    * to each hour's top-3 users (count desc, user asc — deterministic).
    * Sentinel scrub: the reserved user_id -1, exactly as
    * [[streamSession]]. */
  def streamTopkUsers(s: SparkSession, d: String): DataFrame = {
    val counts = runBackfill(s, d)(StreamingOps.hourlyUserCounts)
      .filter(col("user_id") =!= -1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour")).orderBy(col("n").desc, col("user_id"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy(col("hour"), col("rank"))
  }

  /** Chained stateful operators — the at-least-once ingest topology as
    * ONE streaming query: the staged stream is union-doubled (every row,
    * including the sentinel, arrives twice), the first stateful operator
    * restores exactly-once by id, and the second maintains the hourly
    * rollup; the sentinel's surviving copy advances the shared watermark
    * and drains the trailing windows. The oracle is therefore identical
    * to [[streamTumbling]]'s — a correct chain makes the duplication
    * invisible. */
  def streamDedupWindows(s: SparkSession, d: String): DataFrame =
    runBackfill(s, d) { df =>
      StreamingOps.dedupThenTumbling(df.unionByName(df))
    }
      .filter(!(col("event_type") <=> lit(FlushType)))
      .orderBy(col("hour"), col("event_type"))

  /** Stream-static enrichment — the lambda-architecture join: the stream
    * is enriched against the BATCH-computed per-type moments (exact
    * integer cents, the [[graft.operators.AnalyticsOps]] discipline) and
    * windowed into hourly above-mean counts. The static dimension
    * excludes null types (an inner enrichment join cannot match them)
    * and the sentinel's reserved type never appears in batch stats, so
    * the join itself performs the sentinel scrub. */
  def streamEnrichAboveMean(s: SparkSession, d: String): DataFrame = {
    val finite = col("value").isNotNull && !isnan(col("value")) &&
      abs(col("value")) < lit(Double.PositiveInfinity)
    val stats = graft.Tables.events(s, d)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(sum(when(finite, 1L).otherwise(0L)).as("m_cnt"),
        coalesce(sum(when(finite,
          expr("CAST(round(value * 100) AS BIGINT)"))), lit(0L)).as("m_sum"))
    runBackfill(s, d)(df => StreamingOps.enrichAboveMean(df, stats))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Streaming → versioned-table sink (the eleventh streaming query):
    * the tumbling aggregation lands in a [[graft.sources.SnapshotTable]]
    * via `foreachBatch` + [[graft.sources.SnapshotTable.commitIdempotent]]
    * with a stable writer id and the micro-batch id as the transaction
    * version (Delta's txnAppId/txnVersion shape) — each closed window
    * batch becomes ONE atomic append commit, a batch replayed after a
    * crash-restart is recognized against the writer's watermark and
    * skipped, and the manifest carries ONE replay-metadata line for
    * this sink at any stream age, so the table holds every window
    * exactly once with O(writers) manifest bytes. The declared result is the
    * latest snapshot read back (sentinel group scrubbed), checked
    * against the same SQL oracle as `stream_tumbling` — the lakehouse
    * sink must land the very relation the file sink lands. */
  /** STREAMING NEAR-DUP GATE: documents arrive as an `availableNow`
    * file stream in micro-batches; each batch is probed EXACTLY
    * (prefix-filtered Jaccard ≥ τ, [[graft.operators.DedupOps.nearDupMatches]])
    * against a STANDING corpus index built once before the stream, and
    * only the survivors are committed — idempotently, batch id as txn
    * id — into a versioned snapshot table. The production
    * arriving-data dedup gate end to end: exact (no sketch recall
    * caveat), exactly-once (replays dedupe on the txn set), and
    * BATCH-SLICING-INVARIANT — the probe is against the fixed standing
    * corpus, so the accepted set is a pure function of the arrival SET,
    * which is exactly what the closed-form oracle states (odd-id docs
    * plus planted twins of even-id docs, minus everything with a ≥ τ
    * match in the even-id corpus).
    *
    * Scale shape: the corpus postings index is built once (a production
    * gate persists it — the [[graft.sources.SnapshotTable]] save shape);
    * per batch the work is O(batch prefix postings ⨝ index), the
    * [[graft.operators.DedupOps.ingestJaccardPrefix]] contract, never a
    * corpus self-join, never a growing state store. */
  def streamDedupGate(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_stream_gate_")
    outDirs.add(root)
    val table = root.resolve("tbl").toString
    val stageDir = root.resolve("in").toString
    val ckpt = Files.createTempDirectory("graft_stream_gateck_")
    val docs = graft.Tables.documents(s, d)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars_v"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    // +1e12+1 keeps the planted twin on the ARRIVING (odd) side
    val arriving = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(corpus.filter(col("doc_id") % 34 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000000001L))
    arriving.repartition(8).write.mode("overwrite").parquet(stageDir)
    // the standing index: built ONCE, probed by every micro-batch
    val index = graft.operators.DedupOps.buildPrefixIndex(
      corpus.select(col("doc_id"), col("text")))
    val schema = arriving.schema
    try {
      // 8 staged files / 4 per trigger = 2+ micro-batches: the
      // multi-batch path stays exercised (GateRestartSpec drives the
      // 3-batch crash/replay case) without paying per-trigger probe
      // overhead 4x in the declared backfill
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(stageDir)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            val b = batch.toDF().localCheckpoint(true)
            val matched = graft.operators.DedupOps
              .nearDupMatches(index, b)
            val survivors = b.join(matched,
              b("doc_id") === matched("batch_id"), "left_anti")
              .select(col("doc_id"), col("n_chars_v"))
            // checkpoint-derived writer id + monotone batch version: the
            // manifest carries ONE watermark line for this sink at any
            // stream age, and a second stream (own checkpoint) feeding
            // the same table can never collide with this writer's ids
            graft.sources.SnapshotTable.commitIdempotent(
              batch.sparkSession, table, survivors, overwrite = false,
              txnId = graft.sources.SnapshotTable.writerIdFor(ckpt.toString),
              txnVersion = id)
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    val outSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(_.name == "text"))
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val res =
      if (graft.sources.SnapshotTable.versions(s, table).isEmpty) empty
      else {
        val snap = graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
        if (snap.columns.isEmpty) empty else snap
      }
    res.orderBy(col("doc_id"))
  }

  def streamSnapshotSink(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_stream_snap_")
    outDirs.add(root)
    val table = root.resolve("tbl").toString
    val ckpt = Files.createTempDirectory("graft_stream_snapck_")
    val planned = StreamingOps.tumblingAgg(
      streamFromDir(s, stagedFor(s, d).toString))
    try withStatePartitions(s) {
      val q = planned.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            // checkpoint-derived writer id + monotone batch version
            // (Delta's txnAppId convention): replay metadata stays ONE
            // manifest line however many micro-batches this sink ever
            // commits, and the identity is unique to THIS stream
            graft.sources.SnapshotTable.commitIdempotent(
              batch.sparkSession, table, batch.toDF(), overwrite = false,
              txnId = graft.sources.SnapshotTable.writerIdFor(ckpt.toString),
              txnVersion = id)
            // lakehouse hygiene INSIDE the stream: every 8th batch
            // bin-packs the accumulated micro-batch files (compact) and
            // expires superseded versions (vacuum) — file count and
            // version history stay O(recent) over an UNBOUNDED stream,
            // while the per-writer txn watermark keeps exactly-once
            // intact across maintenance (it rides every manifest,
            // vacuum included). Best-effort by design: a crash between
            // commit and maintenance just defers the sweep to batch
            // id+8.
            if (id % 8 == 7) {
              graft.sources.SnapshotTable.compact(batch.sparkSession,
                table, smallFileBytes = 8L << 20, targetFileBytes = 128L << 20)
              graft.sources.SnapshotTable.vacuum(batch.sparkSession,
                table, keepVersions = 8)
            }
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], planned.schema)
    val res =
      if (graft.sources.SnapshotTable.versions(s, table).isEmpty) empty
      else {
        val snap = graft.sources.SnapshotTable.readAsOf(s, table, Int.MaxValue)
        if (snap.columns.isEmpty) empty else snap
      }
    res.filter(!(col("event_type") <=> lit(FlushType)))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Streaming FROM the lakehouse (the twelfth streaming query): the
    * events feed lands in a [[graft.sources.SnapshotTable]] as three
    * append versions, then a `readStream` over the TABLE
    * ([[graft.sources.SnapshotSourceProvider]] — offsets are version
    * numbers, each batch plans exactly the delta files from manifest
    * metadata) aggregates per-type counts per micro-batch and lands
    * them exactly-once in a result table via idempotent txn commits;
    * the declared result re-sums the partials. The oracle is the plain
    * per-type count over the raw events — agreement proves no version's
    * rows were dropped, duplicated, or double-fed through the
    * source→sink round trip. */
  def streamSnapshotSource(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_ssrcq_")
    outDirs.add(root)
    val src = root.resolve("src").toString
    val res = root.resolve("res").toString
    val ckpt = Files.createTempDirectory("graft_ssrcq_ck_")
    val ev = graft.Tables.events(s, d).select(col("event_type"), col("user_id"))
    // three append versions: an ingest feed (null user ids ride slice 0)
    (0 until 3).foreach { k =>
      graft.sources.SnapshotTable.commit(s, src,
        ev.filter(coalesce(pmod(col("user_id"), lit(3)), lit(0)) === k),
        overwrite = false)
    }
    try {
      val q = s.readStream
        .format("graft.sources.SnapshotSourceProvider")
        .option("path", src).load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            graft.sources.SnapshotTable.commitIdempotent(
              batch.sparkSession, res,
              batch.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
              overwrite = false,
              txnId = graft.sources.SnapshotTable.writerIdFor(ckpt.toString),
              txnVersion = id)
            ()
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    if (graft.sources.SnapshotTable.versions(s, res).isEmpty)
      return ev.filter(lit(false)).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    graft.sources.SnapshotTable.readAsOf(s, res, Int.MaxValue)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** Streaming the lakehouse CHANGE FEED: the events feed lands in a
    * snapshot table through a MIXED history — two append slices, a
    * selective UPDATE (view rows get re-attributed user ids — a full
    * file rewrite), then a merge-on-read DELETE of every click
    * (deletion vectors, no rewrite) — and `readStream(changeFeed=true)`
    * consumes each commit's row-level changes exactly once, landed via
    * idempotent txn commits. One AvailableNow batch spans the whole
    * history, yet every change row still carries ITS OWN commit's
    * version — the per-commit tiling lives in the source's change
    * range (`SnapshotTable.ChangeRange.tiles`, served by
    * [[graft.sources.SnapshotTable.streamChangeBatch]]), not in
    * trigger pacing (which `SnapshotStreamSpec` covers separately via
    * `maxVersionsPerTrigger`). This is the standing incremental
    * pipeline shape: the MV machinery's batch cursor
    * ([[graft.sources.SnapshotTable.followChanges]]) replaced by a
    * checkpointed stream. The declared result counts change rows per
    * (commit_version, change_type, event_type); the oracle replays
    * the same history in closed form over the raw events — an append
    * slice emitted twice, a missed update delta, or a dropped delete
    * row each skews exactly one group. */
  def streamCdf(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_scdf_")
    outDirs.add(root)
    val src = root.resolve("src").toString
    val res = root.resolve("res").toString
    val ckpt = Files.createTempDirectory("graft_scdf_ck_")
    val ev = graft.Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("user_id"))
    (0 until 2).foreach { k => // v1/v2: append slices by event-id parity
      graft.sources.SnapshotTable.commit(s, src,
        ev.filter(pmod(coalesce(col("event_id"), lit(0L)), lit(2)) === k),
        overwrite = false)
    }
    // v3: UPDATE rewrites every file holding a view row; the feed's
    // multiset diff must net out to exactly the view rows, both ways
    graft.sources.SnapshotTable.updateWhere(s, src,
      col("event_type") === "view",
      Map("user_id" -> (coalesce(col("user_id"), lit(0L)) + lit(1000000L))))
    // v4: MOR delete — same files, new deletion vectors
    graft.sources.SnapshotTable.deleteWhere(s, src,
      col("event_type") === "click")
    try {
      val q = s.readStream
        .format("graft.sources.SnapshotSourceProvider")
        .option("path", src)
        .option("changeFeed", "true")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            graft.sources.SnapshotTable.commitIdempotent(
              batch.sparkSession, res,
              batch.groupBy(col("_commit_version"), col("change_type"),
                col("event_type")).agg(count(lit(1)).as("n_part")),
              overwrite = false,
              txnId = graft.sources.SnapshotTable.writerIdFor(ckpt.toString),
              txnVersion = id)
            ()
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    if (graft.sources.SnapshotTable.versions(s, res).isEmpty)
      return ev.filter(lit(false)).select(
        lit(0L).as("commit_version"), lit("i").as("change_type"),
        col("event_type"), lit(0L).as("n"))
    graft.sources.SnapshotTable.readAsOf(s, res, Int.MaxValue)
      .groupBy(col("_commit_version").as("commit_version"),
        col("change_type"), col("event_type"))
      .agg(sum(col("n_part")).as("n"))
      .orderBy(col("commit_version"), col("change_type"), col("event_type"))
  }

  /** CDF UPDATE PAIRING end to end: a keyed UPDATE history — one
    * append, then two `updateWhere` commits re-attributing view and
    * click user ids — streamed through the change feed. Because every
    * commit records its KIND in the manifest and the stream tiles
    * per commit, each UPDATE's diff legs arrive PAIRED as
    * `update_preimage` / `update_postimage` (Delta's CDF convention)
    * instead of an unkeyed delete+insert, so a downstream merge
    * consumer can key the two sides of the update. The declared
    * result counts rows AND sums the user ids per (commit_version,
    * change_type, event_type) — the uid sums are what catch a tag
    * swap (pre and post images have identical counts but differ by
    * exactly the re-attribution delta); the oracle restates the
    * whole history in closed form. */
  def streamCdfUpdates(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_scdfu_")
    outDirs.add(root)
    val src = root.resolve("src").toString
    val res = root.resolve("res").toString
    val ckpt = Files.createTempDirectory("graft_scdfu_ck_")
    val ev = graft.Tables.events(s, d).filter(col("event_id").isNotNull)
      .select(col("event_id"),
        coalesce(col("event_type"), lit("unk")).as("etype"),
        coalesce(col("user_id"), lit(0L)).as("uid"))
    graft.sources.SnapshotTable.commit(s, src, ev, overwrite = false) // v1
    // v2/v3: two keyed UPDATEs — each relabels a type's user ids
    graft.sources.SnapshotTable.updateWhere(s, src,
      col("etype") === "view", Map("uid" -> (col("uid") + lit(1000000L))))
    graft.sources.SnapshotTable.updateWhere(s, src,
      col("etype") === "click", Map("uid" -> (col("uid") + lit(5000000L))))
    try {
      val q = s.readStream
        .format("graft.sources.SnapshotSourceProvider")
        .option("path", src)
        .option("changeFeed", "true")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            graft.sources.SnapshotTable.commitIdempotent(
              batch.sparkSession, res,
              batch.groupBy(col("_commit_version"), col("change_type"),
                col("etype"))
                .agg(count(lit(1)).as("n_part"),
                  sum(col("uid")).as("su_part")),
              overwrite = false,
              txnId = graft.sources.SnapshotTable.writerIdFor(ckpt.toString),
              txnVersion = id)
            ()
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    if (graft.sources.SnapshotTable.versions(s, res).isEmpty)
      return ev.filter(lit(false)).select(
        lit(0L).as("commit_version"), lit("i").as("change_type"),
        col("etype"), lit(0L).as("n"), lit(0L).as("sum_uid"))
    graft.sources.SnapshotTable.readAsOf(s, res, Int.MaxValue)
      .groupBy(col("_commit_version").as("commit_version"),
        col("change_type"), col("etype"))
      .agg(sum(col("n_part")).as("n"), sum(col("su_part")).as("sum_uid"))
      .filter(col("n") > 0)
      .orderBy(col("commit_version"), col("change_type"), col("etype"))
  }

  /** Hive-PARTITIONED lakehouse sink: the events feed (three source
    * versions, re-streamed from a snapshot table) lands each
    * micro-batch in a result table partitioned by `event_type`
    * ([[graft.sources.SnapshotTable.commitPartitionedIdempotent]] —
    * hive directories per batch, exactly-once by checkpoint-derived
    * writer + batch-id watermark), with in-stream maintenance every
    * 2nd batch (per-partition compaction + vacuum) so the per-type
    * small-file tail stays packed over an unbounded stream. The
    * declared result re-counts per type from the FINAL table — a file
    * filed under the wrong partition directory, a batch landed twice
    * across the compact/vacuum cycles, or a row lost to the per-
    * partition repack would each skew exactly one group vs the raw
    * oracle. The production shape for event feeds: consumers prune by
    * `event_type = v` at the directory level. */
  def streamPartitionedSink(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_spsk_")
    outDirs.add(root)
    val src = root.resolve("src").toString
    val res = root.resolve("res").toString
    val ckpt = Files.createTempDirectory("graft_spsk_ck_")
    val ev = graft.Tables.events(s, d).select(col("event_type"), col("user_id"))
    (0 until 3).foreach { k =>
      graft.sources.SnapshotTable.commit(s, src,
        ev.filter(coalesce(pmod(col("user_id"), lit(3)), lit(0)) === k),
        overwrite = false)
    }
    try {
      val q = s.readStream
        .format("graft.sources.SnapshotSourceProvider")
        .option("path", src).load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            graft.sources.SnapshotTable.commitPartitionedIdempotent(
              batch.sparkSession, res, batch.toDF(), "event_type",
              txnId = graft.sources.SnapshotTable.writerIdFor(ckpt.toString),
              txnVersion = id)
            if (id % 2 == 1) {
              graft.sources.SnapshotTable.compact(batch.sparkSession, res,
                smallFileBytes = 8L << 20, targetFileBytes = 128L << 20)
              graft.sources.SnapshotTable.vacuum(batch.sparkSession, res,
                keepVersions = 4)
            }
            ()
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    if (graft.sources.SnapshotTable.versions(s, res).isEmpty)
      return ev.filter(lit(false)).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    graft.sources.SnapshotTable.readAsOf(s, res, Int.MaxValue)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** CDC-upsert lakehouse sink (the thirteenth streaming query): the
    * events feed arrives as three append versions of a source snapshot
    * table (sliced by event id — every user's events SPAN versions), is
    * re-streamed from it, and each micro-batch CDC-applies into a
    * result table via [[graft.sources.SnapshotTable.mergeLatest]] —
    * keyed by user, ordered by (ts, event_id), batch id as transaction
    * id. That is the materialized current-state-per-key view every CDC
    * consumer maintains, with BOTH halves of its contract live:
    * exactly-once (a crash-replayed batch is recognized by txn and
    * skipped) and order-proof (only strictly-newer rows apply, so the
    * final state is the global last event per user REGARDLESS of how
    * the feed was sliced into batches). The oracle states that closed
    * form over the raw events. */
  def streamUpsertSink(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_supsq_")
    outDirs.add(root)
    val src = root.resolve("src").toString
    val res = root.resolve("res").toString
    val ckpt = Files.createTempDirectory("graft_supsq_ck_")
    val ev = graft.Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull &&
        !isnan(col("value")) &&
        abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
    (0 until 3).foreach { k =>
      graft.sources.SnapshotTable.commit(s, src,
        ev.filter(pmod(col("event_id"), lit(3)) === k), overwrite = false)
    }
    try {
      val q = s.readStream
        .format("graft.sources.SnapshotSourceProvider")
        .option("path", src).load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            graft.sources.SnapshotTable.mergeLatest(
              batch.sparkSession, res, batch.toDF(), "user_id",
              orderCols = Seq("ts", "event_id"),
              txnId = Some(
                graft.sources.SnapshotTable.writerIdFor(ckpt.toString)),
              txnVersion = id)
            ()
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
    if (graft.sources.SnapshotTable.versions(s, res).isEmpty)
      return ev.filter(lit(false))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("v_c").as("last_v_c"))
    graft.sources.SnapshotTable.readAsOf(s, res, Int.MaxValue)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("v_c").as("last_v_c"))
      .orderBy(col("user_id"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_upsert_sink" -> streamUpsertSink,
    "stream_partitioned_sink" -> streamPartitionedSink,
    "stream_snapshot_source" -> streamSnapshotSource,
    "stream_snapshot_sink" -> streamSnapshotSink,
    "stream_cdf" -> streamCdf,
    "stream_cdf_updates" -> streamCdfUpdates,
    "stream_dedup_gate" -> streamDedupGate,
    "stream_record_highs" -> streamRecordHighs,
    "stream_enrich_abovemean" -> streamEnrichAboveMean,
    "stream_dedup_windows" -> streamDedupWindows,
    "stream_topk_users" -> streamTopkUsers,
    "stream_tumbling" -> streamTumbling,
    "stream_kmv_distinct" -> streamKmvDistinct,
    "stream_sliding" -> streamSliding,
    "stream_session" -> streamSession,
    "stream_fmgws_session" -> streamFmgwsSession,
    "stream_dedup" -> streamDedup,
    "stream_join" -> streamStreamInterval,
    "stream_left_outer_join" -> streamLeftOuterInterval,
    "stream_full_outer_join" -> streamFullOuterInterval,
    "stream_right_outer_join" -> streamRightOuterInterval,
  )

  // Every oracle mirrors the engine's event-time ingress contract
  // (`ts IS NOT NULL`; identity for sessionization; NaN/Inf measures
  // enter sums as NULL) AND its reserved-sentinel-key scrub
  // (event_type '__flush__' / user_id -1, null-safely) so the SQL
  // states the same semantics the engine declares — on well-formed
  // corpora every guard is a no-op.
  override val oracle: Map[String, String] = Map(
    // the gate probes a FIXED standing corpus, so the accepted set is a
    // pure function of the arrival SET — batch slicing cannot move it;
    // exact shingle Jaccard >= 0.6 restated over the same odd/even split
    "stream_dedup_gate" ->
      """WITH ev AS (SELECT doc_id, text, coalesce(n_chars, 0) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |corpus AS (SELECT * FROM ev WHERE doc_id % 2 = 0),
        |arriving AS (
        |  SELECT doc_id, text, nc FROM ev WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000000001, text, nc FROM corpus
        |  WHERE doc_id % 34 = 0),
        |tkb AS (SELECT doc_id, string_split(text, ' ') AS toks FROM arriving),
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
        |      FROM tb b JOIN tc c ON b.token = c.token GROUP BY 1, 2),
        |matched AS (SELECT DISTINCT i.batch_id FROM i
        |  JOIN szb sb ON sb.doc_id = i.batch_id
        |  JOIN szc sc ON sc.doc_id = i.corpus_id
        |  WHERE CAST(inter AS DOUBLE) / (sb.sz + sc.sz - inter) >= 0.6)
        |SELECT a.doc_id, CAST(a.nc AS BIGINT) AS n_chars_v
        |FROM arriving a LEFT JOIN matched m ON m.batch_id = a.doc_id
        |WHERE m.batch_id IS NULL
        |ORDER BY a.doc_id""".stripMargin,
    // the CDC-applied current state must equal the global last event
    // per user, however the feed was batched — the mergeLatest contract
    // in closed form (same ingress guards as the engine; (ts, event_id)
    // is the total event order, event ids being unique)
    "stream_upsert_sink" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |r AS (SELECT user_id, event_id, v_c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e)
        |SELECT user_id, event_id AS last_event_id, v_c AS last_v_c
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the source->sink round trip must conserve every event exactly once
    "stream_snapshot_source" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // closed-form replay of the mixed history the query commits:
    // v1/v2 appends by event-id parity, v3 rewrites every view row —
    // arriving as PAIRED update images (the per-commit kind stamp) —
    // v4 MOR-deletes every click
    "stream_cdf" ->
      """WITH ev AS (SELECT event_id, event_type FROM events)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS commit_version,
        |         'insert' AS change_type, event_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM ev WHERE coalesce(event_id, 0) % 2 = 0 GROUP BY event_type
        |  UNION ALL
        |  SELECT 2, 'insert', event_type, count(*)
        |  FROM ev WHERE coalesce(event_id, 0) % 2 = 1 GROUP BY event_type
        |  UNION ALL
        |  SELECT 3, 'update_preimage', event_type, count(*)
        |  FROM ev WHERE event_type = 'view' GROUP BY event_type
        |  UNION ALL
        |  SELECT 3, 'update_postimage', event_type, count(*)
        |  FROM ev WHERE event_type = 'view' GROUP BY event_type
        |  UNION ALL
        |  SELECT 4, 'delete', event_type, count(*)
        |  FROM ev WHERE event_type = 'click' GROUP BY event_type)
        |ORDER BY commit_version, change_type, event_type""".stripMargin,
    // the keyed-UPDATE history in closed form: v1 inserts everything;
    // v2/v3 each emit a preimage at the pre-update uid and a postimage
    // at the re-attributed uid — counts match pairwise, the uid sums
    // differ by exactly n * delta (what catches a tag swap)
    "stream_cdf_updates" ->
      """WITH ev AS (SELECT event_id,
        |    coalesce(event_type, 'unk') AS etype,
        |    coalesce(user_id, 0) AS uid
        |  FROM events WHERE event_id IS NOT NULL)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS commit_version,
        |         'insert' AS change_type, etype,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(uid) AS BIGINT) AS sum_uid
        |  FROM ev GROUP BY etype
        |  UNION ALL
        |  SELECT 2, 'update_preimage', etype,
        |         CAST(count(*) AS BIGINT), CAST(sum(uid) AS BIGINT)
        |  FROM ev WHERE etype = 'view' GROUP BY etype
        |  UNION ALL
        |  SELECT 2, 'update_postimage', etype,
        |         CAST(count(*) AS BIGINT),
        |         CAST(sum(uid + 1000000) AS BIGINT)
        |  FROM ev WHERE etype = 'view' GROUP BY etype
        |  UNION ALL
        |  SELECT 3, 'update_preimage', etype,
        |         CAST(count(*) AS BIGINT), CAST(sum(uid) AS BIGINT)
        |  FROM ev WHERE etype = 'click' GROUP BY etype
        |  UNION ALL
        |  SELECT 3, 'update_postimage', etype,
        |         CAST(count(*) AS BIGINT),
        |         CAST(sum(uid + 5000000) AS BIGINT)
        |  FROM ev WHERE etype = 'click' GROUP BY etype)
        |WHERE n > 0
        |ORDER BY commit_version, change_type, etype""".stripMargin,
    // identical closed form: the partitioned sink conserves every event
    // exactly once through slicing, hive-partitioned landing, and the
    // in-stream compact/vacuum cycles
    "stream_partitioned_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // identical relation to stream_tumbling — the lakehouse sink must
    // land exactly what the file sink lands
    "stream_snapshot_sink" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        | count(*) AS n,
        | round(sum(CASE WHEN isnan(value) OR isinf(value) THEN NULL
        |                ELSE value END), 2) AS sum_value
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS DISTINCT FROM '__flush__'
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // ordered-window replay of the stateful fold: a row is a record iff
    // it beats the running max over (ts, event_id) order
    "stream_record_highs" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS vm
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND value IS NOT NULL AND isfinite(value)),
        |r AS (SELECT user_id, vm,
        |    max(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM e)
        |SELECT user_id,
        |  CAST(count(*) FILTER (WHERE pm IS NULL OR vm > pm) AS BIGINT)
        |    AS n_records,
        |  CAST(max(vm) AS BIGINT) AS max_micro
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_topk_users" ->
      """WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    user_id
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND user_id <> -1),
        |c AS (SELECT hour, user_id, CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2),
        |r AS (SELECT hour, user_id, n,
        |    row_number() OVER (PARTITION BY hour ORDER BY n DESC, user_id)
        |      AS rank
        |  FROM c)
        |SELECT hour, user_id, n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY hour, rank""".stripMargin,
    // the oracle replays the KMV sketch itself (md5 bottom-64 per hour
    // window) — the streamed ESTIMATE is deterministic and hash-exact
    "stream_kmv_distinct" ->
      """WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    user_id
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |    AND event_type IS DISTINCT FROM '__flush__'),
        |n AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_events FROM e
        |  GROUP BY hour),
        |h AS (SELECT DISTINCT hour,
        |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h FROM e),
        |sk AS (SELECT hour, h FROM (SELECT hour, h,
        |    row_number() OVER (PARTITION BY hour ORDER BY h) AS r FROM h)
        |  WHERE r <= 64),
        |st AS (SELECT hour, count(*) AS n_sk, max(h) AS hk FROM sk
        |  GROUP BY hour)
        |SELECT n.hour, n.n_events,
        |  round(CASE WHEN st.n_sk < 64 THEN CAST(st.n_sk AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 / CAST(st.hk AS DOUBLE) END, 4)
        |    AS est_distinct
        |FROM n JOIN st ON st.hour = n.hour
        |ORDER BY n.hour""".stripMargin,
    "stream_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        | count(*) AS n,
        | round(sum(CASE WHEN isnan(value) OR isinf(value) THEN NULL
        |                ELSE value END), 2) AS sum_value
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS DISTINCT FROM '__flush__'
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "stream_enrich_abovemean" ->
      """WITH s AS (SELECT event_type,
        |    CAST(sum(CASE WHEN value IS NOT NULL AND isfinite(value)
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS m_cnt,
        |    CAST(coalesce(sum(CASE WHEN value IS NOT NULL AND isfinite(value)
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS m_sum
        |  FROM events WHERE event_type IS NOT NULL GROUP BY event_type),
        |e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |    event_type,
        |    CASE WHEN value IS NOT NULL AND isfinite(value)
        |         THEN CAST(round(value * 100) AS BIGINT) END AS x_c
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL)
        |SELECT e.hour, e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN x_c * m_cnt > m_sum THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above
        |FROM e JOIN s USING (event_type)
        |GROUP BY e.hour, e.event_type ORDER BY hour, event_type""".stripMargin,
    // identical to stream_tumbling BY DESIGN: the chained dedup must make
    // the union-doubling invisible to the windowed aggregate
    "stream_dedup_windows" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        | count(*) AS n,
        | round(sum(CASE WHEN isnan(value) OR isinf(value) THEN NULL
        |                ELSE value END), 2) AS sum_value
        |FROM events
        |WHERE ts IS NOT NULL AND event_type IS DISTINCT FROM '__flush__'
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "stream_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type FROM events
        |           WHERE ts IS NOT NULL
        |             AND event_type IS DISTINCT FROM '__flush__'),
        |w AS (SELECT time_bucket(INTERVAL 15 MINUTE, t)
        |        - k * (INTERVAL 15 MINUTE) AS w_start, event_type
        |      FROM e, unnest([0, 1, 2, 3]) AS u(k))
        |SELECT w_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |           WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |             AND user_id <> -1),
        |g AS (SELECT user_id, t,
        |  epoch_us(t) - epoch_us(lag(t,1) OVER (PARTITION BY user_id ORDER BY t)) AS gap
        |  FROM e),
        |f AS (SELECT user_id, t,
        |  sum(CASE WHEN gap IS NULL OR gap >= 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT min(t) AS sess_start, max(t) + INTERVAL 30 MINUTE AS sess_end,
        | user_id, count(*) AS n_events
        |FROM f GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,
    "stream_dedup" ->
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        | value
        |FROM events WHERE ts IS NOT NULL ORDER BY event_id""".stripMargin,
    "stream_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |c AS (SELECT event_id AS c_id, user_id AS c_user,
        |    CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL)
        |SELECT p_id, p_user, c_id,
        | epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
        |FROM p JOIN c ON p_user = c_user
        | AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts
        |ORDER BY p_id, c_id""".stripMargin,
    // the outer half: every purchase exactly once, NULLs where no
    // click preceded — the watermark-final unmatched emission in
    // closed form
    "stream_left_outer_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |c AS (SELECT event_id AS c_id, user_id AS c_user,
        |    CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL)
        |SELECT p_id, p_user, c_id,
        | epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
        |FROM p LEFT JOIN c ON p_user = c_user
        | AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts
        |ORDER BY p_id, c_id""".stripMargin,
    // BOTH outer halves: every purchase once (null click side where
    // none preceded) and every click once (null purchase side where
    // none followed)
    "stream_full_outer_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |c AS (SELECT event_id AS c_id, user_id AS c_user,
        |    CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL)
        |SELECT p_id, p_user, c_id, c_user,
        | epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
        |FROM p FULL JOIN c ON p_user = c_user
        | AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts
        |ORDER BY p_id, c_id""".stripMargin,
    // the remaining outer half: every click once, NULL purchase side
    // where none followed within the hour
    "stream_right_outer_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |c AS (SELECT event_id AS c_id, user_id AS c_user,
        |    CAST(ts AS TIMESTAMP) AS c_ts
        |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL)
        |SELECT p_id, c_id, c_user,
        | epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
        |FROM p RIGHT JOIN c ON p_user = c_user
        | AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts
        |ORDER BY p_id, c_id""".stripMargin,
    "stream_fmgws_session" ->
      """WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t FROM events
        |           WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |             AND user_id <> -1),
        |g AS (SELECT user_id, t,
        |  t - lag(t,1) OVER (PARTITION BY user_id ORDER BY t) AS gap
        |  FROM e),
        |f AS (SELECT user_id, t,
        |  sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(t) AS start_ms, max(t) AS end_ms,
        | count(*) AS n_events
        |FROM f GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,
  )
}
