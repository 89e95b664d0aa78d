package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** `spark.readStream` over a [[SnapshotTable]] — the lakehouse-as-source
  * contract (Delta's `readStream` shape): offsets ARE version numbers,
  * each micro-batch is exactly the rows ADDED between two versions
  * (zero planning compute on append chains — the batch plan reads only
  * the delta files, straight from manifest metadata), restart resumes
  * from the checkpointed version, and exactly-once composes end to end
  * with the idempotent sink. A rewrite under the stream (overwrite /
  * merge / compaction) breaks append semantics and FAILS the query
  * unless `ignoreChanges=true`, which streams new/rewritten files and
  * may re-emit rewritten survivors (the documented Delta contract),
  * never a row deleted in between.
  *
  * The provider is also the table format's STANDARD batch doorway —
  * the full DataFrame reader/writer API works against it:
  * {{{
  * // batch read, optionally time-traveled
  * spark.read.format("graft.sources.SnapshotSourceProvider")
  *   .option("path", tableDir)
  *   .option("versionAsOf", "3")         // optional time travel
  *   .load()
  * // batch write: every mode is ONE atomic snapshot commit
  * df.write.format("graft.sources.SnapshotSourceProvider")
  *   .mode("append")                      // or "overwrite"
  *   .option("path", tableDir).save()
  * // streaming read
  * spark.readStream
  *   .format("graft.sources.SnapshotSourceProvider")
  *   .option("path", tableDir)           // required
  *   .option("ignoreChanges", "true")    // optional
  *   .load()
  * // streaming CHANGE FEED: row-level changes of every commit —
  * // appends, DELETE, UPDATE, MERGE — tagged change_type +
  * // _commit_version (the Delta CDF readStream shape); rewrites
  * // never fail the query, they ARE the feed
  * spark.readStream
  *   .format("graft.sources.SnapshotSourceProvider")
  *   .option("path", tableDir)
  *   .option("changeFeed", "true")
  *   .option("startingVersion", "3")  // optional: serve commits >= 3
  *   .load()                          // ("latest" = only new commits;
  *                                    //  startingTimestamp <millis> is
  *                                    //  the stamp-resolved twin)
  * // plain SQL: register a name over the directory; SELECTs resolve
  * // through the same manifest-planned relation (zone maps, buckets,
  * // deletion-vector refusal), REFRESH TABLE picks up later commits,
  * // and a versionAsOf option pins a time-traveled definition
  * spark.sql("CREATE TABLE snap USING `graft.sources.SnapshotSourceProvider` " +
  *   "OPTIONS (path '/data/tbl')")
  * spark.sql("CREATE TABLE snap_v3 USING `graft.sources.SnapshotSourceProvider` " +
  *   "OPTIONS (path '/data/tbl', versionAsOf '3')")
  * }}}
  */
class SnapshotSourceProvider extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  /** Batch read: the manifest-planned relation (zero-RPC planning,
    * zone-map skipping, bucket partitioning), optionally time-traveled
    * via `versionAsOf` (a version number) or `timestampAsOf` (epoch
    * millis, resolved against the recorded commit stamps — the greater
    * doorway twin of [[SnapshotTable.readAsOfTimestamp]]). */
  override def createRelation(ctx: SQLContext,
      params: Map[String, String]): BaseRelation = {
    val byVersion = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("versionAsOf") => v.toInt
    }
    val byStamp = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("timestampAsOf") => v.toLong
    }
    // `tag=<name>`: an immutable named pin ([[SnapshotTable.createTag]])
    // — the reproducibility doorway (vacuum never expires the pinned
    // version, so a tag read resolves forever)
    val byTag = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("tag") => v
    }
    require(Seq(byVersion, byStamp, byTag).count(_.isDefined) <= 1,
      "pass ONE of versionAsOf / timestampAsOf / tag")
    val t = path(params)
    val asOf = (byStamp, byTag) match {
      case (Some(ts), _) =>
        val vs = SnapshotTable.versions(ctx.sparkSession, t)
        val qual = vs.filter(v => SnapshotTable.commitTimestamp(
          ctx.sparkSession, t, v).getOrElse(0L) <= ts)
        require(qual.nonEmpty,
          s"no version of $t committed at or before $ts")
        qual.max
      case (None, Some(tag)) =>
        SnapshotTable.tagVersion(ctx.sparkSession, t, tag)
      case _ => byVersion.getOrElse(Int.MaxValue)
    }
    SnapshotTable.baseRelation(ctx.sparkSession, t, asOf)
  }

  /** Batch write: `Append`/`Overwrite` land as one atomic snapshot
    * commit each (every writer mode inherits the format's concurrency,
    * schema-evolution, and zone-map guarantees); `ErrorIfExists` and
    * `Ignore` honor the standard DataFrameWriter contract against the
    * table's published-version existence. */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      params: Map[String, String], data: DataFrame): BaseRelation = {
    val t = path(params)
    val exists = SnapshotTable.versions(ctx.sparkSession, t).nonEmpty
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"snapshot table $t already exists (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => // no-op by contract
      case m =>
        SnapshotTable.commit(ctx.sparkSession, t, data,
          overwrite = m == SaveMode.Overwrite)
    }
    createRelation(ctx, params)
  }

  private def path(params: Map[String, String]): String =
    params.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-snapshot source requires option 'path' (the table directory)"))

  private def changeFeedOpt(params: Map[String, String]): Boolean =
    params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("changeFeed") ||
        k.equalsIgnoreCase("readChangeFeed") => v.toBoolean
    }.getOrElse(false)

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, params: Map[String, String]): (String, StructType) = {
    val base = schema.orElse(
      SnapshotTable.tableSchema(ctx.sparkSession, path(params)))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-snapshot source: no published schema at ${path(params)} — " +
          "commit a first version (or pass a schema) before streaming"))
    (shortName(),
      if (changeFeedOpt(params)) SnapshotStreamSource.cdfSchema(base)
      else base)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      params: Map[String, String]): Source = {
    val ignoreChanges = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("ignoreChanges") => v.toBoolean
    }.getOrElse(false)
    val maxVersions = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxVersionsPerTrigger") => v.toInt
    }
    // startingVersion (the Delta readStream option): a FRESH stream
    // serves commits >= this version instead of backfilling from
    // genesis — the clone-then-stream bootstrap pattern (mirror a
    // snapshot by CLONE, then follow from the clone point). A
    // checkpointed restart ignores it (the offset wins). "latest"
    // serves only commits published after the stream starts.
    val startingVersion = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingVersion") =>
        if (v.equalsIgnoreCase("latest")) -1
        else {
          require(v.toInt >= 1,
            s"startingVersion must be >= 1 or 'latest' (got $v)")
          v.toInt
        }
    }
    // startingTimestamp (Delta's sibling option): the first commit
    // stamped AT or AFTER the given epoch-millis serves — resolved
    // against the recorded commit stamps at source creation, then it
    // IS a startingVersion. A stamp past every commit behaves like
    // "latest" (only new commits serve).
    val startingStamp = params.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingTimestamp") => v.toLong
    }.map { ts =>
      val t = path(params)
      val vs = SnapshotTable.versions(ctx.sparkSession, t)
      vs.find(v => SnapshotTable.commitTimestamp(ctx.sparkSession, t, v)
        .exists(_ >= ts)).getOrElse(-1) // past every commit: "latest"
    }
    require(startingVersion.isEmpty || startingStamp.isEmpty,
      "pass ONE of startingVersion / startingTimestamp")
    new SnapshotStreamSource(ctx, path(params),
      sourceSchema(ctx, schema, providerName, params)._2, ignoreChanges,
      maxVersions, changeFeed = changeFeedOpt(params),
      startingVersion = startingVersion.orElse(startingStamp))
  }
}

/** The V1 source: version-numbered offsets over the snapshot table,
  * with admission control (`maxVersionsPerTrigger` caps each batch's
  * version span — backfill over a long history proceeds in bounded
  * bites instead of one giant batch) and real `Trigger.AvailableNow`
  * support (the end version is pinned at trigger start, so the run
  * drains exactly what existed and stops) — the `FileStreamSource`
  * integration pattern. */
class SnapshotStreamSource(ctx: SQLContext, tableDir: String,
    override val schema: StructType, ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Int] = None,
    changeFeed: Boolean = false,
    startingVersion: Option[Int] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit, ReadMaxFiles}

  @volatile private var availableNowCap: Option[Int] = None

  /** The fresh-stream baseline: 0 (genesis backfill) without the
    * option, `startingVersion - 1` with it (commits >= the named
    * version serve), the latest version published at source creation
    * for "latest" (-1 sentinel — only NEW commits serve). Checkpointed
    * restarts never consult this: the recovered offset wins, exactly
    * Delta's startingVersion contract. An expired baseline refuses at
    * the first batch with the change-feed's own vacuumed-range error. */
  private val startFloor: Int = startingVersion match {
    case None => 0
    case Some(-1) => latestPublished
    case Some(n) => n - 1
  }

  // an offset restored from the checkpoint arrives as SerializedOffset
  // (raw json) — both forms carry the version number
  private def ver(o: AnyRef): Int = o match {
    case null => startFloor // fresh stream: the startingVersion floor
    case l: LongOffset => l.offset.toInt
    case v1: V1Offset => v1.json.trim.toInt
    case v2: V2Offset => v2.json.trim.toInt
  }

  private def latestPublished: Int =
    SnapshotTable.versions(ctx.sparkSession, tableDir).lastOption.getOrElse(0)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(latestPublished)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Admission-controlled end offset: the latest published version,
    * capped by the AvailableNow pin and by the per-trigger version
    * budget. Null when caught up (the contract for "no new batch"). */
  override def latestOffset(startOffset: V2Offset, limit: ReadLimit): V2Offset = {
    val start = ver(startOffset)
    val latest = availableNowCap.fold(latestPublished)(math.min(_, latestPublished))
    val end = limit match {
      case f: ReadMaxFiles => math.min(latest, start + f.maxFiles())
      case _ => latest
    }
    if (end <= start) null else LongOffset(end.toLong)
  }

  override def getOffset: Option[V1Offset] = { // plain-path fallback
    val latest = availableNowCap.fold(latestPublished)(math.min(_, latestPublished))
    if (latest <= startFloor) None else Some(LongOffset(latest.toLong))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val toV = ver(end)
    // fresh: the floor — capped at the end, since a restart re-runs its
    // last batch with the CURRENT floor option, which may lie above it
    // (the offset wins: that batch is empty, not a backwards range)
    val fromV = math.min(start.map(ver).getOrElse(startFloor), toV)
    // the change feed: every commit's row-level changes under its own
    // `_commit_version` (the Delta CDF streaming shape), one per-commit
    // tile each ([[SnapshotTable.streamChangeBatch]]) — a batch spanning
    // several commits still reports each one's own changes, and an
    // UPDATE commit's legs arrive as paired update images. Restart
    // replays `(fromV, toV]` deterministically from the checkpointed
    // version offset.
    val rel0 =
      if (changeFeed)
        SnapshotTable.streamChangeBatch(ctx.sparkSession, tableDir, fromV, toV)
      else SnapshotTable.streamBatch(ctx.sparkSession, tableDir,
        fromV, toV, ignoreChanges)
    val rel = align(rel0)
    // MicroBatchExecution requires an isStreaming plan; the shim is the
    // one blessed constructor for it
    org.apache.spark.sql.graft.GraftSqlShims.streamingDataFrame(
      ctx.sparkSession, rel.queryExecution.toRdd, rel.schema)
  }

  /** The stream's output schema is FIXED at start: columns the table
    * gained later read as NULL, columns it lost are NULL-filled —
    * evolution never changes a running query's shape. */
  private def align(rel0: DataFrame): DataFrame = {
    val cols = schema.fields.toSeq.map { f =>
      if (rel0.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    rel0.select(cols: _*)
  }

  override def stop(): Unit = ()
}

object SnapshotStreamSource {
  /** The change-feed output shape: the table's data columns plus the
    * change metadata pair. `change_type` matches the batch
    * [[SnapshotTable.readChanges]] tag; `_commit_version` is the
    * publishing version (the Delta CDF column convention). */
  def cdfSchema(base: StructType): StructType = {
    require(!base.fieldNames.contains("change_type") &&
      !base.fieldNames.contains("_commit_version"),
      "change-feed stream: the table already has a change_type/" +
        "_commit_version column — rename it before streaming the feed")
    StructType(base.fields :+
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType, nullable = true) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = true))
  }
}
