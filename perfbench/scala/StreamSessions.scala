package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.streaming.StreamingOps

/** `stream_sessions`: one long-running query, started in set-up and kept
  * warm, runs `StreamingOps.dedupThenTumbling` (event-id dedup within the
  * watermark, then hourly windows with watermark eviction) over a JSON
  * file source into `StreamingOps.writeBatchIdempotent`. One op lands
  * one fixed-size event batch whose event time advances, then waits in
  * `processAllAvailable()`. No-data micro-batches are off, so each op is
  * exactly one micro-batch. The query's time per batch keeps falling
  * over its first batches, so the warm-up batches go to the measured
  * query itself, after its set-up; the check covers them too. */
object StreamSessions extends Workload {
  val EventsPerBatch = 1000
  val DupsPerBatch = 50
  val LatePerBatch = 10
  def ops(seconds: Int): Int = math.max(4, seconds * 22 / 15)
  def warmup: Seq[Int] = 0 until 8
  override def warmsMeasuredState: Boolean = true
  override def confs: Map[String, String] = Map(
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  val schema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  def generate(ctx: Ctx, dir: String, nOps: Int): (() => Instance, String) = {
    val dg = new Gen.Digest
    val batches = (0 until nOps + StreamInstance.FlushBatches).map { b =>
      val evs = Gen.events(ctx.seed, b, EventsPerBatch, DupsPerBatch, LatePerBatch)
      evs.foreach(e => dg.add(e.productIterator.toSeq: _*))
      (evs, jsonLines(evs))
    }
    (() => new StreamInstance(ctx, dir, batches), dg.hex)
  }

  /** The file source's input: one JSON object per event. */
  def jsonLines(evs: Seq[Gen.Ev]): Array[Byte] = evs.map(e => Json.obj(Seq(
    "event_id" -> e.eventId,
    "ts" -> java.time.Instant.ofEpochSecond(0, e.tsMicros * 1000).toString,
    "user_id" -> e.userId, "event_type" -> e.eventType, "value" -> e.value)))
    .mkString("", "\n", "\n").getBytes("UTF-8")
}

object StreamInstance {
  /** Trailing batches, far ahead in event time, that advance the
    * watermark past every real window so the check sees them all. */
  val FlushBatches = 3
}

final class StreamInstance(ctx: Ctx, dir: String,
    batches: IndexedSeq[(IndexedSeq[Gen.Ev], Array[Byte])]) extends Instance {
  import StreamSessions._
  private val s = ctx.spark
  private val t = ctx.trace
  private val inDir = java.nio.file.Paths.get(s"$dir/in")
  java.nio.file.Files.createDirectories(inDir)
  private val sinkDir = s"$dir/sink"
  private var landed = 0
  private val query: StreamingQuery = {
    val events = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .json(inDir.toString)
    StreamingOps.dedupThenTumbling(events).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch((batch: Dataset[Row], id: Long) =>
        StreamingOps.writeBatchIdempotent(batch.toDF(), id, sinkDir))
      .start()
  }

  private def land(b: Int): Unit = {
    // write then rename, so the source never lists a partial file
    val tmp = java.nio.file.Paths.get(s"$dir/batch$b.tmp")
    java.nio.file.Files.write(tmp, batches(b)._2)
    java.nio.file.Files.move(tmp, inDir.resolve(f"batch$b%05d.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    landed = b + 1
  }

  /** Lands the next batch (warm-up and measured ops share one feed). */
  def op(i: Int): Unit = {
    land(landed)
    t.span("streaming", "process_all_available")(query.processAllAvailable())
  }

  override def close(): Unit = query.stop()

  override def layerMetrics(): Map[String, Double] = {
    val ps = query.recentProgress.toSeq.takeRight(t.opIntervals.size)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val n = math.max(1, ps.size)
    val last = ps.lastOption
    Map(
      "streaming.batch_ms" -> LayerReport.median(ps.map(dur(_, "triggerExecution"))),
      "streaming.query_planning_ms" -> ps.map(dur(_, "queryPlanning")).sum / n,
      "streaming.wal_commit_ms" -> ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / n,
      "streaming.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "streaming.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_mb" ->
        last.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0).getOrElse(0.0),
      "streaming.rows_dropped_by_watermark" ->
        ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum)
  }

  /** Flushes the watermark, then compares the sink with the same
    * operators applied in batch to every event landed so far: dedup by
    * event id, hourly windows, minus the events the watermark drops (the
    * planted late events from the third batch on: the first batch runs
    * without a watermark and the second under the initial one). */
  def check(): Seq[String] = {
    val real = landed
    (real until real + StreamInstance.FlushBatches).foreach { b =>
      val far = batches(b)._1.map(e => e.copy(tsMicros = e.tsMicros + 1000L * 3600 * 1000000))
      val tmp = java.nio.file.Paths.get(s"$dir/flush$b.tmp")
      java.nio.file.Files.write(tmp, jsonLines(far))
      java.nio.file.Files.move(tmp, inDir.resolve(f"batch$b%05d.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }
    val farStart = Gen.T0Micros + 900L * 3600 * 1000000 // below every flush event
    val kept = (0 until real).flatMap { b =>
      val evs = batches(b)._1
      if (b < 2) evs else evs.dropRight(LatePerBatch)
    }
    val seen = mutable.HashSet.empty[Long]
    val dedup = kept.filter(e => seen.add(e.eventId))
    val hour = 3600L * 1000000
    val want = dedup.groupBy(e => (e.tsMicros - Math.floorMod(e.tsMicros, hour), e.eventType))
      .map { case (k, es) => k -> (es.size.toLong, BigDecimal(es.map(_.value).sum)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val got = s.read.parquet(sinkDir).collect().map { r =>
      val h = r.getAs[java.sql.Timestamp]("hour")
      ((h.getTime * 1000, r.getAs[String]("event_type")),
        (r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    }.filter(_._1._1 < farStart)
    val gotMap = got.toMap
    val errs = mutable.ArrayBuffer.empty[String]
    if (gotMap.size != got.length) errs += "a window was emitted twice"
    val counts = gotMap.map { case (k, v) => k -> v._1 }
    if (counts != want.map { case (k, v) => k -> v._1 })
      errs += s"sink windows/counts differ from the batch reference (${gotMap.size} vs ${want.size}): " +
        (counts.toSet diff want.map { case (k, v) => k -> v._1 }.toSet).take(3).mkString(", ") + " / " +
        (want.map { case (k, v) => k -> v._1 }.toSet diff counts.toSet).take(3).mkString(", ")
    else if (gotMap.exists { case (k, v) => math.abs(v._2 - want(k)._2) > 0.011 })
      errs += "sink sums differ from the batch reference"
    errs.toSeq
  }
}
