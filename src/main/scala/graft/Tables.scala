package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated star schema
  * (TESTDATA.md / FIXTURES.md §B). All queries take an `sfDir` so the
  * same plan runs at any scale factor — nothing is hard-coded to a SF.
  */
object Tables {
  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    s.read.schema(schemaOf(s, path)).parquet(path)
  }

  /** A table's schema, inferred once per data version: inference reads a
    * parquet footer in a one-task Spark job, which every read would pay
    * again. Keyed on the nanosAsLong setting too, since [[events]] flips
    * it and it changes the inferred type of a nanosecond timestamp. */
  private val schemas = new CacheRegistry.VersionedMemo[StructType]()

  private[graft] def schemaOf(s: SparkSession, path: String): StructType = {
    val nanos = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    schemas.getOrBuild(s, path, nanos)(s.read.parquet(path).schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read nanos as long (legacy conf) and convert to a
    * microsecond timestamp with integer division — the data carries no
    * sub-microsecond residue, so this is lossless and matches DuckDB's
    * `CAST(ts AS TIMESTAMP)` exactly. (A double-typed division here would
    * silently lose precision: 2024 epoch-nanos ≈ 1.7e18 > 2^53.) */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // TIMESTAMP_NTZ (what DuckDB/pandas-written corpora carry):
      // session TZ is pinned to UTC, so the cast is value-preserving —
      // and the streaming watermark operators accept only TIMESTAMP
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Repartition `df` by `key` ONLY when its scan yields fewer splits than
    * the session's parallelism. Interpreted higher-order projections
    * (n-gram zip_with chains) serialize onto one core when a small parquet
    * arrives as a single split (measured ~100 s/pass at sf0.1 vs ~2 s
    * resharded) — but an unconditional repartition would add a full-corpus
    * shuffle at real scale, where the scan already yields thousands of
    * splits and needs no help. `spark.graft.reshard=always|never` overrides
    * the split-count heuristic (default `auto`). */
  def sharded(df: DataFrame, key: String): DataFrame = {
    val s = df.sparkSession
    val rep = df.repartition(org.apache.spark.sql.functions.col(key))
    s.conf.get("spark.graft.reshard", "auto") match {
      case "always" => rep
      case "never"  => df
      case _ =>
        // split count of the UNOPTIMIZED scan — cheap (file listing only,
        // no job runs), and the one signal that distinguishes "tiny local
        // fixture in one split" from "production table in many"
        if (df.rdd.getNumPartitions < s.sparkContext.defaultParallelism) rep
        else df
    }
  }
}

/** A named pack of queries plus the DuckDB oracle SQL for the subset that
  * is ANSI-SQL-expressible (driver contract, see SparkEntry).
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
