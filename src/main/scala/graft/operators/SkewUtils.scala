package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for large-cluster joins (design brief:
  * "salting for skew, AQE for runtime re-plan").
  *
  * AQE's skew-join handling splits oversized sort-merge partitions at
  * runtime and is the first line of defense (enabled in Bench/Verify).
  * Salting is the static fallback for the cases AQE can't fix — e.g. a
  * broadcast-ineligible dimension with one mega-key: the skewed side gets
  * a random salt in [0, n), the replicated side is exploded across all n
  * salts, and the join key becomes (key, salt), spreading the hot key over
  * n tasks at the cost of replicating the smaller side n times.
  */
object SkewUtils {

  /** Range-partition width for the two-phase global numbering
    * (`layout_global_index` / `globalRank` / KS cumsums): the
    * cluster's `defaultParallelism` with a floor of 16. The floor
    * keeps the per-partition offset table non-trivial (and the oracle
    * comparison meaningful) on tiny local runs; on a real cluster the
    * width scales with the executors — a 1000-core deployment numbers
    * through 1000-way ranges, not a hard-coded 16 (the offset table
    * stays one row per partition, broadcast-sized at any width). */
  def rankWidth(s: org.apache.spark.sql.SparkSession): Int =
    math.max(16, s.sparkContext.defaultParallelism)

  /** Exact global rank of every row of `in` by `ord`, as column `out`,
    * WITHOUT a single-task window: range-repartition on the order keys
    * ([[rankWidth]] ranges), number rows within each range, and add
    * per-range offsets — a ≤|ranges|-row aggregate, broadcast back. The
    * result is bit-identical to the naive `row_number() OVER (ORDER BY
    * …)` wherever the sampled range boundaries fall (offsets come from
    * the actual range sizes, and range order is key order). The
    * partitioned frame is localCheckpoint'ed so the offset job and the
    * numbering job see the SAME sampled boundaries (a re-sample between
    * them would shift rows across ranges and corrupt the offsets).
    * `ord` must be a TOTAL order (include a unique tiebreak). */
  def globalRank(in: DataFrame, ord: Seq[Column], out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parted = in
      .repartitionByRange(rankWidth(in.sparkSession), ord: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__off"))
    parted
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(ord: _*)).cast("long"))
      .join(broadcast(offsets), "__pid")
      .withColumn(out, col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }

  /** Inner-join `skewed` with `small` on `key`, spreading each key over
    * `salts` shuffle partitions. `small` is replicated `salts` times. */
  def saltedJoin(skewed: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    // deterministic salt: hash of all columns PLUS a per-row position mod
    // salts (not rand(), so retried tasks re-derive identical salts —
    // required for exactly-once). The positional term matters: hot keys
    // often arrive as full-duplicate rows (repeated events), and a
    // content-only hash would map every duplicate to ONE salt, defeating
    // the spread. monotonically_increasing_id() is partitionId<<33 + the
    // row's offset within its partition — stable across task retries for
    // a deterministic input partition, unique across duplicates.
    val saltCol: Column = pmod(
      xxhash64((skewed.columns.map(col).toSeq :+ monotonically_increasing_id()): _*),
      lit(salts)).cast("int")
    val left = skewed.withColumn("__salt", saltCol)
    val right = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    left.join(right, Seq(key, "__salt")).drop("__salt")
  }
}
