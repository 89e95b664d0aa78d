package org.apache.spark.sql.graft

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CommandExecutionMode, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The two `private[sql]`-side doorways the snapshot format needs. A V1
  * streaming Source must return a STREAMING DataFrame from
  * `Source.getBatch` (`MicroBatchExecution` asserts it), and the only
  * constructor for one is `SparkSession.internalCreateDataFrame(
  * isStreaming = true)`; and a commit attaches its per-file stats fold
  * to the data write, which only `FileFormatWriter.write` accepts.
  * Exposing them from an `org.apache.spark.sql` subpackage is the
  * established connector-library pattern (Delta, spark-redshift, et al.
  * live under this package for exactly this reason); nothing else
  * private is touched. */
object GraftSqlShims {
  def streamingDataFrame(s: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = true)

  /** The row layout the parquet writer hands a stats tracker for `df`
    * written with `partitionBy`: the data columns, then the partition
    * columns. */
  def writerRowLayout(df: DataFrame, partitionBy: Seq[String]): Seq[Attribute] = {
    val output = df.queryExecution.analyzed.output
    val partCols = partitionColumns(output, partitionBy)
    output.filterNot(partCols.contains) ++ partCols
  }

  private def partitionColumns(output: Seq[Attribute], partitionBy: Seq[String]) =
    partitionBy.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"partition column '$c' not in the written frame")))

  /** Write `df` as parquet files under the fresh directory `path` —
    * hive `<col>=<value>` directories for `partitionBy` — with
    * `statsTracker` attached to the write job next to Spark's own
    * `BasicWriteJobStatsTracker`, which `DataFrameWriter` does not let
    * a caller do (Delta's `TransactionalWrite` pattern). `statsTracker`
    * sees rows in [[writerRowLayout]]. Runs as one SQL execution named
    * `save` whose plan is the write command, so its numFiles /
    * numOutputRows / numOutputBytes metrics read as a `DataFrameWriter`
    * save's do. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String],
      statsTracker: Option[WriteJobStatsTracker]): Unit = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val query = df.queryExecution.analyzed
    val write = ParquetWrite(query, path,
      partitionColumns(query.output, partitionBy), statsTracker)
    val qe = s.sessionState.executePlan(write, CommandExecutionMode.SKIP)
    SQLExecution.withNewExecutionId(qe, Some("save")) { qe.executedPlan.executeCollect() }
  }

  private final case class ParquetWrite(query: LogicalPlan, path: String,
      partitionColumns: Seq[Attribute], statsTracker: Option[WriteJobStatsTracker])
      extends DataWritingCommand {
    override def outputColumnNames: Seq[String] = query.output.map(_.name)

    override def run(s: org.apache.spark.sql.classic.SparkSession,
        child: SparkPlan): Seq[Row] = {
      val hadoopConf = s.sessionState.newHadoopConf()
      val committer = FileCommitProtocol.instantiate(
        s.sessionState.conf.fileCommitProtocolClass,
        jobId = java.util.UUID.randomUUID().toString, outputPath = path)
      FileFormatWriter.write(s, child, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, outputColumns), hadoopConf,
        partitionColumns, bucketSpec = None,
        statsTrackers = basicWriteJobStatsTracker(hadoopConf) +: statsTracker.toSeq,
        options = Map.empty)
      Nil
    }

    override protected def withNewChildInternal(c: LogicalPlan): ParquetWrite =
      copy(query = c)
  }
}
