package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table reads infer a parquet schema (a one-task footer job) once per
  * data version and read with it afterwards. */
class TablesSpec extends GraftSpec {

  private def jobs(body: => Unit): Int = JobLog(spark)(body).size

  test("two reads of one path run one schema job; a rewrite in place infers again") {
    val dir = writeDocs(Seq((1L, "a b c", "en", "web", 5L)))
    assert(jobs(Tables.documents(spark, dir)) == 1)
    assert(jobs(Tables.documents(spark, dir)) == 0)
    spark.range(3).select(col("id").as("doc_id"), lit("x").as("extra"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    var df: DataFrame = null
    assert(jobs { df = Tables.documents(spark, dir) } == 1)
    assert(df.columns.toSeq == Seq("doc_id", "extra"))
    assert(df.count() == 3L)
    // the nanosAsLong setting is part of the key: flipping it infers again
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (!saved.contains("true")).toString)
    try assert(jobs(Tables.documents(spark, dir)) == 1)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
