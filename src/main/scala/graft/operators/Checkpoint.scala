package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Eager local checkpoints that also report their row count. */
private[graft] object Checkpoint {

  /** `df.localCheckpoint(true)` plus its row count, both from the one
    * checkpoint job: the count is a Spark `Observation` on the
    * checkpointed frame, filled when that job's SQL execution ends, so
    * a caller that branches on emptiness or on a changed size runs no
    * separate `count()` / `isEmpty` job. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val cp = df.observe(rows, count(lit(1)).as("rows")).localCheckpoint(true)
    (cp, rows.get("rows").asInstanceOf[Long])
  }
}
