package graft

/** Dump `explain("formatted")` for named queries to files — the
  * committed plan evidence of an optimization round
  * (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Args: `<sfDir> <outDir> <suffix> <q1,q2,...>`. Memoized queries
  * whose declared frame is a checkpoint scan are dumped through their
  * [[PlanCheck]] `build` override when one exists (the un-memoized
  * dataflow). AQE is off so ReuseExchange shows statically and the
  * exchange count is the true one. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    java.nio.file.Files.createDirectories(outDir)
    val spark = LocalSession("4", "ERROR", "spark.sql.adaptive.enabled" -> "false")
    names.foreach { n =>
      try {
        val df = PlanCheck.buildFor(n)
          .map(_(spark, sfDir))
          .getOrElse(SparkEntry.queries(n)(spark, sfDir))
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          outDir.resolve(s"${n}_$suffix.txt"), plan)
        println(s"dumped $n")
      } catch { case e: Throwable =>
        println(s"FAILED $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
