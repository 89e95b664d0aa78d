package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries are fully materialized through the `noop` sink — `count()`
  * would let Catalyst drop sorts/projections from the measured plan.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus, "WARN", "spark.sql.adaptive.enabled" -> "true")
    // SPARK_GRAFT_ONLY=q1,q2 runs a subset (debugging aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_REPEAT=n runs the WHOLE suite n times (interleaved
    // passes, not back-to-back repeats of one query) and reports the
    // per-query MIN across passes — this box exhibits sporadic
    // multi-minute host-level stalls (an identical 1s query
    // intermittently measures 30-275s), and back-to-back repeats both
    // land inside one stall window; interleaving separates the samples
    // of any one query by a full suite pass (~minutes), so a stall
    // can't cover both.
    // 3 passes: with stalls lasting ~a suite-pass, min-of-2 still lets one
    // query get stalled twice (observed: 36 s and 60 s for a 5 s query);
    // a third interleaved sample makes that coincidence quadratically rarer.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    def timeQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    val passes: Seq[Map[String, Double]] = (1 to repeat).map { p =>
      val pass = selected.map { case (name, fn) =>
        val t = timeQuery(name, fn)
        System.err.println(f"[bench] ${java.time.Instant.now()} pass $p $name%-28s $t%8.2f s")
        name -> t
      }.toMap
      System.err.println(f"[bench] pass $p total ${pass.values.filter(_ >= 0).sum}%.1f s")
      // pass boundary: drop memoized library caches and unpersist all
      // checkpointed/persisted blocks — keeps executor storage bounded to
      // one pass's worth AND keeps later passes honest (each pass pays
      // for its own materializations; within a pass, sharing is the
      // production shape being measured)
      CacheRegistry.clear(spark)
      pass
    }
    val results = selected.map { case (name, _) =>
      val good = passes.flatMap(_.get(name)).filter(_ >= 0)
      name -> (if (good.nonEmpty) good.min else -1.0)
    }
    // Compact values (ms resolution) keep the one-line artifact short
    // enough to survive a bounded tail capture; the line is ALSO persisted
    // to a file (SPARK_GRAFT_BENCH_OUT, default OUTSIDE the repo under
    // java.io.tmpdir — driver/iteration runs must never dirty the
    // committed bench/ artifacts; a checked-in bench/latest.json is a
    // deliberate builder commit via an explicit SPARK_GRAFT_BENCH_OUT) and
    // echoed on stderr so the artifact parses even if a log harness
    // truncates one of the channels.
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal locale would corrupt the JSON artifact
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_bench_latest.json").getPath)
    try {
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    System.err.println(line)
    System.err.flush()
    // stdout carries EXACTLY ONE line: the full record INCLUDING the
    // per-query map. Round 7's workaround printed `"queries":{}` here
    // (the multi-KB map printed as a SEPARATE earlier line had pushed the
    // record out of a bounded tail capture); that blinded every
    // optimization round — the driver parses this line, so PERF per_query
    // / geomean / scaling were all empty. The round-18 driver demonstrably
    // captured the ~7 KB stderr copy of the full line intact, so one
    // compact line with the map (ms resolution, ~7 KB at 250 queries)
    // survives the tail window; the file copy in `$out` and the stderr
    // echo remain as backups. spark.stop() runs FIRST so no shutdown
    // logging or hang can follow the record — it is the process's last
    // write.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] stop: ${e.getMessage}") }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","n":${results.size},"file":"$out"}""")
    System.out.flush()
  }
}
