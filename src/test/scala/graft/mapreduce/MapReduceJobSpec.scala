package graft.mapreduce

import graft.GraftSpec

/** Specs mirroring the reference's worker/integration test contracts
  * (SURVEY.md §5): wordcount and grep jobs against golden semantics
  * (`tests/test_integration_01/02/03.py`), plus seeded property-style
  * invariants for the partitioner — an upgrade the reference's suite lacks.
  */
class MapReduceJobSpec extends GraftSpec {
  import MapReduceJob._

  private val wcMapper = Seq("sh", "-c",
    """tr -s ' ' '\n' | sed '/^$/d' | awk '{print $0 "\t1"}'""")
  private val wcReducer = Seq("awk", "-F", "\t",
    """$1 != prev { if (n > 0) print prev "\t" c; prev = $1; c = 0 } { c += $2; n += 1 } END { if (n > 0) print prev "\t" c }""")

  test("wordcount pipe job counts tokens (ref test_integration_02 semantics)") {
    val lines = Seq("Hello World Bye World", "Hello Spark Goodbye Spark")
    val rdd = spark.sparkContext.parallelize(lines, 2)
    val out = runLines(rdd, JobSpec(wcMapper, wcReducer, numMappers = 2, numReducers = 2))
      .collect().map { l => val Array(w, c) = l.split("\t"); (w, c.toLong) }.toMap
    assert(out === Map("Hello" -> 2L, "World" -> 2L, "Bye" -> 1L,
      "Spark" -> 2L, "Goodbye" -> 1L))
  }

  test("grep pipe job filters lines (ref test_integration_01 semantics)") {
    val lines = Seq("alpha product beta", "no match here", "product again")
    val rdd = spark.sparkContext.parallelize(lines, 2)
    val out = runLines(rdd,
        JobSpec(Seq("sh", "-c", "grep -F 'product' || true"), Seq.empty, 2, 1))
      .collect().toSet
    assert(out === Set("alpha product beta", "product again"))
  }

  test("empty keys are preserved as real keys (ref Q3 / test_worker_04)") {
    val lines = Seq("\t1", "a\t1", "\t1")
    val rdd = spark.sparkContext.parallelize(lines, 2)
    val out = runLines(rdd, JobSpec(Seq.empty, wcReducer, 2, 2)).collect().toSet
    assert(out === Set("\t2", "a\t1"))
  }

  test("group stage output is sorted within partitions, keys never split") {
    val rnd = new scala.util.Random(42L)
    for (_ <- 1 to 20) {
      val n = rnd.nextInt(60)
      val lines = Seq.fill(n) {
        val k = Seq.fill(1 + rnd.nextInt(3))(('a' + rnd.nextInt(4)).toChar).mkString
        s"$k\t${rnd.nextInt(10)}"
      }
      val rdd = spark.sparkContext.parallelize(lines, 3)
      val parts = groupStage(rdd, 4)
        .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.toList)) }
        .collect().toMap
      // each partition sorted (whole-line, codepoint order like Python str sort)
      parts.values.foreach { ls => assert(ls === ls.sorted) }
      // all lines of one key live in exactly one partition
      val keyToParts = parts.toSeq
        .flatMap { case (p, ls) => ls.map(l => (keyOf(l), p)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
      keyToParts.foreach { case (_, n) => assert(n === 1) }
      // nothing lost or duplicated
      assert(parts.values.flatten.toList.sorted === lines.sorted)
    }
  }

  test("fidelity partitioning round-robins distinct lines (ref master:397-406)") {
    val lines = Seq("a\t1", "b\t1", "c\t1", "d\t1", "b\t1")
    val rdd = spark.sparkContext.parallelize(lines, 2)
    val parts = groupStageFidelity(rdd, 2)
      .mapPartitionsWithIndex { case (i, it) => Iterator((i, it.toList)) }
      .collect().toMap
    // sorted distinct order: a,b,c,d → partitions a:0 b:1 c:0 d:1; dup b stays with b
    assert(parts(0) === List("a\t1", "c\t1"))
    assert(parts(1) === List("b\t1", "b\t1", "d\t1"))
  }

  test("JobSpec.fromJson parses the reference's new_master_job message") {
    val spec = JobSpec.fromJson(
      """{"message_type": "new_master_job",
        | "input_directory": "/in", "output_directory": "/out",
        | "mapper_executable": "wc_map.sh", "reducer_executable": "wc_reduce.sh",
        | "num_mappers": 6, "num_reducers": 3}""".stripMargin)
    assert(spec.inputDir == "/in" && spec.outputDir == "/out")
    assert(spec.mapperCmd == Seq("sh", "-c", "wc_map.sh"))
    assert(spec.numMappers == 6 && spec.numReducers == 3)
    intercept[IllegalArgumentException] {
      JobSpec.fromJson("""{"message_type": "shutdown"}""")
    }
  }

  test("full run() writes outputfileNN (ref master:448-463 commit)") {
    val in = java.nio.file.Files.createTempDirectory("mr-in-").toString
    val out = java.nio.file.Files.createTempDirectory("mr-out-").toString + "/result"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "file01"), "hello world\nbye world\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "file02"), "hello spark\n")
    MapReduceJob.run(spark, JobSpec(wcMapper, wcReducer, 2, 2, in, out))
    val files = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(files === Array("outputfile01", "outputfile02"))
    val all = files.flatMap { f =>
      scala.io.Source.fromFile(s"$out/$f").getLines()
    }.map { l => val Array(w, c) = l.split("\t"); (w, c.toLong) }.toMap
    assert(all === Map("hello" -> 2L, "world" -> 2L, "bye" -> 1L, "spark" -> 1L))
  }

  test("map stage over a one-file input shuffles nothing") {
    val in = java.nio.file.Files.createTempDirectory("mr-split-").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "file01"),
      (1 to 400).map(i => s"line $i").mkString("", "\n", "\n"))
    def shuffles(r: org.apache.spark.rdd.RDD[_]): Int = r.dependencies.map {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
      case d => shuffles(d.rdd)
    }.sum
    for (mappers <- Seq(1, 3)) {
      val lines = spark.sparkContext.textFile(in, mappers)
      val mapped = mapStage(lines, wcMapper, mappers)
      assert(mapped.getNumPartitions == mappers)
      assert(shuffles(mapped) == 0, s"numMappers=$mappers: ${mapped.toDebugString}")
      assert(mapped.count() == 800L)
    }
    // fewer splits than mappers still spreads the lines out
    val one = spark.sparkContext.parallelize(Seq("a b", "c d"), 1)
    assert(mapStage(one, Nil, 2).getNumPartitions == 2)
  }
}
