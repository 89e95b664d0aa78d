package graft.operators

import graft.GraftSpec
import org.apache.spark.sql.DataFrame

/** Job shape of the fixpoint loops: every round of components and
  * k-core is one `localCheckpoint` whose observed row count comes from
  * that same job, components adds one star-forest test per round and
  * stops on the round that first produces the star forest, and k-core
  * runs nothing but its checkpoints. Observed with a `SparkListener`,
  * per SQL execution (adaptive execution splits one execution into a
  * job per shuffle stage). */
class LoopJobsSpec extends GraftSpec {
  import spark.implicits._

  /** Run `body`; return the names of the SQL executions its Spark jobs
    * ran under, in the order of their first job. */
  private def executions(body: => Unit): Seq[String] =
    graft.JobLog(spark)(body).distinct.map(_._2)

  private def isStarForest(pairs: Seq[(Long, Long)]): Boolean =
    pairs.groupBy(_._1).values.forall(_.size == 1) &&
      pairs.map(_._1).toSet.intersect(pairs.map(_._2).toSet).isEmpty

  private def components(n: Long, edges: Seq[(Long, Long)]): (Map[Long, Long], Int, Seq[String]) = {
    var out: (DataFrame, Int) = null
    val ran = executions {
      out = DedupOps.componentsWithRounds((0L until n).toDF("doc_id"), edges.toDF("a", "b"))
    }
    (out._1.as[(Long, Long)].collect().toMap, out._2, ran)
  }

  private def checkpointsAndTests(rounds: Int): Seq[String] =
    "localCheckpoint" +: Seq.fill(rounds)(Seq("localCheckpoint", "isEmpty")).flatten

  test("components on a 64-node path runs no confirmation round") {
    val n = 64L
    val edges = (0L until n - 1).map(i => (i + 1, i))
    // replay the star rounds: the first whose output is a star forest
    var pairs = edges.toDF("a", "b")
    var need = 0
    var done = false
    while (!done) {
      need += 1
      pairs = DedupOps.starRound(pairs).localCheckpoint(true)
      done = isStarForest(pairs.as[(Long, Long)].collect().toSeq)
    }
    val (labels, rounds, ran) = components(n, edges)
    assert(labels === (0L until n).map(_ -> 0L).toMap)
    assert(rounds == need, s"ran $rounds rounds; the star forest came out of round $need")
    assert(ran == checkpointsAndTests(rounds), ran)
  }

  test("a graph that is already a star forest converges in one round") {
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (5L, 4L), (6L, 4L))
    val (labels, rounds, ran) = components(8, edges)
    assert(labels === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L,
      5L -> 4L, 6L -> 4L, 7L -> 7L))
    assert(rounds == 1)
    assert(ran == checkpointsAndTests(1), ran)
  }

  test("no edges: no round and no emptiness job") {
    val (labels, rounds, ran) = components(3, Nil)
    assert(labels === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    assert(rounds == 0)
    // an empty local input checkpoints without starting a job at all
    assert(ran.forall(_ == "localCheckpoint"), ran)
  }

  test("a k-core round runs only its checkpoint's jobs") {
    def kcore(edges: Seq[(Long, Long)]): (Set[(Long, Long)], Seq[String]) = {
      var live: DataFrame = null
      val ran = executions { live = GraphOps.kcoreEdges(edges.toDF("u", "v"), 2) }
      (live.select("u", "v").as[(Long, Long)].collect().toSet, ran)
    }
    // a 4-cycle with a 3-edge tail: the tail peels one edge per round,
    // then a round that removes nothing stops the loop
    val cycle = Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val (core, ran) = kcore(cycle.toSeq ++ Seq((4L, 5L), (5L, 6L), (6L, 7L)))
    assert(core == cycle)
    assert(ran == Seq.fill(1 + 3 + 1)("localCheckpoint"), ran)
    // a path peels to nothing in one round, and a count of 0 stops it
    val (none, ranPath) = kcore(Seq((1L, 2L), (2L, 3L)))
    assert(none.isEmpty)
    assert(ranPath == Seq.fill(2)("localCheckpoint"), ranPath)
  }
}
