package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics beyond the iterative family (PageRank lives in
  * [[AnalyticsOps]], connected components in [[DedupOps]]): one-shot
  * whole-graph statistics.
  *
  *  - [[triangleStats]] — exact triangle counting by DEGREE-ORDERED
  *    orientation (Cohen's MapReduce algorithm / the "compact-forward"
  *    order): orient every undirected edge from its (degree, id)-smaller
  *    endpoint to the larger, enumerate wedges only at each edge's SOURCE,
  *    and close them with a semi-join against the oriented edge set.
  *    Orientation caps every node's out-degree at O(√|E|) — the wedge
  *    relation is bounded by Σ out_deg² ≤ |E|^1.5 instead of the
  *    Σ deg² of naive wedge counting, which is the difference between
  *    "finishes" and "does not" on a power-law graph at 100 TB (the
  *    highest-degree hub generates ZERO wedges as a sink; only the
  *    sqrt-bounded out-fans fan out). Three keyed shuffles total: degree
  *    count, wedge build (join on src), wedge close (join on (dst,dst)).
  *
  * The query derives a unipartite multigraph from `lineitem` by folding
  * keys mod a prime (the star schema's natural pairs are bipartite and
  * triangle-free); in production the edge table IS the input and the
  * stats run unchanged.
  */
object GraphOps extends QueryPack {

  /** Exact triangle count + global clustering coefficient over an
    * undirected simple graph given as canonical distinct edges
    * `(u, v), u < v`. Returns ONE row:
    * `(n_nodes, n_edges, n_wedges, n_triangles, clustering_micro)` with
    * `clustering_micro = round(3·T/W · 1e6)` — exact integers into one
    * double division, so both engines agree bit-for-bit.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    // degree table: |V| rows. Joined keyed (NOT broadcast): at real scale
    // it is O(nodes) and the two joins below co-partition with the edge
    // list on the node key.
    val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total-order key (deg, node) packed into one long — node ids are
    // canonicalized small here; at 2^32+-sized graphs compare the struct
    // instead. Orient low → high: every triangle then has exactly ONE
    // wedge representation (at its order-minimal vertex, fan ordered).
    val ord = (d: String, n: String) =>
      (col(d) * lit(4294967296L) + col(n)).as(s"o_$n")
    val withOrd = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(col("u"), col("v"), ord("du", "u"), ord("dv", "v"))
    val oriented = withOrd.select(
      when(col("o_u") < col("o_v"), col("u")).otherwise(col("v")).as("src"),
      when(col("o_u") < col("o_v"), col("v")).otherwise(col("u")).as("dst"),
      greatest(col("o_u"), col("o_v")).as("dord"))
    // wedges at the source: out-fan × out-fan, ordered by dord so each
    // unordered pair appears once; close against the oriented edges —
    // the closing edge (x, y) is oriented x→y exactly when
    // ord(x) < ord(y), which the wedge build already guarantees.
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dord") < col("e2.dord"))
      .select(col("e1.dst").as("x"), col("e2.dst").as("y"))
    val tri = wedges.join(
        oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"), "left_semi") // edges are distinct: semi == inner here,
      // and semi lets the join stop at the first build-side match
      .agg(count(lit(1)).as("n_triangles"))
    val base = edges.agg(count(lit(1)).as("n_edges"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"))
    // three ONE-ROW frames → explicit broadcast crosses (the hint keeps
    // them nested-loop-over-one-row even when auto-broadcast is off)
    nodes.crossJoin(broadcast(base)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("n_wedges") > 0,
            round(lit(3.0) * coalesce(col("n_triangles"), lit(0L)) * lit(1e6)
              / col("n_wedges"), 0).cast("long"))
          .otherwise(lit(0L)).as("clustering_micro"))
      // an empty graph is a no-op, not a zero-row audit line (the
      // zero-row-corpus contract: emit nothing when there is nothing)
      .filter(col("n_edges") > 0)
  }

  private val P = 997L

  /** Canonical distinct edge list folded from lineitem: one pair per
    * order (`l_linenumber = 1` — the full multi-line fold saturates the
    * P-node space into a near-complete graph at sf0.1, 80M wedges for no
    * extra signal), nodes `band·P + key mod P` where
    * `band = l_orderkey div 1e8`. The band term is 0 on the natural
    * corpora (orderkeys < 1e8) and splits the 10× synthetic corpus's
    * shifted key ranges into ten DISJOINT subgraphs — so the sweep's
    * graph grows to 10× nodes AND 10× edges (measured 10.0× wedges and
    * triangles), the same axis the PageRank fold uses, instead of
    * re-saturating one fixed fold. */
  private def foldedEdges(s: SparkSession, d: String): DataFrame =
    foldedPairs(s, d).distinct()

  private def foldedPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_linenumber") === 1)
      .select(
        expr(s"(l_orderkey div 100000000) * $P + (l_orderkey % $P)").as("a"),
        expr(s"(l_orderkey div 100000000) * $P + (l_partkey % $P)").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))

  def graphTriangles(s: SparkSession, d: String): DataFrame =
    triangleStats(foldedEdges(s, d))

  /** Degree ASSORTATIVITY (Newman's r): the Pearson correlation of
    * endpoint degrees over the edge list, each edge counted in both
    * orientations — positive r means hubs attach to hubs (social
    * graphs), negative means hubs attach to leaves (the web / most
    * crawl-derived graphs). Moments are exact integer sums folded into
    * ONE double division micro-rounded at the end (the
    * [[triangleStats]] discipline); a regular graph (zero degree
    * variance) yields NULL, never NaN.
    *
    * Shape: one degree aggregate + two keyed edge→degree joins + one
    * moment aggregate — all keyed shuffles, nothing quadratic, no
    * broadcast of the O(|V|) degree table. */
  def assortativityStats(edges: DataFrame): DataFrame = {
    val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val m = withDeg.agg(count(lit(1)).as("m"),
      sum(col("du") + col("dv")).as("sx"),
      sum(expr("du * du + dv * dv")).as("sxx"),
      sum(expr("du * dv")).as("sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nD = "CAST(2 * m AS DOUBLE)"
    val num = s"($nD * CAST(2 * sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    val den = s"($nD * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    m.crossJoin(nodes)
      .select(col("n_nodes"), col("m").as("n_edges"),
        expr(s"CASE WHEN $den > 0 THEN CAST(round($num / $den * 1000000.0) AS BIGINT) END")
          .as("assortativity_micro"))
      .filter(col("n_edges") > 0)
  }

  def graphAssortativity(s: SparkSession, d: String): DataFrame =
    assortativityStats(foldedEdges(s, d))

  /** k-CORE membership by distributed peeling: repeatedly delete every
    * node of degree < k until none remains — the survivor IS the
    * unique MAXIMAL subgraph of minimum degree ≥ k (peeling order
    * cannot change the fixpoint). Each round is one [[kcorePeel]] over
    * the live edge list, `localCheckpoint`ed so lineage stays flat, and
    * that checkpoint's observed row count is the convergence test: a
    * weak node always has an edge to lose, so the peel is a fixpoint
    * exactly when the count stops changing (or reaches 0). Round count
    * = peeling depth + 1. Returns the surviving canonical edges. */
  def kcoreEdges(edges: DataFrame, k: Int): DataFrame = {
    var (live, n) = Checkpoint.counted(edges)
    var before = -1L
    while (n > 0 && n != before) {
      before = n
      val (next, m) = Checkpoint.counted(kcorePeel(live, k))
      live = next
      n = m
    }
    live
  }

  /** One peeling round: drop every edge with an endpoint of degree < k
    * — one symmetric degree aggregate feeding two keyed anti-joins. */
  private[graft] def kcorePeel(live: DataFrame, k: Int): DataFrame = {
    val weak = live.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") < k).select(col("node"))
    live
      .join(weak.select(col("node").as("u")), Seq("u"), "left_anti")
      .join(weak.select(col("node").as("v")), Seq("v"), "left_anti")
  }

  /** [[kcorePeel]] at k = 2 over the folded lineitem edge scan — one
    * peeling round's dataflow for plan assertions. */
  private[graft] def kcoreRoundPlan(s: SparkSession, d: String): DataFrame =
    kcorePeel(foldedPairs(s, d), 2)

  /** Reserved id range for the planted clique — far above every folded
    * node id (bands are small integers; 1000·P clears them all). */
  private val KcoreBase = 1000L * P

  /** k-core decomposition audit for k = 2, 3, 4 over the folded graph
    * PLUS a planted 6-clique on reserved ids: the clique's members have
    * min mutual degree 5, so all six MUST survive every peel at k ≤ 5 —
    * the SQL-closed-form anchor. The structural verdicts re-derive from
    * the OUTPUT edge set rather than trusting the peel: `core_valid` =
    * every surviving node still has ≥ k surviving neighbors, and
    * `core_maximal` = NO removed node has ≥ k neighbors INSIDE the core
    * (if one did, core ∪ {node} would be a larger min-degree-≥k
    * subgraph — contradiction), which together characterize the k-core
    * exactly. */
  def graphKcore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gate = Tables.lineitem(s, d).filter(col("l_linenumber") === 1)
    val empty = Seq.empty[(Long, Long, Boolean, Boolean)]
      .toDF("k", "n_planted_in_core", "core_valid", "core_maximal")
    if (gate.isEmpty) return empty
    val clique = (for { i <- 0 until 6; j <- (i + 1) until 6 }
      yield (KcoreBase + i, KcoreBase + j)).toDF("u", "v")
    val edges = foldedEdges(s, d).unionByName(clique).localCheckpoint(true)
    (2 to 4).map { k =>
      val live = kcoreEdges(edges, k)
      val members = live.select(explode(array(col("u"), col("v"))).as("node"))
        .distinct().localCheckpoint(true)
      val planted = members.filter(col("node") >= KcoreBase)
        .agg(count(lit(1)).as("n_planted_in_core"))
      val valid = live.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .agg(coalesce(min(col("deg")), lit(k.toLong)).as("min_deg"))
        .select((col("min_deg") >= k).as("core_valid"))
      // edges with exactly one endpoint in the core, grouped by the
      // OUTSIDE endpoint: none may reach k in-core neighbors
      val mu = members.select(col("node").as("u"))
      val mv = members.select(col("node").as("v"))
      val uIn = edges.join(mu, Seq("u"), "left_semi")
        .join(mv, Seq("v"), "left_anti")
        .select(col("v").as("outside"))
      val vIn = edges.join(mv, Seq("v"), "left_semi")
        .join(mu, Seq("u"), "left_anti")
        .select(col("u").as("outside"))
      val maximal = uIn.unionByName(vIn)
        .groupBy(col("outside")).agg(count(lit(1)).as("n_in"))
        .agg(sum(when(col("n_in") >= k, 1L).otherwise(0L)).as("viol"))
        .select((coalesce(col("viol"), lit(0L)) === 0L).as("core_maximal"))
      planted.crossJoin(valid).crossJoin(maximal)
        .select(lit(k.toLong).as("k"), col("n_planted_in_core"),
          col("core_valid"), col("core_maximal"))
    }.reduce(_ unionByName _).orderBy(col("k"))
  }

  /** Synchronous rounds of label propagation — enough for the audit's
    * exact-replay oracle to stay a fixed CTE chain; convergence on this
    * graph family is 3–4 rounds, and production runs pick rounds the
    * same way PageRank picks iterations. */
  private val LpaRounds = 4

  /** LABEL PROPAGATION community detection (Raghavan et al. 2007, made
    * DETERMINISTIC): every node starts as its own label; each
    * SYNCHRONOUS round re-labels every node with its neighbors'
    * most frequent label, ties to the SMALLEST label — integer counts
    * and a total tie order make each round a pure function of the last,
    * so the oracle replays the exact rounds as a fixed SQL CTE chain
    * (no "random visit order" folklore). Output: the 50 largest
    * communities after [[LpaRounds]] rounds.
    *
    * Shape per round: ONE keyed join (labels onto the
    * neighbor-partitioned edge list — the edge exchange is built once
    * and reused across every round, the `graph_khop` discipline) + one
    * (node,label) count + a per-node WindowGroupLimit argmax. Work is
    * O(|E|) per round with a fixed round count; labels checkpoint per
    * round so the plan never deepens. */
  def graphLabelProp(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed0 = foldedEdges(s, d)
    val ed = ed0.select(col("u").as("node"), col("v").as("nbr"))
      .unionByName(ed0.select(col("v").as("node"), col("u").as("nbr")))
      .repartition(col("nbr"))
      .localCheckpoint(true)
    var labels = ed.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to LpaRounds) {
      val votes = ed
        .join(labels.select(col("node").as("nbr"), col("lbl")), "nbr")
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("node")).orderBy(col("n").desc, col("lbl"))
      labels = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("node"), col("lbl"))
        .localCheckpoint(true)
    }
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_nodes"))
      .select(col("lbl").as("community"), col("n_nodes"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(50)
  }

  /** The oracle replays the SAME deterministic rounds as a fixed CTE
    * chain — generated from [[LpaRounds]] so round count cannot
    * drift between the engines. */
  private def lpaOracleSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""v$i AS (SELECT ed.node, l.lbl, count(*) AS n
         |  FROM ed JOIN l${i - 1} l ON l.node = ed.nbr GROUP BY 1, 2),
         |l$i AS (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (
         |      PARTITION BY node ORDER BY n DESC, lbl) AS rn FROM v$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT
       |    (l_orderkey // 100000000) * $P + (l_orderkey % $P) AS a,
       |    (l_orderkey // 100000000) * $P + (l_partkey % $P) AS b
       |  FROM lineitem WHERE l_linenumber = 1),
       |e0 AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM p WHERE a <> b),
       |ed AS (SELECT u AS node, v AS nbr FROM e0
       |  UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM ed),
       |$rounds
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM l$LpaRounds GROUP BY lbl
       |ORDER BY n_nodes DESC, community LIMIT 50""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> graphTriangles,
    "graph_assortativity" -> graphAssortativity,
    "graph_kcore" -> graphKcore,
    "graph_labelprop" -> graphLabelProp,
  )

  def oracle: Map[String, String] = Map(
    "graph_labelprop" -> lpaOracleSql,
    // closed-form half of the k-core audit: the planted 6-clique
    // survives every peel at k <= 5, and the structural verdicts must
    // hold for the exact k-core (which they characterize)
    "graph_kcore" ->
      """SELECT CAST(t.k AS BIGINT) AS k,
        |  CAST(6 AS BIGINT) AS n_planted_in_core,
        |  TRUE AS core_valid, TRUE AS core_maximal
        |FROM (VALUES (2), (3), (4)) t(k),
        |  (SELECT count(*) AS n FROM lineitem WHERE l_linenumber = 1) g
        |WHERE g.n > 0 ORDER BY k""".stripMargin,
    // same folded edge list, same exact-moment expression tree
    "graph_assortativity" ->
      s"""WITH p AS (SELECT
        |    (l_orderkey // 100000000) * $P + (l_orderkey % $P) AS a,
        |    (l_orderkey // 100000000) * $P + (l_partkey % $P) AS b
        |  FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |  FROM p WHERE a <> b),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY node),
        |wd AS (SELECT du.deg AS du, dv.deg AS dv
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(du + dv) AS BIGINT) AS sx,
        |    CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx,
        |    CAST(sum(du * dv) AS BIGINT) AS sxy
        |  FROM wd),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n.n_nodes, m.m AS n_edges,
        |  CASE WHEN (CAST(2 * m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |    THEN CAST(round((CAST(2 * m AS DOUBLE) * CAST(2 * sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(2 * m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0) AS BIGINT) END
        |    AS assortativity_micro
        |FROM m, n WHERE m.m > 0""".stripMargin,
    "graph_triangles" ->
      s"""WITH p AS (SELECT
        |    (l_orderkey // 100000000) * $P + (l_orderkey % $P) AS a,
        |    (l_orderkey // 100000000) * $P + (l_partkey % $P) AS b
        |  FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |  FROM p WHERE a <> b),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY node),
        |o AS (SELECT
        |    CASE WHEN d1.deg * 4294967296 + e.u < d2.deg * 4294967296 + e.v
        |         THEN e.u ELSE e.v END AS src,
        |    CASE WHEN d1.deg * 4294967296 + e.u < d2.deg * 4294967296 + e.v
        |         THEN e.v ELSE e.u END AS dst,
        |    greatest(d1.deg * 4294967296 + e.u,
        |             d2.deg * 4294967296 + e.v) AS dord
        |  FROM e JOIN deg d1 ON d1.node = e.u JOIN deg d2 ON d2.node = e.v),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dord < e2.dord
        |  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0 THEN CAST(round(
        |    3.0 * n_triangles * 1000000.0 / n_wedges) AS BIGINT)
        |  ELSE 0 END AS clustering_micro
        |FROM agg, ne, tri WHERE n_edges > 0""".stripMargin,
  )
}
