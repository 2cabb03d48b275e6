package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Graphs}
import graft.util.Scratch
import Sql.D

/** Graph analytics over graphs DERIVED from the test tables — a user
  * behavior-transition graph (events) and a market-basket co-order
  * graph (lineitem). Both graded queries are exact-integer (fixed-point
  * PageRank, triangle counts), so DuckDB parity is bit-exact with no
  * float caveats; the PageRank oracle unrolls the iteration as chained
  * CTEs running the identical floor-division update.
  */
object GraphQueries {

  private val kExpr = """"k"\s*:\s*(\d+)"""

  // --- oracle preludes: one per materialized graph input ---------------
  // Each prelude is the DuckDB twin of a shared Spark input below
  // (kEdges/kNodes, coOrderLi, coOrderPairs, coOrderLpaLabels,
  // coOrderTriangles), written once and interpolated into every oracle
  // that reads it, so an input cannot drift between oracles. All are
  // `def`s: a `val` interpolated above its declaration reads null.
  // DuckDB 1.0 inlines every plain CTE reference but computes every
  // MATERIALIZED CTE even when nothing references it, so only the
  // co-order `li`/`p` (each consumer reads them, most several times)
  // and the LPA rounds and triangles (whose consumers all read them)
  // are MATERIALIZED.

  /** `ek` (user_id, ts, event_id, k per event) and `seq` (src, dst:
    * each event's k and the user's next k, timeline total-ordered by
    * (ts, event_id)) — the transition sequence behind [[kEdges]]. */
  private def kSeqCtes: String = s"""ek AS (
  SELECT user_id, ts, event_id,
    CAST(regexp_extract(props, '$kExpr', 1) AS BIGINT) AS k
  FROM events
), seq AS (
  SELECT k AS src,
    LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM ek
)"""

  /** [[kSeqCtes]] plus `edges` (src, dst, w — the [[kEdges]] twin),
    * `outw` (src, w_out), `e` (edges with w_out) and `nodes` (node —
    * the [[kNodes]] twin). */
  private def kGraphCtes: String = s"""$kSeqCtes, edges AS (
  SELECT src, dst, COUNT(*) AS w FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
), outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS w_out FROM edges GROUP BY 1
), e AS (
  SELECT edges.src, edges.dst, edges.w, outw.w_out
  FROM edges JOIN outw ON edges.src = outw.src
), nodes AS (
  SELECT DISTINCT k AS node FROM ek
)"""

  /** `li` (ok, pk) — the [[coOrderLi]] twin. */
  private def coOrderLiCte: String = """li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
)"""

  /** `li` plus `p` (a < b — the [[coOrderPairs]] twin), its
    * symmetrization `sym` (u, v) and the degrees `deg` (node, deg). */
  private def coOrderCtes: String = s"""$coOrderLiCte, p AS MATERIALIZED (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
), sym AS (
  SELECT a AS u, b AS v FROM p UNION ALL SELECT b, a FROM p
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM p UNION ALL SELECT b FROM p) GROUP BY 1
)"""

  /** [[coOrderCtes]] plus the 3 synchronous LPA rounds `l1`..`l3`
    * (node, lbl; `l3` is the [[coOrderLpaLabels]] twin): each node
    * takes its neighbors' most frequent label, ties to the smallest. */
  private def lpaCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (
  SELECT s.u, l.lbl, COUNT(*) AS c
  FROM sym s JOIN l${i - 1} l ON s.v = l.node GROUP BY 1, 2
), l$i AS MATERIALIZED (
  SELECT u AS node, lbl FROM c$i
  QUALIFY ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl) = 1
)"""
    }.mkString(",\n")
    s"""$coOrderCtes, l0 AS (
  SELECT DISTINCT u AS node, u AS lbl FROM sym
),
$rounds"""
  }

  /** [[coOrderCtes]] plus every triangle once as `tri` (u < x < y — the
    * [[coOrderTriangles]] twin) and the per-node triangle counts `cnt`
    * (node, n_tri). */
  private def triCtes: String = s"""$coOrderCtes, tri AS MATERIALIZED (
  SELECT e1.a AS u, e1.b AS x, e2.b AS y
  FROM p e1 JOIN p e2 ON e1.b = e2.a
    JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b
), cnt AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT u AS node FROM tri UNION ALL SELECT x FROM tri
    UNION ALL SELECT y FROM tri) GROUP BY 1
)"""

  /** Stationary distribution of the k-transition Markov chain by
    * 5 synchronous power-iteration steps π' = πP from uniform mass —
    * the long-run occupancy the one-step views (`g_markov_accuracy`
    * prediction, `g_entropy_rate` uncertainty) don't give: where does
    * a random session SETTLE. Same exact-integer trajectory discipline
    * as g_pagerank (micro units, per-edge `(π·w) div w_out` floor
    * division, mass lost to flooring identically in both engines) but
    * UNDAMPED — no teleport, the raw chain — so the unrolled oracle is
    * pagerank's minus the 0.15 mixture. Reuses the shared materialized
    * k-graph; each step is one join + aggregate on the same key.
    */
  private def stationaryDist(s: SparkSession, dir: String): DataFrame = {
    val outW = kEdges(s, dir).groupBy(col("src"))
      .agg(sum(col("w")).as("w_out"))
    val e = Checkpoints.round(kEdges(s, dir).join(outW, "src")
      .select(col("src"), col("dst"), col("w"), col("w_out")))
    var pi = kNodes(s, dir).withColumn("r", lit(1000000L))
    for (_ <- 1 to 5) {
      val inflow = e.join(pi, e("src") === pi("node"))
        .select(col("dst"), expr("(r * w) div w_out").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      pi = kNodes(s, dir)
        .join(inflow, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("inflow"), lit(0L)).as("r"))
    }
    pi.select(col("node"), col("r").as("pi_micro"))
      .orderBy(col("pi_micro").desc, col("node")).limit(20)
  }

  private val stationaryDistOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
  SELECT n.node, COALESCE(t.inflow, 0) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM((r.r * e.w) // e.w_out) AS inflow
    FROM e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst) t
  ON t.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH $kGraphCtes, r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
),
$iters
SELECT node, CAST(r AS BIGINT) AS pi_micro FROM r5
ORDER BY pi_micro DESC, node LIMIT 20"""
  }

  /** [[Graphs.pageRank]] over the per-user `k`-value transition graph:
    * nodes are the ~100 distinct `props.k` values, edges the
    * consecutive-event transitions within each user's timeline
    * (total-ordered by (ts, event_id)). 5 iterations of the
    * fixed-point micro-unit update; top 20 nodes. Every division is an
    * integer floor division, so the oracle's unrolled CTE chain
    * reproduces the exact longs.
    */
  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    Graphs.pageRank(kEdges(s, dir), kNodes(s, dir), 5)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(20)
  }

  private val pagerankOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
  SELECT n.node, 150000 + (85 * COALESCE(t.inflow, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM((r.r * e.w) // e.w_out) AS inflow
    FROM e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst) t
  ON t.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH $kGraphCtes, r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes
),
$iters
SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r5
ORDER BY rank_micro DESC, node LIMIT 20"""
  }

  /** [[Graphs.personalizedPageRank]] over the same k-transition graph:
    * random walk with restart, teleport mass restricted to the seed set
    * {k : k ≡ 0 (mod 10)} — "rank every k-value by its proximity to
    * the round-number ks", the topic-sensitive variant every
    * recommender runs per user/topic. Same fixed-point micro-unit
    * trajectory as g_pagerank (every division an integer floor
    * division), so the oracle's unrolled CTE chain reproduces the
    * exact longs. Non-seed nodes with rank 0 are unreachable from the
    * seed set. Top 20 by rank.
    */
  private def ppr(s: SparkSession, dir: String): DataFrame = {
    Graphs.personalizedPageRank(kEdges(s, dir), kNodes(s, dir), 5,
        col("node") % 10 === 0)
      .where(col("rank_micro") > 0)
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(20)
  }

  private val pprOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""p$i AS (
  SELECT n.node,
    (CASE WHEN n.node % 10 = 0 THEN 150000 ELSE 0 END)
      + (85 * COALESCE(t.inflow, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM((r.r * e.w) // e.w_out) AS inflow
    FROM e JOIN p${i - 1} r ON r.node = e.src GROUP BY e.dst) t
  ON t.dst = n.node)"""
    }.mkString(",\n")
    s"""WITH $kGraphCtes, p0 AS (
  SELECT node,
    CAST(CASE WHEN node % 10 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r
  FROM nodes
),
$iters
SELECT node, CAST(r AS BIGINT) AS rank_micro FROM p5
WHERE r > 0
ORDER BY rank_micro DESC, node LIMIT 20"""
  }

  /** [[Graphs.triangleCensusOf]] over the market-basket graph: parts are
    * nodes, an (undirected) edge links two parts that appear in the
    * same order at least once. Triangle + wedge census and the global
    * clustering coefficient — the degree-ordered wedge join on the
    * Spark side must produce the exact count of the oracle's naive
    * a<b<c 3-way self-join.
    */
  private def triangles(s: SparkSession, dir: String): DataFrame =
    // the triangle count comes from the shared materialized triple
    // table: the wedge join runs once per dir for the whole g_* family
    Graphs.triangleCensusOf(coOrderPairs(s, dir), coOrderTriangles(s, dir))

  private val trianglesOracle = s"""WITH $triCtes, agg AS (
  SELECT COUNT(*) AS n_nodes,
    CAST(SUM(deg) AS BIGINT) // 2 AS n_edges,
    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
), t AS (SELECT COUNT(*) AS n_triangles FROM tri)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  CAST(3 AS DOUBLE) * n_triangles / n_wedges AS clustering
FROM agg, t"""

  /** Association rules over the same market-basket pairs: support /
    * lift for co-ordered part pairs. All counts are exact integers;
    * lift is ONE double division of two exact integer products
    * (n_ab·N / n_a·n_b). Top 15 by lift with support ≥ 2 — the rule
    * head a recommender would consume. Item and pair counts are plain
    * map-side-combined aggregates; nothing quadratic beyond the
    * per-order pair explode, which is bounded by basket size.
    */
  private def assocRules(s: SparkSession, dir: String): DataFrame = {
    val li = coOrderLi(s, dir)
    val n = li.select(countDistinct(col("ok")).as("n_orders"))
    val items = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val a = li.select(col("ok"), col("pk").as("a"))
    val b = li.select(col("ok"), col("pk").as("b"))
    val pairs = a.join(b, "ok").where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    pairs
      .join(items.select(col("pk").as("a"), col("n_item").as("n_a")), Seq("a"))
      .join(items.select(col("pk").as("b"), col("n_item").as("n_b")), Seq("b"))
      .crossJoin(n)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_orders"),
        ((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(15)
  }

  private val assocRulesOracle = s"""WITH $coOrderLiCte, n AS (
  SELECT COUNT(DISTINCT ok) AS n_orders FROM li
), items AS (
  SELECT pk, COUNT(*) AS n_item FROM li GROUP BY 1
), pairs AS (
  SELECT a.pk AS a, b.pk AS b, COUNT(*) AS n_ab
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT a, b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b, n_orders,
  CAST(n_ab * n_orders AS DOUBLE)
    / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
FROM pairs JOIN items ia ON a = ia.pk JOIN items ib ON b = ib.pk, n
ORDER BY lift DESC, a, b LIMIT 15"""

  /** Distinct (order, part) incidence — the market-basket input shared
    * by every co-order graph query (materialized once per dir). */
  private def coOrderLi(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "coorder_li", dir) {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
    }

  /** Distinct co-order part pairs (a < b) — the shared undirected edge
    * list behind labelProp, triangles, kcore, and modularity
    * (materialized once per dir, built from [[coOrderLi]]). */
  private def coOrderPairs(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "coorder_pairs", dir) {
      val li = coOrderLi(s, dir)
      val a = li.select(col("ok"), col("pk").as("a"))
      val b = li.select(col("ok"), col("pk").as("b"))
      a.join(b, "ok").where(col("a") < col("b"))
        .select("a", "b").distinct()
    }

  /** Weighted k-value transition edges (src, dst, w) — the shared
    * event-derived graph behind pagerank/hits/markov/bfs/scc/closeness
    * (materialized once per dir: the 12M-event scan + per-user lead
    * window collapses to a ~|k|² edge table, so six queries stop each
    * re-paying the scan). */
  private def kEdges(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "kgraph_edges", dir) {
      Graphs.transitionEdges(Tables(s, dir, "events"),
        regexp_extract(col("props"), kExpr, 1).cast("long"))
    }

  /** Distinct k values (the node list), materialized beside [[kEdges]]. */
  private def kNodes(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "kgraph_nodes", dir) {
      Tables(s, dir, "events")
        .select(regexp_extract(col("props"), kExpr, 1)
          .cast("long").as("node")).distinct()
    }

  /** Closed-wedge triangle triples (u, x, y) of the co-order graph —
    * the shared enumeration behind the census and per-node counts
    * (materialized once per dir; the wedge join is the expensive part
    * of both queries and each triangle row serves them all). */
  private def coOrderTriangles(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "coorder_triangles", dir) {
      Graphs.triangleTriples(coOrderPairs(s, dir))
    }

  /** 3-round LPA labels over the symmetrized co-order graph (see
    * [[labelProp]] for the round semantics). Returns (node, lbl).
    */
  private def lpaLabels(pairs: DataFrame): DataFrame = {
    // the symmetrized edge list feeds every round's join — materialize
    // it ONCE (it is itself a distinct self-join; recomputing it per
    // round tripled this query's wall time), and cut each round's
    // lineage so round N never replays rounds 1..N-1 (the standard
    // iterative-operator pattern, see Graphs.bfsHops)
    val sym = pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
      .persist()
    try {
      // Round 1 against the identity labeling over a DISTINCT edge list
      // degenerates algebraically: every (u, lbl=v) group has count 1,
      // so the (count desc, lbl) argmax is just min(v) — one aggregate,
      // no join. (Valid because `pairs` is distinct; rounds 2+ run the
      // generic update.)
      var labels = Checkpoints.round(sym.groupBy(col("u"))
        .agg(min(col("v")).as("lbl"))
        .select(col("u").as("node"), col("lbl")))
      for (_ <- 2 to 3) {
        val next = Checkpoints.round(sym
          .join(labels.select(col("node").as("v"), col("lbl")), Seq("v"))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("u").as("node"), (-col("m.nl")).as("lbl")))
        Checkpoints.free(labels)
        labels = next
      }
      labels
    } finally sym.unpersist(blocking = false)
  }

  /** The 3-round LPA labels, materialized once per dir — three
    * consumers (labelProp, modularity, conductance) each paid the full
    * 3-round propagation before this seam (the coOrderTriangles
    * lesson: a pipeline running a family of community analyses labels
    * once and fans out).
    */
  private def coOrderLpaLabels(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "coorder_lpa", dir) {
      lpaLabels(coOrderPairs(s, dir))
    }

  // --- label propagation communities (3 synchronous rounds) -----------
  /** Community detection by synchronous label propagation over the part
    * co-order graph: labels start as node ids; each round every node
    * adopts its neighbors' most frequent label, ties to the SMALLEST
    * label (one max-of-struct (count, −label) aggregate — map-side
    * combinable, no per-node window). Exactly 3 rounds, so the result
    * is deterministic — classic async LPA is run-order dependent, which
    * an oracle-graded engine cannot be. Per round: one shuffle join of
    * edges onto labels + two aggregations; the oracle unrolls the same
    * 3 rounds as chained CTEs with the identical tie rule. Output is
    * the community-size histogram.
    */
  private def labelProp(s: SparkSession, dir: String): DataFrame =
    coOrderLpaLabels(s, dir)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("community")

  private val labelPropOracle = s"""WITH $lpaCtes
SELECT lbl AS community, COUNT(*) AS n_members
FROM l3 GROUP BY 1 ORDER BY community"""

  /** [[Graphs.bfsHops]] over the strong transition backbone: edges are
    * k→k' transitions observed ≥ 4 times (the w≥4 cut keeps the graph
    * sparse enough at sf0.01 to have real diameter — hops 0..8 — rather
    * than a 2-hop hub ball), source node 0, 8-hop bound. The oracle is
    * the textbook recursive-CTE BFS: UNION-dedup on (node, hop), MIN
    * per node — exactly what the level-synchronous frontier loop
    * computes, so the exact-int rows agree engine-for-engine.
    */
  private def bfsHops(s: SparkSession, dir: String): DataFrame = {
    val edges = kEdges(s, dir)
      .where(col("src") =!= col("dst") && col("w") >= 4)
      .select("src", "dst")
    Graphs.bfsHops(edges, 0L, 8).orderBy("hops", "node")
  }

  /** Double-sweep diameter lower bound over the UNDIRECTED k-transition
    * graph (same w ≥ 4 backbone as g_bfs_hops): BFS from node 0, hop to
    * the farthest node u (tie → smallest id, so the sweep is
    * deterministic), BFS again from u — max hop of the second sweep is
    * the classic 2-sweep diameter estimate (exact on trees, a tight
    * lower bound in practice; Magnien-Latapy-Habib). Each sweep is the
    * level-synchronous frontier loop of [[Graphs.bfsHops]] — the only
    * driver-side transfer between sweeps is the ONE (node, hop) row
    * that seeds sweep 2, so the pattern holds at any graph scale.
    */
  private def diameter2Sweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val de = kEdges(s, dir)
      .where(col("src") =!= col("dst") && col("w") >= 4)
      .select("src", "dst")
    val und = de.unionAll(de.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val h1 = Graphs.bfsHops(und, 0L, 16)
    val far1 = h1.orderBy(col("hops").desc, col("node")).limit(1)
      .select(col("node").as("far_node"), col("hops").cast("long").as("ecc_from_0"))
    val u = far1.select(col("far_node")).as[Long].head()
    val far2 = Graphs.bfsHops(und, u, 16)
      .orderBy(col("hops").desc, col("node")).limit(1)
      .select(col("node").as("far2_node"),
        col("hops").cast("long").as("diameter_lb"))
    far1.crossJoin(far2)
  }

  private val diameter2SweepOracle = s"""WITH RECURSIVE $kSeqCtes, we AS (
  SELECT src, dst, COUNT(*) AS w FROM seq
  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2
), de AS (
  SELECT src, dst FROM we WHERE w >= 4
), ue AS MATERIALIZED (
  SELECT src, dst FROM de UNION SELECT dst, src FROM de
), b1(node, hop) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.hop + 1 FROM b1 b JOIN ue e ON e.src = b.node
  WHERE b.hop < 16
), h1 AS (
  SELECT node, MIN(hop) AS hops FROM b1 GROUP BY node
), far AS MATERIALIZED (
  SELECT node, hops FROM h1 ORDER BY hops DESC, node LIMIT 1
), b2(node, hop) AS (
  SELECT node, 0 FROM far
  UNION
  SELECT e.dst, b.hop + 1 FROM b2 b JOIN ue e ON e.src = b.node
  WHERE b.hop < 16
), h2 AS (
  SELECT node, MIN(hop) AS hops FROM b2 GROUP BY node
), far2 AS (
  SELECT node, hops FROM h2 ORDER BY hops DESC, node LIMIT 1
)
SELECT far.node AS far_node, CAST(far.hops AS BIGINT) AS ecc_from_0,
  far2.node AS far2_node, CAST(far2.hops AS BIGINT) AS diameter_lb
FROM far, far2"""

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) of the
    * co-order graph at a fixed ladder of degree thresholds — do
    * high-degree parts preferentially co-order with each other
    * (φ → 1) or spread across the long tail? Degrees come from the
    * shared materialized edge list; each threshold is one conditional
    * count over the degree-annotated edges (a broadcast of the tiny
    * threshold ladder, no per-k scan). Counts are exact longs; φ is a
    * single double division.
    */
  private def richClub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = coOrderPairs(s, dir)
    val deg = p.select(col("a").as("v")).unionAll(p.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val ks = Seq(4L, 8L, 16L, 32L, 64L).toDF("k")
    val degK = deg.crossJoin(broadcast(ks)).where(col("deg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    val withDeg = p
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val edgeK = withDeg.crossJoin(broadcast(ks))
      .where(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_k"))
    degK.join(edgeK, Seq("k"), "left")
      .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"))
      .where(col("n_k") >= 2)
      .withColumn("phi", lit(2.0) * col("e_k").cast("double") /
        (col("n_k") * (col("n_k") - 1)).cast("double"))
      .orderBy("k")
  }

  private val richClubOracle = s"""WITH $coOrderCtes,
ks(k) AS (VALUES (4), (8), (16), (32), (64)),
degk AS (
  SELECT k, COUNT(*) AS n_k FROM deg JOIN ks ON deg > k GROUP BY 1
), wd AS (
  SELECT p.a, p.b, da.deg AS da, db.deg AS db
  FROM p JOIN deg da ON p.a = da.node JOIN deg db ON p.b = db.node
), edgek AS (
  SELECT k, COUNT(*) AS e_k FROM wd JOIN ks ON da > k AND db > k GROUP BY 1
)
SELECT CAST(degk.k AS BIGINT) AS k, degk.n_k,
  CAST(COALESCE(edgek.e_k, 0) AS BIGINT) AS e_k,
  CAST('2' AS DOUBLE) * CAST(COALESCE(edgek.e_k, 0) AS DOUBLE)
    / CAST(degk.n_k * (degk.n_k - 1) AS DOUBLE) AS phi
FROM degk LEFT JOIN edgek ON degk.k = edgek.k
WHERE degk.n_k >= 2 ORDER BY k"""

  /** Degree assortativity coefficient of the co-order graph — the
    * Pearson correlation of endpoint degrees over edges (each
    * undirected edge counted in both directions, the standard Newman
    * convention): do high-degree parts co-order with other hubs
    * (r > 0, social-network-like) or with leaves (r < 0,
    * technological/dependency-like)? All five moment sums are exact
    * int64 over integer degrees (Σd, Σd², Σd·d' stay < 2⁶³ at any
    * plausible degree ladder); the final r is one double tree over
    * them — the t_zipf_alpha overflow discipline. One degree join per
    * edge side onto the shared materialized edge list.
    */
  private def assortativity(s: SparkSession, dir: String): DataFrame = {
    val p = coOrderPairs(s, dir)
    val deg = p.select(col("a").as("v")).unionAll(p.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val both = p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
    val withDeg = both
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val m = withDeg.agg(
      count(lit(1)).as("m2"),
      sum(col("da")).as("sa"), sum(col("db")).as("sb"),
      sum(col("da") * col("da")).as("saa"),
      sum(col("db") * col("db")).as("sbb"),
      sum(col("da") * col("db")).as("sab"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    m.select(expr("m2 div 2").as("n_edges"),
      ((d(col("m2")) * d(col("sab")) - d(col("sa")) * d(col("sb"))) /
        (sqrt(d(col("m2")) * d(col("saa")) - d(col("sa")) * d(col("sa"))) *
          sqrt(d(col("m2")) * d(col("sbb")) - d(col("sb")) * d(col("sb")))))
        .as("assortativity"))
  }

  private val assortativityOracle = s"""WITH $coOrderCtes, wd AS (
  SELECT da.deg AS da, db.deg AS db
  FROM sym JOIN deg da ON sym.u = da.node JOIN deg db ON sym.v = db.node
), m AS (
  SELECT COUNT(*) AS m2,
    CAST(SUM(da) AS BIGINT) AS sa, CAST(SUM(db) AS BIGINT) AS sb,
    CAST(SUM(da * da) AS BIGINT) AS saa,
    CAST(SUM(db * db) AS BIGINT) AS sbb,
    CAST(SUM(da * db) AS BIGINT) AS sab
  FROM wd
)
SELECT m2 // 2 AS n_edges,
  (CAST(m2 AS DOUBLE) * CAST(sab AS DOUBLE)
    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
  / (sqrt(CAST(m2 AS DOUBLE) * CAST(saa AS DOUBLE)
      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
    * sqrt(CAST(m2 AS DOUBLE) * CAST(sbb AS DOUBLE)
      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS assortativity
FROM m"""

  /** Reciprocity of the directed k-transition graph: the fraction of
    * directed edges whose reverse edge also exists — do users who move
    * k→k' also move k'→k, the difference between a flow-like state
    * machine (low reciprocity: funnels, escalation ladders) and an
    * oscillating one (high: toggles, retries). One self-join of the
    * distinct edge list on the swapped key; exact counts, one double
    * division. Dyads = reciprocated edges / 2.
    */
  private def reciprocity(s: SparkSession, dir: String): DataFrame = {
    val e = kEdges(s, dir).where(col("src") =!= col("dst"))
      .select("src", "dst")
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val recip = e.intersect(rev)
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        expr("n_recip div 2").as("n_dyads"),
        (col("n_recip").cast("double") / col("n_edges").cast("double"))
          .as("reciprocity"))
  }

  private val reciprocityOracle = s"""WITH $kSeqCtes, e AS (
  SELECT DISTINCT src, dst FROM seq WHERE dst IS NOT NULL AND dst <> src
), r AS (
  SELECT COUNT(*) AS n_recip FROM (
    SELECT src, dst FROM e
    INTERSECT
    SELECT dst AS src, src AS dst FROM e)
), n AS (SELECT COUNT(*) AS n_edges FROM e)
SELECT n_edges, n_recip, n_recip // 2 AS n_dyads,
  CAST(n_recip AS DOUBLE) / CAST(n_edges AS DOUBLE) AS reciprocity
FROM n, r"""

  /** Entropy rate of the empirical k-transition Markov chain:
    * H = −Σ_ij (w_ij / W) · ln(w_ij / w_i) — how predictable is the
    * next k given the current one (0 = deterministic chain; ln of the
    * mean out-degree = uniform wandering). One pass over the shared
    * edge list: each edge contributes a single term floored to
    * nano-units before the integer sum (order-independent), with w_i
    * joined on and W a 1-row broadcast. Pairs with g_markov_accuracy:
    * that query scores the argmax predictor, this one measures the
    * intrinsic noise floor any predictor faces.
    */
  private def entropyRate(s: SparkSession, dir: String): DataFrame = {
    val edges = kEdges(s, dir)
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    val grand = edges.agg(sum(col("w")).as("tw"))
    edges.join(outW, "src").crossJoin(broadcast(grand))
      .select(floor(col("w").cast("double") / col("tw").cast("double") *
        log(col("w").cast("double") / col("w_out").cast("double")) *
        lit(1.0e9)).cast("long").as("term_nano"))
      .agg(count(lit(1)).as("n_transition_types"),
        sum(col("term_nano")).as("neg_h_nano"))
      .select(col("n_transition_types"),
        (-col("neg_h_nano")).as("h_nano"),
        (-col("neg_h_nano")).cast("double").divide(lit(1.0e9))
          .as("entropy_rate"))
  }

  private val entropyRateOracle = s"""WITH $kGraphCtes,
grand AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM edges),
terms AS (
  SELECT CAST(FLOOR(CAST(e.w AS DOUBLE) / CAST(tw AS DOUBLE)
    * ln(CAST(e.w AS DOUBLE) / CAST(w_out AS DOUBLE))
    * ${D("1000000000")}) AS BIGINT) AS term_nano
  FROM e CROSS JOIN grand
)
SELECT COUNT(*) AS n_transition_types,
  CAST(-SUM(term_nano) AS BIGINT) AS h_nano,
  CAST(-SUM(term_nano) AS DOUBLE) / ${D("1000000000")} AS entropy_rate
FROM terms"""

  private val bfsHopsOracle = s"""WITH RECURSIVE $kSeqCtes, we AS (
  SELECT src, dst, COUNT(*) AS w FROM seq
  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2
), edges AS (
  SELECT src, dst FROM we WHERE w >= 4
), bfs(node, hop) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.hop + 1 FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.hop < 8
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hops
FROM bfs GROUP BY node ORDER BY hops, node"""

  /** Majority-next-state baseline accuracy: predict each node's next
    * transition as its historical argmax target, score over ALL
    * transitions — the canonical "is a Markov-1 model better than
    * majority?" readout for sequence models. The argmax is ONE
    * max-of-struct aggregate per source node ((w, −dst) so ties take
    * the smallest target — map-side combinable, no window); scoring is
    * a |nodes|-sized broadcast join back onto the edge counts.
    */
  private def markovAccuracy(s: SparkSession, dir: String): DataFrame = {
    val edges = kEdges(s, dir)
    val pred = edges.groupBy(col("src"))
      .agg(max(struct(col("w"), (-col("dst")).as("nd"))).as("m"))
      .select(col("src").as("p_src"), (-col("m.nd")).as("pred_dst"))
    edges.join(pred, col("src") === col("p_src"))
      .groupBy(col("src"))
      .agg(sum(col("w")).as("n_transitions"),
        max(col("pred_dst")).as("pred_dst"),
        sum(when(col("dst") === col("pred_dst"), col("w")).otherwise(0L))
          .as("n_correct"))
      .select(col("src"), col("pred_dst"), col("n_transitions"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_transitions").cast("double"))
          .as("accuracy"))
      .orderBy("src")
  }

  private val markovAccuracyOracle = s"""WITH $kGraphCtes, p AS (
  SELECT src, dst AS pred_dst FROM edges
  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) = 1
)
SELECT e.src, MAX(pred_dst) AS pred_dst,
  CAST(SUM(w) AS BIGINT) AS n_transitions,
  CAST(SUM(CASE WHEN dst = pred_dst THEN w ELSE 0 END) AS BIGINT) AS n_correct,
  CAST(SUM(CASE WHEN dst = pred_dst THEN w ELSE 0 END) AS DOUBLE)
    / CAST(SUM(w) AS DOUBLE) AS accuracy
FROM edges e JOIN p ON e.src = p.src
GROUP BY e.src ORDER BY e.src"""

  /** Bounded k-core peel: 3 synchronous rounds of removing nodes with
    * degree < k from the co-order graph, k chosen scale-adaptively as
    * ⌊0.8 · average degree⌋ in integer math (so both engines derive the
    * identical threshold at any SF). Each round is one degree aggregate
    * + two semi-join restrictions — the level-synchronous peel every
    * distributed k-core implementation runs; lineage cut per round.
    * Output: per-round surviving node/half-edge counts — the cascade
    * curve (how fast the periphery sloughs off) that characterizes the
    * graph's cohesion.
    */
  private def kcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = coOrderPairs(s, dir)
    // Edge rounds are lazy: the census agg below materializes each
    // round as a side effect (round 0's included).
    var e = Checkpoints.round(pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v"))), eager = false)
    // Each round's census (n_nodes = distinct u, n_halfedges = |e|) is
    // exactly an aggregate of the NEXT degree table (count of groups /
    // sum of degrees), so one degree pass per round serves the census,
    // the keep filter AND next round's basis — the r9 shape re-scanned
    // the halfedge checkpoint three times per round (degree agg, the
    // filter, a separate census agg; 1499 MB of block reads at sf0.1).
    def degrees(of: DataFrame): DataFrame = Checkpoints.round(
      of.groupBy(col("u")).agg(count(lit(1)).as("d")), eager = false)
    var deg = degrees(e)
    val first = deg.agg(coalesce(sum(col("d")), lit(0L)),
      count(lit(1))).head()
    val k = first.getLong(0) * 8 / (first.getLong(1) * 10)
    val stats = Seq.newBuilder[(Long, Long, Long)]
    stats += ((0L, first.getLong(1), first.getLong(0)))
    for (round <- 1 to 3) {
      // keep is degree-table-sized (one row per node): broadcast-sized
      // at any SF where the degree table fits the driver gate, and
      // Catalyst sizes it from the checkpoint
      val keep = deg.where(col("d") >= k).select(col("u").as("kn"))
      val eNext = Checkpoints.round(
        e.join(keep, col("u") === col("kn"), "left_semi")
          .join(keep.select(col("kn").as("kv")), col("v") === col("kv"), "left_semi"),
        eager = false)
      val degNext = degrees(eNext) // materializes eNext as a side effect
      val st = degNext.agg(coalesce(sum(col("d")), lit(0L)),
        count(lit(1))).head() // materializes degNext
      Checkpoints.free(deg)
      Checkpoints.free(e)
      e = eNext
      deg = degNext
      stats += ((round.toLong, st.getLong(1), st.getLong(0)))
    }
    Checkpoints.free(deg)
    Checkpoints.free(e)
    stats.result().toDF("round", "n_nodes", "n_halfedges").orderBy("round")
  }

  private val kcoreOracle = s"""WITH $coOrderCtes,
e0 AS MATERIALIZED (SELECT u, v FROM sym),
kk AS (
  SELECT (COUNT(*) * 8) // (COUNT(DISTINCT u) * 10) AS k FROM e0
), d1 AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY 1),
keep1 AS (SELECT u FROM d1, kk WHERE d >= kk.k),
e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e JOIN keep1 a ON e.u = a.u JOIN keep1 b ON e.v = b.u),
d2 AS (SELECT u, COUNT(*) AS d FROM e1 GROUP BY 1),
keep2 AS (SELECT u FROM d2, kk WHERE d >= kk.k),
e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e JOIN keep2 a ON e.u = a.u JOIN keep2 b ON e.v = b.u),
d3 AS (SELECT u, COUNT(*) AS d FROM e2 GROUP BY 1),
keep3 AS (SELECT u FROM d3, kk WHERE d >= kk.k),
e3 AS (SELECT e.u, e.v FROM e2 e JOIN keep3 a ON e.u = a.u JOIN keep3 b ON e.v = b.u)
SELECT CAST(0 AS BIGINT) AS round, (SELECT COUNT(DISTINCT u) FROM e0) AS n_nodes,
  (SELECT COUNT(*) FROM e0) AS n_halfedges
UNION ALL SELECT CAST(1 AS BIGINT), (SELECT COUNT(DISTINCT u) FROM e1), (SELECT COUNT(*) FROM e1)
UNION ALL SELECT CAST(2 AS BIGINT), (SELECT COUNT(DISTINCT u) FROM e2), (SELECT COUNT(*) FROM e2)
UNION ALL SELECT CAST(3 AS BIGINT), (SELECT COUNT(DISTINCT u) FROM e3), (SELECT COUNT(*) FROM e3)
ORDER BY round"""

  /** Bounded 4-truss peel over the co-order graph: 3 synchronous
    * rounds of dropping edges supported by fewer than k−2 = 2 alive
    * triangles — the edge-cohesion refinement of k-core (a k-truss
    * edge needs k−2 mutual neighbors, not just k neighbors; Cohen '08,
    * and the standard distributed formulation recounts support from a
    * once-enumerated triangle table instead of re-running the wedge
    * join per round). Each round: 3 hash joins mark triangles whose
    * edges all survive, one explode-aggregate recounts per-edge
    * support, lineage cut per round. The triple table is the SHARED
    * materialized enumeration behind g_triangles/g_local_clustering —
    * this query adds no wedge join of its own. Output: the peel
    * cascade (round, surviving edges, alive triangles feeding that
    * round's support).
    */
  private def ktruss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // DELTA peel — the shared [[graft.operators.Graphs.trussPeelStats]]
    // loop (also the ScaleBench peel curve, so the curve measures THIS
    // query's rounds): round 1's support basis is the full triple
    // table; later rounds subtract only dropped-edge triangles via the
    // 2M-row broadcast gate (3·(k−3)·nDropped ≤ 2M). (u,x),(u,y) are
    // degree-oriented; the operator canonicalizes to a<b edge keys.
    graft.operators.Graphs
      .trussPeelStats(coOrderTriangles(s, dir), coOrderPairs(s, dir),
        rounds = 3, k = 4, broadcastCap = 2000000L)
      .toDF("round", "n_edges", "n_tri_alive").orderBy("round")
  }

  private val ktrussOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""t$i AS MATERIALIZED (
  SELECT t.u, t.x, t.y FROM tri t
  JOIN e${i - 1} e1 ON LEAST(t.u, t.x) = e1.a AND GREATEST(t.u, t.x) = e1.b
  JOIN e${i - 1} e2 ON LEAST(t.u, t.y) = e2.a AND GREATEST(t.u, t.y) = e2.b
  JOIN e${i - 1} e3 ON t.x = e3.a AND t.y = e3.b
), e$i AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT a, b, COUNT(*) AS sup FROM (
      SELECT LEAST(u, x) AS a, GREATEST(u, x) AS b FROM t$i
      UNION ALL SELECT LEAST(u, y), GREATEST(u, y) FROM t$i
      UNION ALL SELECT x, y FROM t$i
    ) GROUP BY 1, 2
  ) WHERE sup >= 2
)"""
    }.mkString(",\n")
    s"""WITH $triCtes, e0 AS (SELECT a, b FROM p),
$rounds
SELECT CAST(0 AS BIGINT) AS round, (SELECT COUNT(*) FROM e0) AS n_edges,
  (SELECT COUNT(*) FROM tri) AS n_tri_alive
UNION ALL SELECT CAST(1 AS BIGINT), (SELECT COUNT(*) FROM e1), (SELECT COUNT(*) FROM t1)
UNION ALL SELECT CAST(2 AS BIGINT), (SELECT COUNT(*) FROM e2), (SELECT COUNT(*) FROM t2)
UNION ALL SELECT CAST(3 AS BIGINT), (SELECT COUNT(*) FROM e3), (SELECT COUNT(*) FROM t3)
ORDER BY round"""
  }

  /** Conductance of the LPA communities — the cut-quality score beside
    * `g_modularity`'s null-model score: φ(C) = cut(C) / min(vol(C),
    * 2m − vol(C)), the fraction of a community's edge volume that
    * LEAKS (low φ = a real cluster; φ near 1 = an arbitrary slice;
    * the Kannan–Vempala–Vetta quality measure and the standard seed-set
    * evaluation in local clustering). Per-community cut and volume are
    * exact integer aggregates off the shared edge list + LPA labels;
    * φ is one final division. Top 10 communities by volume.
    */
  private def conductance(s: SparkSession, dir: String): DataFrame = {
    val pairs = Checkpoints.round(coOrderPairs(s, dir))
    locally {
      val labels = coOrderLpaLabels(s, dir)
      val la = labels.select(col("node").as("a"), col("lbl").as("ca"))
      val lb = labels.select(col("node").as("b"), col("lbl").as("cb"))
      val m = pairs.count()
      val lab = pairs.join(la, "a").join(lb, "b")
      val cut = lab.where(col("ca") =!= col("cb"))
        .select(explode(array(col("ca"), col("cb"))).as("community"))
        .groupBy(col("community")).agg(count(lit(1)).as("cut_edges"))
      val deg = pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val vol = deg.join(labels, "node")
        .groupBy(col("lbl").as("community")).agg(sum(col("d")).as("vol"))
      def dd(c: org.apache.spark.sql.Column) = c.cast("double")
      vol.join(cut, Seq("community"), "left")
        .select(col("community"), col("vol"),
          coalesce(col("cut_edges"), lit(0L)).as("cut_edges"))
        .withColumn("conductance",
          // a community holding the WHOLE graph has min(vol, 2m−vol)=0
          // and no cut — φ is conventionally 0, not a division by zero
          when(least(col("vol"), lit(2 * m) - col("vol")) === 0, lit(0.0))
            .otherwise(dd(col("cut_edges")) /
              dd(least(col("vol"), lit(2 * m) - col("vol")))))
        .orderBy(col("vol").desc, col("community")).limit(10)
    }
  }

  private val conductanceOracle = s"""WITH $lpaCtes,
m AS (SELECT COUNT(*) AS m FROM p),
lab AS (
  SELECT p.a, p.b, la.lbl AS ca, lb.lbl AS cb
  FROM p JOIN l3 la ON p.a = la.node JOIN l3 lb ON p.b = lb.node
), cut AS (
  SELECT community, COUNT(*) AS cut_edges FROM (
    SELECT ca AS community FROM lab WHERE ca <> cb
    UNION ALL SELECT cb FROM lab WHERE ca <> cb
  ) GROUP BY 1
), vol AS (
  SELECT l.lbl AS community, CAST(SUM(d.deg) AS BIGINT) AS vol
  FROM deg d JOIN l3 l ON d.node = l.node GROUP BY 1
)
SELECT community, vol,
  CAST(COALESCE(cut.cut_edges, 0) AS BIGINT) AS cut_edges,
  CASE WHEN LEAST(vol, 2 * (SELECT m FROM m) - vol) = 0
    THEN ${D("0.0")}
    ELSE CAST(COALESCE(cut.cut_edges, 0) AS DOUBLE)
      / CAST(LEAST(vol, 2 * (SELECT m FROM m) - vol) AS DOUBLE)
  END AS conductance
FROM vol LEFT JOIN cut USING (community)
ORDER BY vol DESC, community LIMIT 10"""

  /** Modularity of the LPA communities — the quality score that says
    * whether the detected partition beats random wiring: Q = Σ_c
    * (m_c/m − (d_c/2m)²) from three INTEGER sufficient statistics per
    * community (intra-edge count, degree mass, global edge count);
    * each contribution is one fixed double tree. Computing Q closes
    * the loop on community detection: detect (`g_label_prop`), then
    * MEASURE — communities²-free, all joins on node/community keys.
    */
  private def modularity(s: SparkSession, dir: String): DataFrame = {
    // checkpoint, not persist/unpersist: the returned plan
    // executes AFTER this function exits, so an unpersist in a finally
    // would evict the cache before the intra/deg branches ever read it
    // and the distinct self-join would recompute at collect time
    val pairs = Checkpoints.round(coOrderPairs(s, dir))
    locally {
      val labels = coOrderLpaLabels(s, dir)
      val la = labels.select(col("node").as("a"), col("lbl").as("ca"))
      val lb = labels.select(col("node").as("b"), col("lbl").as("cb"))
      val m = pairs.count() // one driver scalar: the global edge count
      val intra = pairs.join(la, "a").join(lb, "b")
        .where(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("m_c"))
      val deg = pairs.select(col("a").as("node"))
        .union(pairs.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val dc = deg.join(labels, "node")
        .groupBy(col("lbl").as("community")).agg(sum(col("d")).as("d_c"))
      dc.join(intra, Seq("community"), "left")
        .select(col("community"),
          coalesce(col("m_c"), lit(0L)).as("m_c"), col("d_c"),
          (coalesce(col("m_c"), lit(0L)).cast("double") / lit(m).cast("double")
            - (col("d_c").cast("double") / lit(2 * m).cast("double"))
              * (col("d_c").cast("double") / lit(2 * m).cast("double")))
            .as("contribution"))
        .orderBy("community")
    }
  }

  private val modularityOracle = s"""WITH $lpaCtes,
m AS (SELECT COUNT(*) AS m FROM p),
intra AS (
  SELECT la.lbl AS community, COUNT(*) AS m_c
  FROM p JOIN l3 la ON p.a = la.node JOIN l3 lb ON p.b = lb.node
  WHERE la.lbl = lb.lbl GROUP BY 1
), dc AS (
  SELECT l3.lbl AS community, CAST(SUM(deg.deg) AS BIGINT) AS d_c
  FROM deg JOIN l3 ON deg.node = l3.node GROUP BY 1
)
SELECT dc.community, CAST(COALESCE(m_c, 0) AS BIGINT) AS m_c, d_c,
  CAST(COALESCE(m_c, 0) AS DOUBLE) / CAST(m AS DOUBLE)
    - (CAST(d_c AS DOUBLE) / CAST(2 * m AS DOUBLE))
      * (CAST(d_c AS DOUBLE) / CAST(2 * m AS DOUBLE)) AS contribution
FROM dc LEFT JOIN intra ON dc.community = intra.community, m
ORDER BY dc.community"""

  // --- neighborhood Jaccard (structural edge similarity) --------------
  /** Neighborhood-overlap similarity for the heaviest co-order edges:
    * J(N(a), N(b)) = |N(a)∩N(b)| / |N(a)∪N(b)| — the structural-
    * equivalence score behind link prediction and role discovery
    * (SimRank's first iteration). The scale shape: candidate edges are
    * bounded FIRST (top-[[JaccardTopEdges]] by co-order weight, a
    * TakeOrdered — at 100 TB you score the edges you care about, not
    * all of them), then the common-neighbor count is a broadcast-pruned
    * equi-join of the bounded edge set against the adjacency list —
    * work proportional to the endpoints' degrees, never a wedge
    * explosion.
    */
  private val JaccardTopEdges = 50

  private def neighborJaccard(s: SparkSession, dir: String): DataFrame = {
    val li = coOrderLi(s, dir)
    val a = li.select(col("ok"), col("pk").as("a"))
    val b = li.select(col("ok"), col("pk").as("b"))
    // top (50 rows) is read twice (the broadcast probe + the final
    // join): checkpoint it so the wedge join + weight agg + TakeOrdered
    // behind it run ONCE, not per consumer
    val top = Checkpoints.round(
      a.join(b, "ok").where(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("a"), col("b"))
        .limit(JaccardTopEdges),
      eager = false) // the broadcast-probe build materializes it
    val pairs = coOrderPairs(s, dir)
    val sym = pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val common = broadcast(top.select("a", "b"))
      .join(sym.select(col("u").as("a"), col("v").as("x")), Seq("a"))
      .join(sym.select(col("u").as("b"), col("v").as("x")), Seq("b", "x"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    top.join(common, Seq("a", "b"), "left")
      .na.fill(0L, Seq("n_common"))
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_orders"),
        col("deg_a"), col("deg_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
          .as("jaccard"))
      .orderBy("a", "b")
  }

  private val neighborJaccardOracle = s"""WITH $coOrderCtes,
w AS (
  SELECT a.pk AS a, b.pk AS b, COUNT(*) AS n_orders
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2
),
top AS (
  SELECT a, b, n_orders FROM w
  QUALIFY ROW_NUMBER() OVER (ORDER BY n_orders DESC, a, b) <= $JaccardTopEdges
),
common AS (
  SELECT t.a, t.b, COUNT(*) AS n_common
  FROM top t JOIN sym sa ON sa.u = t.a JOIN sym sb ON sb.u = t.b AND sb.v = sa.v
  GROUP BY 1, 2
)
SELECT t.a, t.b, t.n_orders,
  da.deg AS deg_a, db.deg AS deg_b,
  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
  CAST(COALESCE(c.n_common, 0) AS DOUBLE)
    / CAST(da.deg + db.deg - COALESCE(c.n_common, 0) AS DOUBLE) AS jaccard
FROM top t LEFT JOIN common c ON t.a = c.a AND t.b = c.b
JOIN deg da ON da.node = t.a JOIN deg db ON db.node = t.b
ORDER BY t.a, t.b"""

  // --- HITS hubs & authorities (fixed-point, 2 iterations) ------------
  /** [[Graphs.hits]] over the same per-user k-value transition graph as
    * `g_pagerank`: 2 iterations of sum-normalized integer HITS; top 20
    * nodes by authority. Normalization divides by (Σraw div 1e6) — a
    * divisor scale-DOWN, so no intermediate can overflow Long at any
    * SF (see the operator scaladoc). The oracle unrolls both
    * half-iterations per round as chained CTEs running the identical
    * floor arithmetic.
    */
  private def hitsQ(s: SparkSession, dir: String): DataFrame = {
    Graphs.hits(kEdges(s, dir), kNodes(s, dir), 2)
      .orderBy(col("auth_micro").desc, col("node"))
      .limit(20)
  }

  private val hitsOracle: String = {
    val iters = (1 to 2).map { i =>
      s"""ra$i AS (
  SELECT e.dst AS node, SUM(h.h * e.w) AS a
  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1
), da$i AS (SELECT GREATEST(SUM(a) // 1000000, 1) AS d FROM ra$i),
a$i AS (
  SELECT n.node, CAST(COALESCE(r.a // da$i.d, 0) AS BIGINT) AS a
  FROM nodes n LEFT JOIN ra$i r ON r.node = n.node, da$i
), rh$i AS (
  SELECT e.src AS node, SUM(a.a * e.w) AS h
  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY 1
), dh$i AS (SELECT GREATEST(SUM(h) // 1000000, 1) AS d FROM rh$i),
h$i AS (
  SELECT n.node, CAST(COALESCE(r.h // dh$i.d, 0) AS BIGINT) AS h
  FROM nodes n LEFT JOIN rh$i r ON r.node = n.node, dh$i
)"""
    }.mkString(",\n")
    s"""WITH $kGraphCtes, h0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes
),
$iters
SELECT a2.node, a2.a AS auth_micro, h2.h AS hub_micro
FROM a2 JOIN h2 ON a2.node = h2.node
ORDER BY auth_micro DESC, a2.node LIMIT 20"""
  }

  // --- per-node local clustering coefficient --------------------------
  /** [[Graphs.localTriangles]] over the co-order graph joined back onto
    * degrees: coeff(v) = 2·T(v) / (deg·(deg−1)), one double division
    * of exact integers. Top 25 triangle-dense nodes (deg ≥ 2). The
    * Spark side's degree-ordered orientation + bloom-prefiltered
    * closing join must reproduce the oracle's naive a<b<c 3-way
    * self-join per-corner counts exactly.
    */
  private def localClustering(s: SparkSession, dir: String): DataFrame =
    degreeTriangles(s, dir)
      .select(col("node"), col("deg"), col("n_tri"),
        ((col("n_tri") * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")).as("coeff"))
      .orderBy(col("coeff").desc, col("node"))
      .limit(25)

  /** (node, deg, n_tri) for every co-order node of degree ≥ 2, n_tri 0
    * when it closes no triangle — the rows both clustering readouts
    * aggregate (the SQL twin is [[triCtes]]' `deg` LEFT JOIN `cnt`). */
  private def degreeTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = coOrderPairs(s, dir)
    val tri = Graphs.localTrianglesOf(coOrderTriangles(s, dir))
    pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("n_tri"))
  }

  /** Degree-dependent clustering curve c(k): mean local clustering per
    * log2-degree bin — the hierarchical-structure readout (c(k) ~ 1/k
    * signals nested modularity; flat c(k) a random graph; Ravasz &
    * Barabási '03). Rides the SAME materialized triangle and pair
    * tables as g_local_clustering. Binning is the integer-exact
    * `length(bin(deg)) − 1` (no float log2 near a bin edge); the
    * unbounded per-bin coefficient set is floored to 1e-12 units and
    * integer-summed (the q_hhi discipline), so the mean is one final
    * division.
    */
  private def clusteringCurve(s: SparkSession, dir: String): DataFrame =
    degreeTriangles(s, dir)
      .select((length(bin(col("deg"))) - 1).cast("long").as("b"),
        floor((col("n_tri") * 2).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double")
          * lit(1000000000000L)).cast("long").as("cfix"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("cfix")).as("sfix"))
      .select(col("b").as("bin"), col("n_nodes"),
        (col("sfix").cast("double") / lit(1000000000000L).cast("double")
          / col("n_nodes").cast("double")).as("mean_coeff"))
      .orderBy("bin")

  private val clusteringCurveOracle = s"""WITH $triCtes, c AS (
  SELECT CAST(length(bin(d.deg)) - 1 AS BIGINT) AS bin,
    CAST(FLOOR(CAST(2 * COALESCE(cn.n_tri, 0) AS DOUBLE)
      / CAST(d.deg * (d.deg - 1) AS DOUBLE) * 1000000000000) AS BIGINT) AS cfix
  FROM deg d LEFT JOIN cnt cn ON cn.node = d.node
  WHERE d.deg >= 2
)
SELECT bin, COUNT(*) AS n_nodes,
  CAST(SUM(cfix) AS DOUBLE) / CAST(1000000000000 AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS mean_coeff
FROM c GROUP BY 1 ORDER BY bin"""

  private val localClusteringOracle = s"""WITH $triCtes
SELECT d.node, d.deg, CAST(COALESCE(c.n_tri, 0) AS BIGINT) AS n_tri,
  CAST(2 * COALESCE(c.n_tri, 0) AS DOUBLE)
    / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS coeff
FROM deg d LEFT JOIN cnt c ON c.node = d.node
WHERE d.deg >= 2
ORDER BY coeff DESC, d.node LIMIT 25"""

  // --- link prediction: resource allocation / Adamic–Adar --------------
  /** Link prediction from a BOUNDED source set (the 20 highest-degree
    * parts): for each source, score every non-adjacent 2-hop neighbor c
    * by the sum over common neighbors w of a per-neighbor `term` on
    * deg_w, and keep each source's top 3. The scale shape: candidates
    * come from a 2-hop walk out of 20 broadcast sources — work is
    * Σ_s Σ_{w∈N(s)} deg(w), never the all-pairs wedge explosion;
    * adjacency is removed with one anti-join. Two scores ride it:
    *   - resource allocation, `1e6 div deg(w)` (exact integer — no libm
    *     in the hash path);
    *   - Adamic–Adar, 1/ln(deg(w)) nano-floored before the integer sum:
    *     hubs are discounted LOGARITHMICALLY, so a shared niche
    *     neighbor still dominates but hubs aren't zeroed out (the
    *     empirically stronger predictor on co-purchase graphs, Adamic &
    *     Adar '03; ln is micro-boundary-trusted per the repo's log
    *     convention). Every common neighbor has deg ≥ 2, so ln never
    *     hits zero.
    * `oracleTerm` is the same term in DuckDB over `d.deg`.
    */
  private val LinkPredSources = 20

  private def linkPred(scoreCol: String, term: org.apache.spark.sql.Column)(
      s: SparkSession, dir: String): DataFrame = {
    val pairs = Checkpoints.round(coOrderPairs(s, dir))
    val sym = pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
    // deg is read twice (source ranking + the per-neighbor weight
    // join): checkpoint so the degree agg over sym runs once
    val deg = Checkpoints.round(
      sym.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    val sources = deg.orderBy(col("deg").desc, col("u"))
      .limit(LinkPredSources).select(col("u").as("s"))
    val hop1 = broadcast(sources)
      .join(sym.select(col("u").as("s"), col("v").as("w")), Seq("s"))
    val hop2 = hop1
      .join(sym.select(col("u").as("w"), col("v").as("c")), Seq("w"))
      .where(col("c") =!= col("s"))
    val nonAdj = hop2.join(
      sym.select(col("u").as("s"), col("v").as("c")), Seq("s", "c"),
      "left_anti")
    val scored = nonAdj
      .join(deg.select(col("u").as("w"), col("deg").as("deg_w")), Seq("w"))
      .groupBy(col("s"), col("c"))
      .agg(count(lit(1)).as("n_common"), sum(term).as(scoreCol))
    val win = Window.partitionBy(col("s"))
      .orderBy(col(scoreCol).desc, col("c"))
    scored.withColumn("rk", row_number().over(win)).where(col("rk") <= 3)
      .select(col("s").as("source"), col("c").as("candidate"),
        col("n_common"), col(scoreCol))
      .orderBy(col("source"), col(scoreCol).desc, col("candidate"))
  }

  private def linkPredOracle(scoreCol: String, oracleTerm: String): String =
    s"""WITH $coOrderCtes, src AS (
  SELECT node AS s FROM deg
  QUALIFY ROW_NUMBER() OVER (ORDER BY deg DESC, node) <= $LinkPredSources
), hop2 AS (
  SELECT src.s, s1.v AS w, s2.v AS c
  FROM src JOIN sym s1 ON s1.u = src.s JOIN sym s2 ON s2.u = s1.v
  WHERE s2.v <> src.s
), nonadj AS (
  SELECT h.s, h.w, h.c FROM hop2 h
  WHERE NOT EXISTS (SELECT 1 FROM sym e WHERE e.u = h.s AND e.v = h.c)
), scored AS (
  SELECT s, c, COUNT(*) AS n_common,
    CAST(SUM($oracleTerm) AS BIGINT) AS $scoreCol
  FROM nonadj JOIN deg d ON d.node = nonadj.w
  GROUP BY 1, 2
)
SELECT s AS source, c AS candidate, n_common, $scoreCol
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY $scoreCol DESC, c) <= 3
ORDER BY source, $scoreCol DESC, candidate"""

  /** [[Graphs.scc]] over the k-value transition graph — the DIRECTED
    * component structure `g_label_prop`'s undirected communities can't
    * see (a → b with no path back is one community but two SCCs).
    * Nodes are the ~100 `props.k` values, so the mutual-reachability
    * closure is tiny; per-SCC size and internal (src ≠ dst, distinct)
    * edge counts, largest first. The oracle builds the identical
    * closure with a recursive CTE.
    */
  private def sccQ(s: SparkSession, dir: String): DataFrame = {
    val edges = kEdges(s, dir)
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val labels = Graphs.scc(edges)
    val internal = edges
      .join(labels.select(col("node").as("src"), col("scc_id").as("sa")), "src")
      .join(labels.select(col("node").as("dst"), col("scc_id").as("sb")), "dst")
      .where(col("sa") === col("sb"))
      .groupBy(col("sa").as("scc_id"))
      .agg(count(lit(1)).as("ie"))
    labels.groupBy("scc_id").agg(count(lit(1)).as("n_nodes"))
      .join(internal, Seq("scc_id"), "left")
      .select(col("scc_id"), col("n_nodes"),
        coalesce(col("ie"), lit(0L)).as("n_internal_edges"))
      .orderBy(col("n_nodes").desc, col("scc_id"))
  }

  private val sccOracle: String = s"""WITH RECURSIVE $kSeqCtes, e AS (
  SELECT DISTINCT src, dst FROM seq WHERE dst IS NOT NULL AND src <> dst
), nodes AS (
  SELECT DISTINCT k AS n FROM ek
), reach AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
), mutual AS (
  SELECT a.src AS node, a.dst AS peer
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
), lab AS (
  SELECT n AS node, COALESCE(MIN(peer), n) AS scc_id
  FROM nodes LEFT JOIN mutual ON mutual.node = nodes.n GROUP BY n
), cnt AS (
  SELECT scc_id, COUNT(*) AS n_nodes FROM lab GROUP BY 1
), ie AS (
  SELECT la.scc_id, COUNT(*) AS n_internal_edges
  FROM e JOIN lab la ON la.node = e.src JOIN lab lb ON lb.node = e.dst
  WHERE la.scc_id = lb.scc_id GROUP BY 1
)
SELECT c.scc_id, c.n_nodes,
  CAST(COALESCE(ie.n_internal_edges, 0) AS BIGINT) AS n_internal_edges
FROM cnt c LEFT JOIN ie USING (scc_id)
ORDER BY n_nodes DESC, scc_id"""

  /** Targeted-attack robustness of the co-order graph (Albert, Jeong &
    * Barabási '00): remove the top-5 degree hubs and measure what
    * fraction of nodes the largest connected component retains —
    * scale-free graphs shatter under hub removal while staying immune
    * to random failure, and this number is the supply-chain
    * fragility readout for a product-affinity graph. Components via
    * the shared min-label CC on the filtered edge list; hub pick is a
    * total (degree desc, node) order. One row: before/after component
    * sizes and the retention ratio.
    */
  /** Component labels after exactly [[RobustRounds]] synchronous
    * min-label rounds — FIXED round count (not a fixpoint) so the
    * unrolled oracle computes the identical label set by construction.
    * Both the full and the hub-filtered co-order graph converge in 3
    * rounds at sf0.1 (measured); 4 carries the margin, and the
    * sf0.001 spec pins that the fixed-round labels equal a true
    * fixpoint. Each round is ONE join + aggregate: self-loops are
    * appended to the symmetric edge list once, so
    * lbl' = min over N(u) ∪ {u} needs no second join back to the old
    * labels (measured 7.7 → 3.8 s).
    */
  private val RobustRounds = 4

  /** [[RobustRounds]]-round synchronous min-label propagation over an
    * undirected (a, b) pair list — the fixed-round
    * [[graft.operators.Graphs.components]] loop (also the ScaleBench CC
    * curve, so the curve measures this query's rounds).
    * Returns (id, comp).
    */
  private def minLabelCc(pairs: DataFrame): DataFrame =
    Graphs.components(pairs.select(col("a").as("a_id"), col("b").as("b_id")),
      RobustRounds)

  /** Full-co-order-graph min-label component labels, materialized once
    * per dir (the coOrderTriangles / coOrderLpaLabels seam, r7-verdict
    * #7): the "before" half of g_robustness — and any future consumer
    * of full-graph components — stops re-paying the 4-round join
    * chain on every run.
    */
  private def coOrderCcLabels(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "coorder_cc4", dir) {
      minLabelCc(coOrderPairs(s, dir))
    }

  private def robustness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pairs IS already a materialized parquet artifact (coOrderPairs):
    // checkpointing it again only re-read and re-wrote 35 MB of blocks
    // (r10; the pre-materialization shape needed it, this one doesn't)
    val pairs = coOrderPairs(s, dir)
    locally {
      // deg feeds the hub pick AND the node count: lazy checkpoint so
      // the union + groupBy over pairs runs once, not twice (the hub
      // TakeOrdered materializes it; count reads blocks)
      val deg = Checkpoints.round(
        pairs.select(col("a").as("node"))
          .union(pairs.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("d")), eager = false)
      val hubs = Checkpoints.round(deg.orderBy(col("d").desc, col("node")).limit(5)
        .select(col("node")))
      val nNodes = deg.count()
      Checkpoints.free(deg)
      // "before" labels come from the SHARED materialization; only the
      // hub-filtered graph's labeling runs per-query
      val labA = coOrderCcLabels(s, dir)
      val filtered = pairs
        .join(hubs.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(hubs.select(col("node").as("b")), Seq("b"), "left_anti")
      val labB = minLabelCc(filtered)
      def giant(lab: DataFrame): Long = lab.groupBy(col("comp"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L)).as("giant"))
        .as[Long].head()
      val before = giant(labA)
      val after = giant(labB)
      Seq((nNodes, before, after, after.toDouble / before.toDouble))
        .toDF("n_nodes", "giant_before", "giant_after", "retention")
    }
  }

  private val robustnessOracle: String = {
    def rounds(tag: String): String = (1 to RobustRounds).map { i =>
      s"""l$tag$i AS MATERIALIZED (
  SELECT e.u AS node, MIN(l.lbl) AS lbl
  FROM e$tag e JOIN l$tag${i - 1} l ON l.node = e.v
  GROUP BY e.u)"""
    }.mkString(",\n")
    s"""WITH $coOrderCtes, hubs AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, ROW_NUMBER() OVER (ORDER BY deg DESC, node) AS rk FROM deg
  ) WHERE rk <= 5
), eA AS MATERIALIZED (
  SELECT u, v FROM sym UNION ALL SELECT node, node FROM deg
), lA0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lbl FROM eA
),
${rounds("A")},
pf AS MATERIALIZED (
  SELECT a, b FROM p
  WHERE a NOT IN (SELECT node FROM hubs)
    AND b NOT IN (SELECT node FROM hubs)
), eB AS MATERIALIZED (
  SELECT a AS u, b AS v FROM pf UNION ALL SELECT b, a FROM pf
  UNION ALL SELECT DISTINCT a, a FROM (
    SELECT a FROM pf UNION ALL SELECT b FROM pf) t(a)
), lB0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lbl FROM eB
),
${rounds("B")},
cA AS (
  SELECT MAX(n) AS giant FROM (
    SELECT lbl, COUNT(*) AS n FROM lA$RobustRounds GROUP BY 1)
), cB AS (
  SELECT COALESCE(MAX(n), 0) AS giant FROM (
    SELECT lbl, COUNT(*) AS n FROM lB$RobustRounds GROUP BY 1)
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
  CAST((SELECT giant FROM cA) AS BIGINT) AS giant_before,
  CAST((SELECT giant FROM cB) AS BIGINT) AS giant_after,
  CAST((SELECT giant FROM cB) AS DOUBLE)
    / CAST((SELECT giant FROM cA) AS DOUBLE) AS retention"""
  }

  /** Bow-tie decomposition of the k-transition digraph (Broder et al.
    * WWW'00, the canonical shape analysis for directed behavioral
    * graphs): size of the giant SCC core, IN (reaches the core), OUT
    * (reachable from it), and the remainder (tendrils/disconnected) —
    * "how much of the state space funnels through the recurrent
    * core". Core = the largest SCC from the shared [[Graphs.scc]]
    * labels (ties → smaller label); IN/OUT are frontier fixpoints over
    * the edge list, lineage cut per round, rounds bounded by graph
    * diameter on a ~|k|-node graph. The oracle reuses the SCC
    * transitive-closure CTE — reach to/from any core node.
    */
  private def bowtie(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Checkpoints.round(kEdges(s, dir)
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct())
    // IN/OUT come straight off the SCC loop's transitive closure —
    // reach(src, dst) ⊇ every ≥1-edge path — instead of re-running two
    // frontier fixpoints over the edge list (r10; the oracle reads the
    // same closure CTE): out = {r.dst : r.src ∈ core},
    // in = {r.src : r.dst ∈ core}, core excluded by the anti-join.
    val (labelsRaw, reach) = Graphs.sccWithClosure(edges)
    val labels = Checkpoints.round(labelsRaw)
    val giant = labels.groupBy(col("scc_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc_id")).limit(1)
      .select(col("scc_id")).as[Long].head()
    val core = Checkpoints.round(labels.where(col("scc_id") === giant)
      .select(col("node")))
    def reachSet(coreKey: String, emit: String): DataFrame =
      reach.join(core.withColumnRenamed("node", coreKey), Seq(coreKey))
        .select(col(emit).as("node")).distinct()
    val nodes = labels.select(col("node"))
    val nCore = core.count()
    val nOut = reachSet("src", "dst").join(core, Seq("node"), "left_anti").count()
    val nIn = reachSet("dst", "src").join(core, Seq("node"), "left_anti").count()
    val nAll = nodes.count()
    Checkpoints.free(reach)
    Seq((nAll, nCore, nIn, nOut, nAll - nCore - nIn - nOut))
      .toDF("n_nodes", "n_core", "n_in", "n_out", "n_other")
  }

  private val bowtieOracle: String = s"""WITH RECURSIVE $kSeqCtes, e AS (
  SELECT DISTINCT src, dst FROM seq WHERE dst IS NOT NULL AND src <> dst
), nodes AS (
  SELECT DISTINCT k AS n FROM ek
), reach AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
), mutual AS (
  SELECT a.src AS node, a.dst AS peer
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
), lab AS (
  SELECT n AS node, COALESCE(MIN(peer), n) AS scc_id
  FROM nodes LEFT JOIN mutual ON mutual.node = nodes.n GROUP BY n
), giant AS (
  SELECT scc_id FROM (
    SELECT scc_id, COUNT(*) AS n,
      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, scc_id) AS rk
    FROM lab GROUP BY 1
  ) WHERE rk = 1
), core AS (
  SELECT node FROM lab, giant WHERE lab.scc_id = giant.scc_id
), outside AS (
  SELECT DISTINCT r.dst AS node FROM reach r
  JOIN core c ON r.src = c.node
  WHERE r.dst NOT IN (SELECT node FROM core)
), inside AS (
  SELECT DISTINCT r.src AS node FROM reach r
  JOIN core c ON r.dst = c.node
  WHERE r.src NOT IN (SELECT node FROM core)
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
  (SELECT COUNT(*) FROM core) AS n_core,
  (SELECT COUNT(*) FROM inside) AS n_in,
  (SELECT COUNT(*) FROM outside) AS n_out,
  (SELECT COUNT(*) FROM nodes) - (SELECT COUNT(*) FROM core)
    - (SELECT COUNT(*) FROM inside) - (SELECT COUNT(*) FROM outside)
    AS n_other"""

  /** [[Graphs.temporalEarliestArrival]] over the timestamped k-value
    * transition edges (dep = the earlier event's epoch-ms, arr = the
    * later's): earliest time each k-state is reachable from the
    * smallest k value by a TIME-RESPECTING path of ≤ 6 hops — reach
    * `g_bfs_hops` can't express (a static path may never be traversable
    * in time order). Both engines run exactly 6 min-relaxation rounds
    * over exact longs; the oracle unrolls them as chained CTEs.
    */
  private def temporalReach(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = ev.select(col("user_id"), col("ts"), col("event_id"),
      regexp_extract(col("props"), kExpr, 1).cast("long").as("k"),
      unix_millis(col("ts")).as("ms"))
    val edges = base
      .withColumn("dst", lead(col("k"), 1).over(w))
      .withColumn("arr_ms", lead(col("ms"), 1).over(w))
      .where(col("dst").isNotNull)
      .select(col("k").as("src"), col("dst"), col("ms").as("dep_ms"),
        col("arr_ms"))
    val seed = base.agg(min(col("k")).as("node")).withColumn("t", lit(0L))
    Graphs.temporalEarliestArrival(edges, seed, 6)
      .orderBy(col("arrival_ms"), col("node"))
  }

  private val temporalReachOracle: String = {
    val iters = (1 to 6).map { i =>
      s"""r$i AS (
  SELECT node, MIN(t) AS t FROM (
    SELECT node, t FROM r${i - 1}
    UNION ALL
    SELECT e.dst AS node, e.arr_ms AS t
    FROM r${i - 1} r JOIN e ON e.src = r.node AND e.dep_ms >= r.t
  ) GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH $kSeqCtes, tseq AS (
  SELECT k AS src, epoch_ms(ts) AS dep_ms,
    LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst,
    LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS arr_ms
  FROM ek
), e AS (
  SELECT src, dst, dep_ms, arr_ms FROM tseq WHERE dst IS NOT NULL
), r0 AS (
  SELECT MIN(k) AS node, CAST(0 AS BIGINT) AS t FROM ek
),
$iters
SELECT node, t AS arrival_ms FROM r6 ORDER BY arrival_ms, node"""
  }

  /** [[Graphs.multiSourceBfs]] over the w ≥ 4 k-transition graph (the
    * `g_bfs_hops` edge set): per-node TRUNCATED harmonic centrality
    * Σ 1/d(v,u) over the 8-hop horizon plus reach count and h-bounded
    * eccentricity — the centrality family that stays computable at
    * scale because the horizon bounds every frontier. Reciprocals are
    * summed as exact micro-units (`1000000 div h`), so the ranking is
    * integer-stable in any engine. The oracle replays the same
    * horizon with a bounded recursive CTE + MIN(hop).
    */
  /** 8-hop multi-source BFS distances over the w ≥ 4 backbone —
    * materialized once per dir and shared by g_closeness and
    * g_path_lengths (both are rollups of the same (source, node, hops)
    * table; without this each pays the full frontier loop per rep). */
  private def kMsBfs(s: SparkSession, dir: String): DataFrame =
    Scratch.materialize(s, "kgraph_msbfs", dir) {
      Graphs.multiSourceBfs(
        kEdges(s, dir)
          .where(col("src") =!= col("dst") && col("w") >= 4)
          .select("src", "dst"),
        8)
    }

  private def closeness(s: SparkSession, dir: String): DataFrame = {
    kMsBfs(s, dir)
      .where(col("hops") > 0)
      .groupBy(col("source").as("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 div hops")).as("harmonic_micro"),
        max(col("hops")).as("ecc_8"))
      .orderBy(col("harmonic_micro").desc, col("node"))
  }

  private val closenessOracle = s"""WITH RECURSIVE $kSeqCtes, we AS (
  SELECT src, dst, COUNT(*) AS w FROM seq
  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2
), edges AS (
  SELECT src, dst FROM we WHERE w >= 4
), nodes AS (
  SELECT DISTINCT src AS n FROM edges UNION SELECT DISTINCT dst FROM edges
), reach(s, node, hop) AS (
  SELECT n, n, 0 FROM nodes
  UNION
  SELECT r.s, e.dst, r.hop + 1
  FROM reach r JOIN edges e ON e.src = r.node WHERE r.hop < 8
), d AS (
  SELECT s, node, MIN(hop) AS h FROM reach GROUP BY 1, 2
)
SELECT s AS node, COUNT(*) AS n_reached,
  CAST(SUM(1000000 // h) AS BIGINT) AS harmonic_micro,
  CAST(MAX(h) AS BIGINT) AS ecc_8
FROM d WHERE h > 0 GROUP BY s
ORDER BY harmonic_micro DESC, node"""

  /** Shortest-path length distribution of the w ≥ 4 transition graph
    * over the 8-hop horizon: pairs reached per hop count, cumulative
    * share, and (readable off the cum_share column) the effective
    * diameter — the small-world diagnostic that says how many
    * traversal rounds any reachability-bounded computation actually
    * needs. Shares the one multi-source BFS with g_closeness; the
    * per-hop rollup is 8 rows, so the trailing window is trivially
    * bounded. Pair counts exact; shares are single divisions.
    */
  private def pathLengths(s: SparkSession, dir: String): DataFrame = {
    val perHop = kMsBfs(s, dir)
      .where(col("hops") > 0)
      .groupBy(col("hops").cast("long").as("hop"))
      .agg(count(lit(1)).as("n_pairs"))
    val tot = perHop.agg(sum(col("n_pairs")).as("np"))
    val wc = Window.orderBy("hop")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perHop.crossJoin(broadcast(tot))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(wc))
      .select(col("hop"), col("n_pairs"), col("cum_pairs"),
        (col("cum_pairs").cast("double") / col("np").cast("double"))
          .as("cum_share"))
      .orderBy("hop")
  }

  private val pathLengthsOracle = s"""WITH RECURSIVE $kSeqCtes, we AS (
  SELECT src, dst, COUNT(*) AS w FROM seq
  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2
), edges AS (
  SELECT src, dst FROM we WHERE w >= 4
), nodes AS (
  SELECT DISTINCT src AS n FROM edges UNION SELECT DISTINCT dst FROM edges
), reach(s, node, hop) AS (
  SELECT n, n, 0 FROM nodes
  UNION
  SELECT r.s, e.dst, r.hop + 1
  FROM reach r JOIN edges e ON e.src = r.node WHERE r.hop < 8
), d AS (
  SELECT s, node, MIN(hop) AS h FROM reach GROUP BY 1, 2
), perhop AS (
  SELECT CAST(h AS BIGINT) AS hop, COUNT(*) AS n_pairs
  FROM d WHERE h > 0 GROUP BY 1
), tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS np FROM perhop)
SELECT hop, n_pairs,
  CAST(SUM(n_pairs) OVER (ORDER BY hop
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_pairs,
  CAST(SUM(n_pairs) OVER (ORDER BY hop
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / CAST(np AS DOUBLE) AS cum_share
FROM perhop, tot ORDER BY hop"""

  /** Directed 3-node motif census over the w ≥ 4 transition backbone —
    * the Milo-et-al readout that separates hierarchy from recurrence:
    * feed-forward loops (a→b, b→c, a→c) vs 3-cycles (a→b→c→a).
    * Each FFL is counted once at its unique (a, c) shortcut; each
    * cycle is canonicalized to its minimum-id rotation (a < b, a < c)
    * so it counts once. Three equi-joins on the tiny materialized edge
    * table; the oracle restates them verbatim.
    */
  private def motifs(s: SparkSession, dir: String): DataFrame = {
    val e = kEdges(s, dir)
      .where(col("src") =!= col("dst") && col("w") >= 4)
      .select(col("src"), col("dst"))
    val ffl = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), "b")
      .where(col("a") =!= col("c"))
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"),
        "left_semi")
      .agg(count(lit(1)).as("n"))
      .select(lit("feed_forward").as("motif"), col("n"))
    val cyc = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), "b")
      .where(col("a") =!= col("c"))
      .join(e.select(col("src").as("c"), col("dst").as("a")), Seq("a", "c"),
        "left_semi")
      .where(col("a") < col("b") && col("a") < col("c"))
      .agg(count(lit(1)).as("n"))
      .select(lit("cycle").as("motif"), col("n"))
    ffl.unionByName(cyc).orderBy("motif")
  }

  private val motifsOracle: String = s"""WITH $kSeqCtes, we AS (
  SELECT src, dst, COUNT(*) AS w FROM seq
  WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2
), e AS MATERIALIZED (
  SELECT src, dst FROM we WHERE w >= 4
), ffl AS (
  SELECT COUNT(*) AS n
  FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src <> e2.dst
  WHERE EXISTS (SELECT 1 FROM e e3
    WHERE e3.src = e1.src AND e3.dst = e2.dst)
), cyc AS (
  SELECT COUNT(*) AS n
  FROM e e1 JOIN e e2 ON e1.dst = e2.src AND e1.src <> e2.dst
  WHERE EXISTS (SELECT 1 FROM e e3
    WHERE e3.src = e2.dst AND e3.dst = e1.src)
    AND e1.src < e1.dst AND e1.src < e2.dst
)
SELECT 'cycle' AS motif, CAST(n AS BIGINT) AS n FROM cyc
UNION ALL
SELECT 'feed_forward', CAST(n AS BIGINT) FROM ffl
ORDER BY motif"""

  // --- Katz centrality --------------------------------------------------
  /** Katz centrality over the co-order graph, truncated at path length
    * 3: katz(v) = Σₖ αᵏ·|walks of length k ending at v| — the
    * prestige score that, unlike degree, credits a node for having
    * well-connected neighbors (and unlike PageRank, does not split a
    * neighbor's contribution by its out-degree). The walk counts s₁/s₂/
    * s₃ are EXACT BIGINTs (each level is one join+aggregate against the
    * previous level on the shared materialized edge list — the same
    * synchronous-round shape as pagerank), so the only float work is
    * the final three-term weighted sum with Scala-injected αᵏ
    * constants added left-to-right on both sides. Top 20.
    */
  private val KatzAlpha = 0.01
  private val KatzAlpha2 = KatzAlpha * KatzAlpha
  private val KatzAlpha3 = KatzAlpha * KatzAlpha * KatzAlpha

  private def katz(s: SparkSession, dir: String): DataFrame =
    katzTop(coOrderPairs(s, dir))

  /** g_katz over any undirected (a, b) edge list (a < b, distinct) —
    * ScaleBench's katz_levels point times this same body. */
  def katzTop(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("a").as("u"), col("b").as("v"))
      .union(pairs.select(col("b").as("u"), col("a").as("v")))
      .persist()
    try {
      val s1 = Checkpoints.round(
        sym.groupBy(col("u")).agg(count(lit(1)).as("s1")))
      val s2 = Checkpoints.round(
        sym.join(s1.select(col("u").as("v"), col("s1")), "v")
          .groupBy(col("u")).agg(sum(col("s1")).as("s2")))
      val s3 = sym.join(s2.select(col("u").as("v"), col("s2")), "v")
        .groupBy(col("u")).agg(sum(col("s2")).as("s3"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      s1.join(s2, "u").join(s3, "u")
        .select(col("u").as("node"), col("s1").as("deg"),
          col("s2").as("paths2"), col("s3").as("paths3"),
          (d(col("s1")) * lit(KatzAlpha) + d(col("s2")) * lit(KatzAlpha2)
            + d(col("s3")) * lit(KatzAlpha3)).as("katz"))
        .orderBy(col("katz").desc, col("node")).limit(20)
    } finally sym.unpersist(blocking = false)
  }

  private val katzOracle: String = s"""WITH $coOrderCtes, s1 AS MATERIALIZED (
  SELECT u, COUNT(*) AS s1 FROM sym GROUP BY 1
), s2 AS MATERIALIZED (
  SELECT sym.u, CAST(SUM(s1.s1) AS BIGINT) AS s2
  FROM sym JOIN s1 ON sym.v = s1.u GROUP BY 1
), s3 AS MATERIALIZED (
  SELECT sym.u, CAST(SUM(s2.s2) AS BIGINT) AS s3
  FROM sym JOIN s2 ON sym.v = s2.u GROUP BY 1
)
SELECT s1.u AS node, s1.s1 AS deg, s2.s2 AS paths2, s3.s3 AS paths3,
  CAST(s1.s1 AS DOUBLE) * ${Sql.Dlit(KatzAlpha)}
    + CAST(s2.s2 AS DOUBLE) * ${Sql.Dlit(KatzAlpha2)}
    + CAST(s3.s3 AS DOUBLE) * ${Sql.Dlit(KatzAlpha3)} AS katz
FROM s1 JOIN s2 ON s1.u = s2.u JOIN s3 ON s1.u = s3.u
ORDER BY katz DESC, node LIMIT 20"""

  // --- Item-item collaborative filtering ---------------------------------
  /** Item-item co-purchase recommender: cosine similarity
    * co(a,b)/√(d(a)·d(b)) between co-occurrence counts (shared orders)
    * and per-item order frequencies, reported as the top-10 neighbor
    * list for the 20 highest-frequency seed parts. The co-occurrence
    * aggregate is the one orderkey-equi-join wedge (never all-pairs:
    * only items sharing an order meet), the seed set broadcasts, and
    * the per-seed top-10 window is bounded by seed count × candidate
    * list — the classic Amazon-style item-to-item shape on Spark.
    */
  private def cfCosine(s: SparkSession, dir: String): DataFrame =
    cfCosineTop(coOrderLi(s, dir))

  /** g_cf_cosine over any distinct (ok, pk) order–item incidence —
    * ScaleBench's cf_cosine point times this same body. */
  def cfCosineTop(li: DataFrame): DataFrame = {
    val co = li.select(col("ok"), col("pk").as("a"))
      .join(li.select(col("ok"), col("pk").as("b")), "ok")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("co"))
    val d = li.groupBy(col("pk")).agg(count(lit(1)).as("d"))
    val seeds = d.orderBy(col("d").desc, col("pk")).limit(20)
      .select(col("pk").as("seed"))
    // both directions from ONE pass over co: explode the two
    // orientations and broadcast-join the 20 seeds once — the previous
    // per-direction joins each re-ran the wedge join + weight agg
    // behind co (same multiset: union-all of the directional joins)
    val cand = co.select(explode(array(
        struct(col("a").as("seed"), col("b").as("item"), col("co")),
        struct(col("b").as("seed"), col("a").as("item"), col("co")))).as("x"))
      .select(col("x.seed").as("seed"), col("x.item").as("item"),
        col("x.co").as("co"))
      .join(broadcast(seeds), "seed")
    def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
    // the SEED list is always 20 rows and broadcasts explicitly; the
    // degree table is catalog-sized (could be 10⁸ items at 100 TB), so
    // its two joins are left to AQE — broadcast while small, shuffle
    // when the catalog outgrows the driver
    val scored = cand
      .join(d.select(col("pk").as("seed"), col("d").as("ds")), "seed")
      .join(d.select(col("pk").as("item"), col("d").as("di")), "item")
      .select(col("seed"), col("item"), col("co"),
        (dbl(col("co")) / sqrt(dbl(col("ds")) * dbl(col("di")))).as("cosine"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("seed"))
        .orderBy(col("cosine").desc, col("item"))).cast("long"))
      .where(col("rnk") <= 10)
      .select(col("seed"), col("item"), col("co").as("co_orders"),
        col("cosine"), col("rnk"))
      .orderBy("seed", "rnk")
  }

  private val cfCosineOracle: String = s"""WITH $coOrderLiCte, co AS MATERIALIZED (
  SELECT a.pk AS a, b.pk AS b, COUNT(*) AS co
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), d AS MATERIALIZED (
  SELECT pk, COUNT(*) AS d FROM li GROUP BY 1
), seeds AS (
  SELECT pk AS seed FROM d ORDER BY d DESC, pk LIMIT 20
), cand AS (
  SELECT s.seed, co.b AS item, co.co FROM co JOIN seeds s ON co.a = s.seed
  UNION ALL
  SELECT s.seed, co.a, co.co FROM co JOIN seeds s ON co.b = s.seed
), sc AS (
  SELECT seed, item, co,
    CAST(co AS DOUBLE) / SQRT(CAST(ds.d AS DOUBLE) * CAST(di.d AS DOUBLE)) AS cosine
  FROM cand JOIN d ds ON cand.seed = ds.pk JOIN d di ON cand.item = di.pk
), r AS (
  SELECT seed, item, co, cosine,
    CAST(ROW_NUMBER() OVER (PARTITION BY seed ORDER BY cosine DESC, item) AS BIGINT) AS rnk
  FROM sc
)
SELECT seed, item, co AS co_orders, cosine, rnk
FROM r WHERE rnk <= 10 ORDER BY seed, rnk"""

  // --- Degree-distribution Gini ------------------------------------------
  /** Gini coefficient of the co-order graph's degree distribution —
    * the single-number hub-concentration readout beside g_rich_club's
    * curve (G→0: egalitarian mesh; G→1: a few hub parts carry the
    * basket structure). Same exact-integer rank formula as q_gini
    * (2·Σi·dᵢ/(n·Σd) − (n+1)/n over ascending (degree, node) rank);
    * the global rank comes from [[graft.operators.Ids.prefixSum]]
    * (range-partitioned two-pass offsets) so no task ever holds the
    * node-cardinality degree table — the r7-verdict window-funnel
    * sweep.
    */
  private def degreeGini(s: SparkSession, dir: String): DataFrame = {
    val pairs = coOrderPairs(s, dir)
    val deg = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    graft.operators.Ids.prefixSum(deg, Seq(col("d"), col("node")), "i")
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("sum_deg"),
        sum(col("i") * col("d")).as("sid"))
      .select(col("n_nodes"), col("sum_deg"),
        ((lit(2L) * col("sid")).cast("double")
          / (col("n_nodes") * col("sum_deg")).cast("double")
          - (col("n_nodes") + lit(1L)).cast("double")
            / col("n_nodes").cast("double")).as("degree_gini"))
  }

  private val degreeGiniOracle = s"""WITH $coOrderCtes, r AS (
  SELECT deg AS d,
    CAST(ROW_NUMBER() OVER (ORDER BY deg, node) AS BIGINT) AS i FROM deg
), a AS (
  SELECT COUNT(*) AS n, CAST(SUM(d) AS BIGINT) AS sd,
    CAST(SUM(i * d) AS BIGINT) AS sid
  FROM r
)
SELECT n AS n_nodes, sd AS sum_deg,
  CAST(2 * sid AS DOUBLE) / CAST(n * sd AS DOUBLE)
    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS degree_gini
FROM a"""

  def defs: Seq[QueryDef] = Seq(
    QueryDef("g_degree_gini", degreeGini, Some(degreeGiniOracle)),
    QueryDef("g_katz", katz, Some(katzOracle)),
    QueryDef("g_cf_cosine", cfCosine, Some(cfCosineOracle)),
    QueryDef("g_motifs", motifs, Some(motifsOracle)),
    QueryDef("g_closeness", closeness, Some(closenessOracle)),
    QueryDef("g_hits", hitsQ, Some(hitsOracle)),
    QueryDef("g_local_clustering", localClustering, Some(localClusteringOracle)),
    QueryDef("g_clustering_curve", clusteringCurve, Some(clusteringCurveOracle)),
    QueryDef("g_link_pred_ra", linkPred("ra_micro", expr("1000000 div deg_w")),
      Some(linkPredOracle("ra_micro", "1000000 // d.deg"))),
    QueryDef("g_neighbor_jaccard", neighborJaccard, Some(neighborJaccardOracle)),
    QueryDef("g_modularity", modularity, Some(modularityOracle)),
    QueryDef("g_kcore", kcore, Some(kcoreOracle)),
    QueryDef("g_ktruss", ktruss, Some(ktrussOracle)),
    QueryDef("g_link_pred_aa",
      linkPred("aa_nano",
        floor(lit(1e9) / log(col("deg_w").cast("double"))).cast("long")),
      Some(linkPredOracle("aa_nano",
        s"CAST(FLOOR(${D("1e9")} / ln(CAST(d.deg AS DOUBLE))) AS BIGINT)"))),
    QueryDef("g_stationary_dist", stationaryDist, Some(stationaryDistOracle)),
    QueryDef("g_conductance", conductance, Some(conductanceOracle)),
    QueryDef("g_bowtie", bowtie, Some(bowtieOracle)),
    QueryDef("g_robustness", robustness, Some(robustnessOracle)),
    QueryDef("g_markov_accuracy", markovAccuracy, Some(markovAccuracyOracle)),
    QueryDef("g_bfs_hops", bfsHops, Some(bfsHopsOracle)),
    QueryDef("g_diameter_2sweep", diameter2Sweep, Some(diameter2SweepOracle)),
    QueryDef("g_rich_club", richClub, Some(richClubOracle)),
    QueryDef("g_assortativity", assortativity, Some(assortativityOracle)),
    QueryDef("g_entropy_rate", entropyRate, Some(entropyRateOracle)),
    QueryDef("g_reciprocity", reciprocity, Some(reciprocityOracle)),
    QueryDef("g_path_lengths", pathLengths, Some(pathLengthsOracle)),
    QueryDef("g_scc", sccQ, Some(sccOracle)),
    QueryDef("g_temporal_reach", temporalReach, Some(temporalReachOracle)),
    QueryDef("g_pagerank", pagerank, Some(pagerankOracle)),
    QueryDef("g_ppr", ppr, Some(pprOracle)),
    QueryDef("g_triangles", triangles, Some(trianglesOracle)),
    QueryDef("g_label_prop", labelProp, Some(labelPropOracle)),
    QueryDef("g_assoc_rules", assocRules, Some(assocRulesOracle)))
}
