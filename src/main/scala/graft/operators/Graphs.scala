package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames — PageRank and
  * triangle counting, the two classic "does your engine do graphs"
  * probes. Both are expressed as joins + aggregations so Catalyst owns
  * the physical strategy (AQE picks broadcast vs shuffle per
  * iteration), and both use EXACT integer arithmetic so results are
  * hash-reproducible against any engine that floors the same way.
  *
  * Scale notes (100 TB / 1e9+ edges):
  *   - PageRank shuffles once per iteration on the join key (src) plus
  *     once on dst for the inflow aggregation — the minimum for an
  *     edge-partitioned layout. The rank vector (one long per node) is
  *     orders of magnitude smaller than edges; Catalyst broadcasts it
  *     when below the threshold and shuffle-joins otherwise, no code
  *     change. Edges are persisted once and reused across iterations.
  *   - For deep iteration counts the lineage must be cut (the same
  *     per-round [[Checkpoints.round]] pattern as [[components]]); at
  *     5 iterations the plan is shallow enough that checkpointing would
  *     cost more than it saves.
  *   - Triangle counting uses the degree-ordered orientation: each
  *     undirected edge points from the lower-(degree, id) endpoint to
  *     the higher one, so every out-degree is O(√E) even on power-law
  *     graphs — the wedge join can never explode on a hub node. Each
  *     triangle has exactly one node with two out-edges, so it is
  *     counted exactly once, and the count equals the naive
  *     a<b<c 3-way join an oracle can run.
  */
object Graphs {

  /** Weighted PageRank in fixed-point micro-units (integer-exact).
    *
    * r₀(v) = 1e6; rₜ₊₁(v) = 150000 + (85 · inflow(v)) div 100, where
    * inflow(v) = Σ over in-edges (rₜ(u) · w(u,v)) div W(u), W(u) the
    * total out-weight. Every division is an integer floor division, so
    * the trajectory is bit-reproducible in any engine. Mass entering a
    * dangling node (no out-edges) leaves the system — the
    * "PageRank without dangling redistribution" variant — identically
    * on both sides.
    *
    * This is [[personalizedPageRank]] with every node in the seed set:
    * the teleport indicator folds to the constant 1, leaving exactly
    * the start and update above.
    *
    * @param edges (src: long-castable, dst, w: long weight ≥ 1)
    * @param nodes single-column node universe (may exceed edge endpoints)
    * @return (node, rank_micro) — exact longs
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iterations: Int): DataFrame =
    personalizedPageRank(edges, nodes, iterations, lit(true))

  /** Personalized PageRank (random walk with restart) in the same
    * fixed-point micro-units as [[pageRank]], with the teleport mass
    * restricted to a seed set instead of spread uniformly:
    *
    * r₀(v) = 1e6·[v ∈ S]; rₜ₊₁(v) = 150000·[v ∈ S] + (85·inflow(v)) div 100.
    *
    * Every division is an integer floor division, so the trajectory is
    * bit-reproducible in any engine (an oracle unrolls the identical
    * CTE chain). Non-seed nodes only accumulate walk mass — rank 0
    * means "unreachable from the seed set", the property PPR is used
    * for (topic-sensitive ranking, recommendation neighborhoods).
    *
    * Scale shape: one shuffle per iteration on src plus one on dst, a
    * rank vector of one long per node, edges persisted once across
    * iterations. The seed predicate is a Column over `node`, evaluated
    * inside the plan — no driver-side seed list to collect or
    * broadcast by hand.
    *
    * @param seedPred boolean Column over the canonical `node` column
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
      iterations: Int, seedPred: Column): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val nodeCol = nodes.columns.head
    // node universe and edge list are both re-read every iteration:
    // persist BOTH once (the node derivation may itself be a full scan
    // of the source table — without this the loop re-scans it
    // iterations+1 times, the kmeansCentroids lesson)
    val nds = nodes.select(col(nodeCol).cast("long").as("node")).persist()
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    // per-edge share denominators are joined once, not per iteration
    val e = edges.join(outW, "src")
      .select(col("src"), col("dst"), col("w"), col("w_out"))
      .persist()
    e.count() // materialize before the loop so iterations reuse the cache
    try {
      val teleport = when(seedPred, lit(1L)).otherwise(lit(0L))
      var ranks = nds.withColumn("r", teleport * lit(1000000L))
      for (_ <- 1 to iterations) {
        val inflow = e.join(ranks, e("src") === ranks("node"))
          .select(col("dst"), expr("(r * w) div w_out").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        ranks = nds
          .join(inflow, col("node") === col("dst"), "left")
          .select(col("node"),
            (teleport * lit(150000L) +
              expr("(85 * coalesce(inflow, 0L)) div 100")).as("r"))
      }
      // cut lineage before the caches go: the result is one long per
      // node, tiny next to the edge list it summarizes
      ranks.select(col("node"), col("r").as("rank_micro"))
        .localCheckpoint(eager = true)
    } finally {
      e.unpersist(blocking = false)
      nds.unpersist(blocking = false)
    }
  }

  /** Exact global triangle / wedge census of an undirected edge list
    * (any orientation, duplicates and self-loops allowed): the
    * [[triangleCensusOf]] readout over its canonical edges and their
    * [[triangleTriples]].
    */
  def triangleCensus(pairs: DataFrame): DataFrame = {
    val p = canonicalEdges(pairs)
    triangleCensusOf(p, triangleTriples(p))
  }

  /** One row: n_nodes, n_edges, n_wedges, n_triangles, and the global
    * clustering coefficient 3·T / W (a single deterministic double
    * division of two exact longs — no float accumulation). `edges` is
    * canonical (a < b, distinct); `triples` holds each of its
    * triangles once ([[triangleTriples]]), so a caller that shares a
    * materialized triple table pays no wedge join here.
    */
  def triangleCensusOf(edges: DataFrame, triples: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // wedge census over the UNDIRECTED degree: sum C(deg, 2)
    val census = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(deg) div 2").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    census.crossJoin(triples.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        (lit(3.0) * col("n_triangles") / col("n_wedges")).as("clustering"))
  }

  /** HITS hubs & authorities in fixed-point micro-units (integer-exact).
    *
    * h₀(v) = 1e6. Per iteration: rawAuth(v) = Σ over in-edges h(u)·w;
    * auth = rawAuth div max(ΣrawAuth div 1e6, 1) — i.e. sum-normalized
    * to ≈1e6 total mass via a DIVISOR scale-down rather than a
    * numerator scale-up (rawAuth·1e6 would overflow Long once edge
    * mass passes ~1e12; rawAuth div (sum div 1e6) never can, at any
    * SF). rawHub(u) = Σ over out-edges auth(v)·w, same normalization.
    * Every op is Long floor arithmetic, so any engine that floors the
    * same way reproduces the exact trajectory.
    *
    * Scale shape: per half-iteration ONE join of the (node, score)
    * vector onto the edge list (broadcast while small — the vector is
    * one long per node) + one aggregation on the far endpoint; the
    * normalizing sum is a scalar crossJoin, not a collect. Edges are
    * persisted once across iterations.
    *
    * @param edges (src, dst, w: long weight ≥ 1) directed
    * @param nodes single-column node universe
    * @return (node, auth_micro, hub_micro) — exact longs
    */
  def hits(edges: DataFrame, nodes: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val nodeCol = nodes.columns.head
    val nds = nodes.select(col(nodeCol).cast("long").as("node")).persist()
    val e = edges.select(col("src"), col("dst"), col("w")).persist()
    e.count()
    try {
      def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
        // scale-down divisor d = max(Σraw div 1e6, 1): overflow-free twin
        // of raw·1e6 div Σraw (see scaladoc)
        val d = raw.agg(
          greatest(expr(s"sum($scoreCol) div 1000000"), lit(1L)).as("d"))
        nds.join(raw.crossJoin(d)
            .select(col("node"), expr(s"$scoreCol div d").as(scoreCol)),
            Seq("node"), "left")
          .na.fill(0L, Seq(scoreCol))
      }
      var hub = nds.withColumn("h", lit(1000000L))
      var hubOwned = false // round 0's hub is a plain projection, not ours
      // assigned on the first pass — `iterations >= 1` is required, so
      // no initial auth vector is ever read
      var auth: DataFrame = null
      for (_ <- 1 to iterations) {
        val rawAuth = e.join(hub.select(col("node").as("src"), col("h")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("h") * col("w")).as("a"))
        val nextAuth = Checkpoints.round(normalized(rawAuth, "a"))
        if (auth != null) Checkpoints.free(auth)
        auth = nextAuth
        val rawHub = e.join(auth.select(col("node").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("a") * col("w")).as("h"))
        val nextHub = Checkpoints.round(normalized(rawHub, "h"))
        if (hubOwned) Checkpoints.free(hub)
        hub = nextHub
        hubOwned = true
      }
      val out = auth.join(hub, "node")
        .select(col("node"), col("a").as("auth_micro"), col("h").as("hub_micro"))
        .localCheckpoint(eager = true)
      Checkpoints.free(auth)
      Checkpoints.free(hub)
      out
    } finally {
      e.unpersist(blocking = false)
      nds.unpersist(blocking = false)
    }
  }

  /** An undirected edge list as (a, b) with a < b, each edge once. */
  private def canonicalEdges(pairs: DataFrame): DataFrame =
    pairs.toDF("a", "b").where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** Every triangle exactly once, as its (u, x, y) corner triple —
    * the degree-ordered wedge enumeration shared by the census, the
    * per-node counts, and any consumer that wants the triangles
    * themselves (motif features, closure sampling). Orientation bounds
    * every out-degree at O(√E) so the wedge join cannot explode on
    * hubs; the closing-edge match is an equi-join on (x, y) behind a
    * bloom prefilter. Eagerly checkpointed: the internal persists are
    * released before return, so the result must not re-derive from
    * them.
    */
  def triangleTriples(pairs: DataFrame): DataFrame = {
    // the canonical edge list feeds THREE consumers (degrees, the
    // orientation join, the closing-edge join): materialize it once —
    // rebuilding it tripled the wall time when `pairs` is itself a join
    // (e.g. the market-basket co-order graph)
    val p = canonicalEdges(pairs).persist()
    val deg = p.select(col("a").as("v")).unionAll(p.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient each edge toward the higher (deg, id) endpoint
    val da = deg.select(col("v").as("a"), col("deg").as("deg_a"))
    val db = deg.select(col("v").as("b"), col("deg").as("deg_b"))
    val oriented = p.join(da, "a").join(db, "b")
      .select(
        when(col("deg_a") < col("deg_b") ||
          (col("deg_a") === col("deg_b") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("t")))
          .otherwise(struct(col("b").as("u"), col("a").as("t"))).as("e"))
      .select(col("e.u").as("u"), col("e.t").as("t"))
      .persist()
    val nEdges = oriented.count()
    try {
      // wedges at u: unordered out-neighbor pairs; close with any edge
      val o1 = oriented.select(col("u"), col("t").as("x"))
      val o2 = oriented.select(col("u"), col("t").as("y"))
      val wedgesAll = o1.join(o2, "u").where(col("x") < col("y"))
      val closing = p.select(col("a").as("x"), col("b").as("y"))
      // the wedge set is ~Σ C(outdeg,2) — orders of magnitude larger
      // than E. Shuffling ALL wedges into the closing-edge join is the
      // bottleneck, so prefilter with a bloom over the edge keys
      // (~1.2 bytes/edge at 1% fpp): survivors ≈ triangles + 1% of
      // wedges, a ~10-50× shuffle cut before the exact join. The
      // filter is injected as a SCALAR SUBQUERY — built on the cluster,
      // shipped once with the stage's task binary — never collected or
      // embedded as a plan literal (a 1e8-edge filter is ~150 MB; a
      // literal that size is copied through every optimizer pass).
      // Bits are capped at 2^28 (32 MB serialized): past ~22M edges the
      // fpp degrades gracefully instead of the memory growing, and past
      // the 1e8-edge guard fall back to the plain shuffle (a cluster
      // would use Spark's runtime bloom join injection there instead).
      val wedges =
        if (nEdges > 0 && nEdges <= 100000000L) {
          val bits = math.min(math.max(1L << 16, 12L * nEdges), 1L << 28)
          val bf = p.select(xxhash64(col("a"), col("b")).as("h"))
            .agg(graft.plans.BloomFilters.bloomAgg(col("h"), nEdges, bits))
          wedgesAll.where(graft.plans.BloomFilters.mightContain(
            bf.scalar(), xxhash64(col("x"), col("y"))))
        } else wedgesAll
      // inner join (not semi): each closed wedge IS one triangle
      wedges.join(closing, Seq("x", "y"))
        .select(col("u"), col("x"), col("y"))
        .localCheckpoint(eager = true)
    } finally {
      oriented.unpersist(blocking = false)
      p.unpersist(blocking = false)
    }
  }

  /** Per-node exact triangle counts: [[triangleTriples]] with each
    * triangle crediting its three corners. Returns (node, n_tri) for
    * nodes in ≥1 triangle.
    */
  def localTriangles(pairs: DataFrame): DataFrame =
    localTrianglesOf(triangleTriples(pairs))

  /** Per-node counts from an already-enumerated triple table — the
    * reuse seam when the triples are materialized once and shared.
    */
  def localTrianglesOf(triples: DataFrame): DataFrame =
    triples
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))

  /** Per-user ordered transition edges from an event log: consecutive
    * (k, next k) within each user, ordered by the raw nanosecond
    * timestamp with `event_id` as the total-order tiebreak (ns ties
    * exist in principle; id ties cannot). Returns (src, dst, w).
    */
  def transitionEdges(events: DataFrame, keyExpr: Column): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), keyExpr.as("k"))
      .withColumn("nk", lead(col("k"), 1).over(w))
      .where(col("nk").isNotNull)
      .groupBy(col("k").as("src"), col("nk").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Single-source BFS hop distances: (node, hops) for every node
    * reachable from `source` in at most `maxHops` hops, the source
    * itself at 0 (also when it has no edges). The [[multiSourceBfs]]
    * frontier loop started from the one seed.
    *
    * @param edges (src, dst) long-castable directed edge list
    */
  def bfsHops(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    frontierBfs(edges, maxHops)(_ =>
      Seq((source, source, 0)).toDF("source", "node", "hop"))
      .select(col("node"), col("hops"))
  }

  /** All-sources BFS within a hop horizon: (source, node, hops) for
    * every ordered pair with directed distance ≤ `maxHops` — the
    * machinery behind truncated closeness/harmonic centrality and
    * h-bounded eccentricity, which at scale are always computed with
    * a horizon (a full APSP pass is Θ(n·E) and never what a platform
    * runs). The frontier is keyed (source, node), so one round expands
    * EVERY source at once. State is the visited set — Σ per-source
    * reach rows, the same pairs the caller asked for, never payloads.
    *
    * @param edges (src, dst) long-castable directed edge list
    * @return (source, node, hops), hops = 0 for the source itself
    */
  def multiSourceBfs(edges: DataFrame, maxHops: Int): DataFrame =
    frontierBfs(edges, maxHops)(e =>
      e.select(col("src").as("n")).union(e.select(col("dst"))).distinct()
        .select(col("n").as("source"), col("n").as("node"), lit(0).as("hop")))

  /** Level-synchronous BFS by iterative frontier expansion — the
    * formulation every distributed graph engine uses (Pregel
    * supersteps are exactly this loop). `seeds` maps the cleaned,
    * persisted edge list to the round-0 (source, node, hop = 0) rows.
    *
    * Scale notes (1e9+ edges): each round is ONE join of the current
    * frontier against the edge list (shuffle on src — or broadcast
    * while the frontier is small, Catalyst's call) plus one anti-join
    * against the visited set, both on node ids only. Edges are
    * persisted once across rounds. The loop materializes each frontier
    * via [[Checkpoints.round]] so round N's plan does not replay
    * rounds 0..N-1, and stops early on an empty frontier, so `maxHops`
    * is a bound, not a fixed cost.
    */
  private def frontierBfs(edges: DataFrame, maxHops: Int)(
      seeds: DataFrame => DataFrame): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst")).distinct()
      .persist()
    try {
      var visited = Checkpoints.round(seeds(e))
      var frontier = visited
      var hop = 0
      var done = frontier.isEmpty
      while (!done && hop < maxHops) {
        hop += 1
        // lazy checkpoint + full count: ONE job per round materializes
        // the frontier and decides termination (isEmpty's take(1) would
        // leave the checkpoint partially materialized)
        val next = Checkpoints.round(frontier.join(e, col("node") === col("src"))
          .select(col("source"), col("dst").as("node"), lit(hop).as("hop"))
          .distinct()
          .join(visited.select(col("source").as("vs"), col("node").as("vn")),
            col("source") === col("vs") && col("node") === col("vn"),
            "left_anti"), eager = false)
        done = next.count() == 0
        if (!done) {
          val nextVisited = Checkpoints.round(visited.unionByName(next))
          // old frontier/visited fully consumed by the two checkpoints
          // above; round 1's frontier IS the initial visited
          if (frontier ne visited) Checkpoints.free(frontier)
          Checkpoints.free(visited)
          frontier = next
          visited = nextVisited
        } else Checkpoints.free(next)
      }
      visited.select(col("source"), col("node"), col("hop").cast("long").as("hops"))
    } finally e.unpersist(blocking = false)
  }

  /** Strongly connected components by mutual-reachability closure:
    * scc(v) = min{u : u ↝ v ∧ v ↝ u} (v itself included). The closure
    * is built by path doubling — R ← R ∪ (R ⋈ R) — so fixpoint arrives
    * in O(log diameter) rounds, each one equi-join + distinct, with
    * `localCheckpoint` cutting lineage per round.
    *
    * Scale contract: reachability closure is O(n · avg-reach) PAIRS,
    * so this operator targets the bounded-cardinality graphs SCC is
    * actually asked of in a data platform — event-type/taxonomy
    * transition graphs, service dependency graphs, state machines
    * (≤ ~1e5 nodes), where the closure is millions of longs, not the
    * billion-node social graph (whose SCC needs FW-BW decomposition
    * and is out of scope; undirected CC at that scale is
    * [[components]]). The closure never carries
    * payloads — (src, dst) long pairs only.
    *
    * @param edges (src, dst) long-castable directed edge list
    * @return (node, scc_id) — scc_id = min node id of the component
    */
  def scc(edges: DataFrame): DataFrame = sccWithClosure(edges)._1

  /** [[scc]] labels PLUS the transitive-closure pair set the loop
    * builds anyway — (src, dst) for every src ↝ dst path of ≥ 1 edge,
    * as a materialized round checkpoint. Consumers that need
    * reachability to/from a node set (bow-tie IN/OUT) read it directly
    * instead of re-running their own frontier fixpoint over the edge
    * list (r10: g_bowtie dropped both reach loops).
    */
  def sccWithClosure(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst")).distinct().persist()
    try {
      val nodes = e.select(col("src").as("n"))
        .union(e.select(col("dst"))).distinct()
      // lazy round checkpoints: the convergence count is the action
      // that materializes each round — one job per round, not two
      var reach = Checkpoints.round(e.toDF(), eager = false)
      var n = reach.count()
      var stable = false
      while (!stable) {
        val doubled = Checkpoints.round(reach
          .join(reach.select(col("src").as("m"), col("dst").as("d2")),
            col("dst") === col("m"))
          .select(col("src"), col("d2").as("dst"))
          .union(reach).distinct(), eager = false)
        val n2 = doubled.count()
        stable = n2 == n
        n = n2
        Checkpoints.free(reach) // doubled is materialized by its count
        reach = doubled
      }
      val mutual = reach
        .join(reach.select(col("dst").as("r_src"), col("src").as("r_dst")),
          col("src") === col("r_src") && col("dst") === col("r_dst"))
        .select(col("src").as("node"), col("dst").as("peer"))
      val labels = nodes
        .join(mutual, col("n") === col("node"), "left")
        .groupBy(col("n").as("node"))
        .agg(least(min(col("peer")), min(col("n"))).as("scc_id"))
        .select(col("node"), col("scc_id"))
      (labels, reach)
    } finally e.unpersist(blocking = false)
  }

  /** Connected components of an undirected (a_id, b_id) edge list, as
    * from [[TextDedup.lshCandidates]]/[[TextDedup.jaccardPairs]]:
    * (id, comp) where `comp` is the MINIMUM id in the component — the
    * keep-first keeper every other member duplicates.
    *
    * Synchronous min-label propagation run to its fixpoint. Near-dup
    * and density clusters are dense, so this converges in a handful of
    * rounds; a graph whose diameter outlasts [[PropagationCap]] rounds
    * is finished by [[starComponents]] over the labels reached so far,
    * so the result is always the exact component minimum. The fixpoint
    * test sums the labels as decimal(38,0): labels never increase, so
    * an unchanged sum means no label moved, and no id space can
    * overflow it.
    */
  def components(edges: DataFrame): DataFrame = propagate(edges, None)

  /** Labels after exactly `rounds` synchronous min-label rounds over an
    * undirected (a_id, b_id) edge list — the labeling behind
    * `g_robustness` and the ScaleBench CC curve. A FIXED round count,
    * not a fixpoint, so an unrolled oracle computes the identical label
    * set by construction. Returns (id, comp) with `comp` the minimum id
    * within `rounds` hops (the component minimum once `rounds` covers
    * the diameter).
    */
  def components(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    propagate(edges, Some(rounds))
  }

  /** Propagation rounds before a fixpoint run switches to the star
    * contraction. */
  private val PropagationCap = 25

  /** Star alternations before [[starComponents]] gives up — O(log n)
    * suffice on any graph, so hitting it means a fault, not a slow
    * graph. */
  private val StarCap = 40

  /** The one min-label propagation loop: `rounds` = None runs to the
    * fixpoint, Some(r) runs exactly r rounds.
    *
    * Self-loops are appended ONCE, so each round's update
    * lbl'(u) = min over N(u) ∪ {u} is a single join + aggregate, with
    * no second join folding the node's own label back in (measured
    * 7.7 → 3.8 s on g_robustness). Round state is one (long, long) row
    * per node, checkpointed spill-safe per round; superseded rounds are
    * freed, so live blocks stay O(nodes), not O(rounds).
    *
    * Checkpoint eagerness follows from the stopping rule. A fixpoint
    * round's label sum is its one action and materializes a LAZY
    * checkpoint as a side effect (an eager one would run a second job
    * per round). A fixed round has no action, so its checkpoint is
    * EAGER. Three alternatives to the eager round were MEASURED and
    * REJECTED (r10, interleaved A/Bs at the 6.5M/13M-edge scale points
    * + g_robustness at sf0.1):
    *  - RDD partitioner-preserving loop (partitionBy(v) once + narrow
    *    co-partitioned join + reduceByKey(min) — VERDICT-r9 #4): cuts
    *    per-round edge shuffle to ~0 and g_robustness to 14 jobs, but
    *    Java-serialized Tuple2 shuffle/cache loses whole-stage codegen
    *    at scale: 10.8/11.3 s vs 9.1/10.1 at 6.5M edges, 35.8/42.3 vs
    *    26.2/37.9 at 13M (−12…−25%);
    *  - single-action lazy loop (no per-round checkpoint, all rounds
    *    pipelined): best at sf0.1 volumes (8.7 s at 6.5M), but 1.6-3×
    *    WORSE at 13M (38.8/63.6 vs 23.7/21.1) — per-round eager
    *    checkpoints give each round accurate materialized stats and
    *    bound the in-flight state, which dominates once rounds are
    *    compute-bound;
    *  - r9's pre-repartition of sym by v: does not survive the
    *    AQE + localCheckpoint boundary (shuffle grew 212→275 MB).
    */
  private def propagate(edges: DataFrame, rounds: Option[Int]): DataFrame = {
    val fixpoint = rounds.isEmpty
    // nodes/sym checkpoint LAZILY: the loop's first actions (the round-0
    // and round-1 sums, or round 1's eager checkpoint) materialize them
    val nodes = Checkpoints.round(edges
      .select(col("a_id").cast("long").as("id"))
      .union(edges.select(col("b_id").cast("long").as("id")))
      .distinct(), eager = false)
    val sym = Checkpoints.round(edges
      .select(col("a_id").cast("long").as("src"), col("b_id").cast("long").as("dst"))
      .union(edges
        .select(col("b_id").cast("long").as("src"), col("a_id").cast("long").as("dst")))
      .union(nodes.select(col("id").as("src"), col("id").as("dst"))),
      eager = false)
    // coalesce: an EMPTY edge list (legitimate — e.g. a density
    // clustering round with no core-core pairs) sums to NULL
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    var labels = nodes.withColumn("comp", col("id"))
    var total = if (fixpoint) labelSum(labels) else null
    var round = 0
    var converged = false
    while (!converged && round < rounds.getOrElse(PropagationCap)) {
      val next = Checkpoints.round(sym
        .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("comp")),
        eager = !fixpoint)
      if (fixpoint) {
        val nextTotal = labelSum(next)
        converged = nextTotal == total
        total = nextTotal
      }
      Checkpoints.free(labels) // next is materialized; no-op on round 0
      labels = next
      round += 1
    }
    val out = if (fixpoint && !converged) {
      // Past the cap, contract instead of propagating on. Every node
      // shares its label's component and every edge joins the
      // components of its endpoints' labels, so the label-to-label
      // edges connect the labels exactly as the graph does, and each
      // component's minimum is its own label.
      val byLabel = starComponents(sym
        .join(labels.select(col("id").as("src"), col("comp").as("a_id")), Seq("src"))
        .join(labels.select(col("id").as("dst"), col("comp").as("b_id")), Seq("dst"))
        .where(col("a_id") < col("b_id")))
      labels
        .join(byLabel.select(col("id").as("comp"), col("comp").as("root")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("root"), col("comp")).as("comp"))
    } else labels
    Checkpoints.free(sym)
    Checkpoints.free(nodes)
    // The returned frame reads the last round's checkpoint blocks (one
    // small (id, comp) set — O(nodes), not O(rounds)); they are freed by
    // the session-level sweep between bench/verify queries.
    out
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC '14): every node u links each strictly
    * LARGER neighbour to the minimum of its closed neighbourhood.
    * Output edges oriented (big, small).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One small-star round: every node u links its smaller neighbours
    * (and itself) to the minimum among them. Input and output edges
    * oriented (big, small).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(mins, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Connected components by alternating large-star/small-star
    * contraction — same contract as [[components]] ((id, comp) with
    * comp = component minimum) but rounds bounded by O(log n) on ANY
    * graph, where min-label propagation needs O(diameter) rounds (a
    * 1000-node chain: ~15 alternations vs 1000 propagation rounds).
    * Each round is two grouped self-joins keyed on node id — the same
    * shuffle key throughout, so at 1000-executor scale every round
    * reuses one partitioning. Convergence = edge-set fixpoint, detected
    * by a (count, hash-sum) fingerprint in the same action that
    * materializes the round's checkpoint; superseded checkpoints are
    * freed eagerly. Fails after [[StarCap]] rounds without a fixpoint.
    */
  def starComponents(edges: DataFrame): DataFrame = {
    val raw = edges
      .select(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v"))
    var e = Checkpoints.round(raw.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct(), eager = false)
    // cheap per-round fingerprint: (edge count, hash-sum mod p) — the
    // mod keeps the ANSI sum from overflowing at any edge count; on a
    // fingerprint match the fixpoint is CONFIRMED with an exact except
    // (both sides are materialized checkpoints, so it's one cheap job)
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))),
          lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var fp = fingerprint(e)
    var round = 0
    var converged = false
    while (!converged && round < StarCap) {
      // lazy: the fingerprint agg is the round's one action and
      // materializes the checkpoint as a side effect
      val next = Checkpoints.round(smallStar(largeStar(e)), eager = false)
      val nfp = fingerprint(next)
      converged = nfp == fp && next.exceptAll(e).isEmpty
      Checkpoints.free(e)
      e = next
      fp = nfp
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"star contraction did not reach its fixpoint in $round rounds")
    // At the fixpoint the edge set is a union of stars (u → component
    // min) and still mentions EVERY input node (minima appear on the v
    // side) — so labels derive from the final small checkpoint, never
    // re-running the (expensive) upstream candidate plan. Nodes present
    // ONLY as self-loops in the input are dropped with the self-loops;
    // candidate generators (LSH, Jaccard, SimHash) emit a_id < b_id, so
    // none exist on the documented path.
    val direct = e.groupBy(col("u").as("id")).agg(min(col("v")).as("comp"))
    val minima = e.select(col("v").as("id")).distinct()
      .join(direct.select(col("id")), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    direct.unionByName(minima)
  }

  /** DELTA k-truss peel over a once-enumerated triangle table — the
    * shared loop behind `g_ktruss` and the ScaleBench peel curve
    * (one implementation so the curve measures the query's actual
    * rounds; r8-advice). Round 1's support basis is the FULL triple
    * table (every edge is still present, so every enumerated triangle
    * is alive — no aliveness join at all); each later round subtracts
    * only the triangles touching a DROPPED edge. The dropped set is
    * orders of magnitude smaller than the survivors (62k/22k/1.7k vs
    * 1.1M edges at sf0.1), so the subtraction is three anti-joins
    * against the CHANGE, not the graph — broadcast only below the
    * counted `broadcastCap` ([[Joins.broadcastIfSmall]]; the count is
    * free, the dropped set is checkpoint-materialized), shuffled
    * above it.
    *
    * Round state (alive triples, surviving edges) checkpoints
    * spill-safe ([[Checkpoints.round]]) and superseded rounds are
    * freed — at the m=40 scale point the ~20M-row triple table is what
    * previously thrashed an undersized block manager (SCALE_r08 memory
    * guard).
    *
    * @param triples (u, x, y) degree-oriented triangle corners, each
    *                triangle exactly once ([[triangleTriples]] shape)
    * @param edges   (a, b) canonical a<b undirected edge list
    * @return one (round, n_edges, n_tri_alive) tuple per round,
    *         round 0 = the input census
    */
  def trussPeelStats(triples: DataFrame, edges: DataFrame, rounds: Int,
      k: Int, broadcastCap: Long): Seq[(Long, Long, Long)] = {
    require(rounds >= 1 && k >= 3)
    // INCREMENTAL support (r10): round 1 counts support with one full
    // explode-aggregate over the triple table and annotates every edge
    // with it; each later round SUBTRACTS the dropped-triangle counts
    // from the previous round's annotated edge table instead of
    // recounting from scratch. The dropped set is orders of magnitude
    // smaller than the survivors (62k/22k/1.7k vs 1.1M edges at
    // sf0.1), so after round 1 nothing edge- or triple-sized is
    // shuffled at all: the delta aggregate is the only exchange, and
    // the alive/edge passes are single scans against broadcast hash
    // sides (guide §2.3/§2.4 — shuffle the change, not the graph).
    // Equivalence: sup_{r+1}(e) = sup_r(e) − #dropped triangles ∋ e,
    // because alive_{r+1} = alive_r \ dead_r exactly (TrussPeelSpec
    // pins this against a naive full recount on random graphs).
    // `dead` marks triangles subtracted by the LAST round's dropped
    // edges: the marked pass flags instead of filtering, so one
    // checkpoint serves both the surviving set (dead = false) and the
    // delta aggregate (dead = true) without a second materialization
    var alive = Checkpoints.round(triples
      .select(least(col("u"), col("x")).as("e1a"),
        greatest(col("u"), col("x")).as("e1b"),
        least(col("u"), col("y")).as("e2a"),
        greatest(col("u"), col("y")).as("e2b"),
        col("x").as("e3a"), col("y").as("e3b"))
      .withColumn("dead", lit(false)), eager = false)
    var nTri = alive.count() // materializes the checkpoint
    val e0 = edges.select(col("a"), col("b"))
    val stats = Seq.newBuilder[(Long, Long, Long)]
    stats += ((0L, e0.count(), nTri))
    // eAnn: the current edge set annotated with (sup, pass) — one
    // checkpoint per round serves the census count, the dropped-edge
    // broadcast AND next round's subtraction base (3 consumers, the
    // fused replacement for the separate eNext/dropped checkpoints).
    var eAnn: DataFrame = null
    // delta: per-edge dead-triangle counts from the PREVIOUS round's
    // marked alive pass; null ⇒ recount support in full (round 1, or
    // after a dropped set too large for the broadcast gate).
    var delta: DataFrame = null
    var round = 1
    var done = false
    while (!done && round <= rounds) {
      val basisTri = nTri // this round's support basis (alive BEFORE subtraction)
      val eAnnNext = Checkpoints.round((
        if (delta == null) {
          // full recount: ONE explode pass over the alive checkpoint
          // (identical multiset to a 3-way union, read once), then
          // annotate the surviving edge list — edges outside any alive
          // triangle count as support 0
          val sup = alive.where(!col("dead")).select(explode(array(
              struct(col("e1a").as("a"), col("e1b").as("b")),
              struct(col("e2a").as("a"), col("e2b").as("b")),
              struct(col("e3a").as("a"), col("e3b").as("b")))).as("e"))
            .groupBy(col("e.a").as("a"), col("e.b").as("b"))
            .agg(count(lit(1)).as("sup"))
          val base = if (eAnn == null) e0
            else eAnn.where(col("pass")).select(col("a"), col("b"))
          base.join(sup, Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              coalesce(col("sup"), lit(0L)).as("sup"))
        } else {
          // incremental: survivors of the previous round, support
          // reduced by their dead-triangle counts — a broadcast left
          // join, no shuffle of the edge set
          eAnn.where(col("pass"))
            .join(broadcast(delta.select(col("a"), col("b"),
              col("d"))), Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("sup") - coalesce(col("d"), lit(0L))).as("sup"))
        }).withColumn("pass", col("sup") >= k - 2), eager = false)
      // ONE job materializes the annotated edges and reads off both
      // census numbers (the census count and the fixpoint/broadcast
      // gate — previously two checkpoints and two counts)
      val cnt = eAnnNext.agg(
        coalesce(sum(when(col("pass"), 1L).otherwise(0L)), lit(0L)),
        count(lit(1))).head()
      val nEdges = cnt.getLong(0)
      val nDropped = cnt.getLong(1) - nEdges
      if (eAnn != null) Checkpoints.free(eAnn)
      eAnn = eAnnNext
      delta = null
      var fixpoint = false
      if (round < rounds) { // the final round's alive set has no consumer
        if (nDropped == 0) {
          // FIXPOINT: nothing dropped → the edge set, alive set and
          // support are all unchanged; every remaining round reads the
          // identical census. Emit the rows without recomputation.
          fixpoint = true
        } else if (nDropped <= broadcastCap) {
          // mark dead triangles in ONE pass over the alive checkpoint:
          // three broadcast left-join probes of the SAME dropped-edge
          // relation (identical build subtree → Spark reuses one
          // broadcast exchange), dead = any edge matched
          val d0 = broadcast(eAnn.where(!col("pass"))
            .select(col("a").as("da"), col("b").as("db"),
              lit(true).as("dm")))
          def mark(df: DataFrame, ka: String, kb: String, m: String) =
            df.join(d0, col(ka) === col("da") && col(kb) === col("db"),
                "left")
              .withColumn(m, coalesce(col("dm"), lit(false)))
              .drop("da", "db", "dm")
          val marked = Checkpoints.round(
            mark(mark(mark(alive.where(!col("dead")).drop("dead"),
              "e1a", "e1b", "m1"), "e2a", "e2b", "m2"), "e3a", "e3b", "m3")
              .withColumn("dead", col("m1") || col("m2") || col("m3"))
              .drop("m1", "m2", "m3"), eager = false)
          val nNextTri = marked.agg(coalesce(
            sum(when(!col("dead"), 1L).otherwise(0L)), lit(0L)))
            .head().getLong(0)
          Checkpoints.free(alive)
          alive = marked
          nTri = nNextTri
          // next round's support subtraction: dead triangles exploded
          // to edge keys — evaluated lazily inside the broadcast build,
          // against the marked checkpoint's blocks
          delta = marked.where(col("dead")).select(explode(array(
              struct(col("e1a").as("a"), col("e1b").as("b")),
              struct(col("e2a").as("a"), col("e2b").as("b")),
              struct(col("e3a").as("a"), col("e3b").as("b")))).as("e"))
            .groupBy(col("e.a").as("a"), col("e.b").as("b"))
            .agg(count(lit(1)).as("d"))
        } else {
          // dropped set too large to broadcast (cluster-scale guard):
          // shuffled anti-joins subtract it, and the NEXT round falls
          // back to a full support recount (delta stays null)
          val dropped = eAnn.where(!col("pass"))
            .select(col("a").as("da"), col("b").as("db"))
          val nextAlive = Checkpoints.round(alive.where(!col("dead"))
            .join(dropped,
              col("e1a") === col("da") && col("e1b") === col("db"), "left_anti")
            .join(dropped,
              col("e2a") === col("da") && col("e2b") === col("db"), "left_anti")
            .join(dropped,
              col("e3a") === col("da") && col("e3b") === col("db"), "left_anti"),
            eager = false) // keeps dead = false on every surviving row
          val nNextTri = nextAlive.count() // materializes before the free
          Checkpoints.free(alive)
          alive = nextAlive
          nTri = nNextTri
        }
      }
      stats += ((round.toLong, nEdges, basisTri))
      if (fixpoint) {
        // alive, the edge set and the support are unchanged: rounds
        // round+1..rounds all read (nEdges, |alive|), and |alive| is
        // exactly this round's already-counted basis
        for (r <- round + 1 to rounds) stats += ((r.toLong, nEdges, basisTri))
        done = true
      }
      round += 1
    }
    Checkpoints.free(alive)
    if (eAnn != null) Checkpoints.free(eAnn)
    stats.result()
  }

  /** Earliest-arrival temporal reachability: over timestamped edges
    * (src, dst, dep_ms, arr_ms) — "you may take an edge only if you
    * are at src no later than its departure" — computes the minimal
    * arrival time at every node reachable from the seed set within
    * `rounds` relaxations (= temporal paths of ≤ `rounds` hops).
    * Bellman-Ford-shaped: each round is one join of the current
    * arrival vector against the edge list, a departure-time filter,
    * and a min-aggregation on dst; arrival times are exact longs so
    * any engine replays the identical trajectory.
    *
    * Scale: the arrival vector is one long per node (broadcast-small
    * vs the edge list); edges persist once across rounds;
    * `localCheckpoint` per round keeps plans shallow. Rounds is a
    * fixed bound, giving an unrollable oracle — pass the graph's
    * temporal diameter when full closure is wanted.
    *
    * @param edges (src, dst, dep_ms, arr_ms) — longs
    * @param seeds (node, t) — earliest presence at each seed node
    */
  def temporalEarliestArrival(
      edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("dep_ms").cast("long"), col("arr_ms").cast("long")).persist()
    try {
      var arr = Checkpoints.round(
        seeds.select(col("node").cast("long"), col("t").cast("long"))
          .groupBy("node").agg(min(col("t")).as("t")))
      for (_ <- 1 to rounds) {
        val relaxed = arr.join(e, col("node") === col("src"))
          .where(col("dep_ms") >= col("t"))
          .select(col("dst").as("node"), col("arr_ms").as("t"))
        val next = Checkpoints.round(arr.union(relaxed)
          .groupBy("node").agg(min(col("t")).as("t")))
        Checkpoints.free(arr)
        arr = next
      }
      arr.select(col("node"), col("t").as("arrival_ms"))
    } finally e.unpersist(blocking = false)
  }
}
