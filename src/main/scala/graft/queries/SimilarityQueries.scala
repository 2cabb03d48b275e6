package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Graphs, Similarity}
import Sql.D

/** Similarity-search surface over `embeddings`: brute-force cosine top-k
  * (exact baseline) and hyperplane-LSH candidate pairs (scale path),
  * both on quantized-integer math so the DuckDB oracle reproduces every
  * bit. The oracle re-derives dot products by flattening lists and
  * summing BIGINTs (order-free), and materializes the SAME hyperplanes
  * as literal VALUES generated from `Similarity.planes`.
  */
object SimilarityQueries {

  private val K = 5
  private val QueryStride = 50 // vec_id % 50 == 0 → 10 queries @ sf0.01

  private val NPlanes = 16
  private val Bands = 4
  private val RowsPerBand = 4
  private val Dim = 64
  private val MinCos = 0.25

  // s_range_search_lsh: banding tuned to ITS τ (see the query scaladoc
  // for the collision-curve arithmetic) — at τ=0.25, 8 bands × 4 rows
  // recalls ~0.62 of exact-threshold pairs (vs ~0.39 for the ANN
  // queries' shared 4×4) at ~2× their candidate volume
  private val RangeTau = 0.25
  private val RangeBands = 8
  private val RangeRows = 4

  private lazy val planes = Similarity.planes(NPlanes, Dim)
  private lazy val rangePlanes = Similarity.planes(RangeBands * RangeRows, Dim)

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def topk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopK(
      e, e.where(pmod(col("id"), lit(QueryStride)) === 0), K)
      .orderBy("q_id", "rank")
  }

  /** [[Similarity.hardNegativesTopK]] graded end-to-end: per query, the
    * 3 highest-cosine vectors across the label boundary.
    */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
    Similarity.hardNegativesTopK(
      e, e.where(pmod(col("id"), lit(QueryStride)) === 0), 3)
      .orderBy("q_id", "rank")
  }

  /** Matryoshka truncation evaluation: top-K recall of HALF-dimension
    * cosine against the full-dimension ranking — the measurement that
    * decides whether truncated embeddings can serve the first-stage
    * retrieval (the MRL deployment question). Runs the SAME top-k
    * operator twice (full vectors; `slice(vec, 1, 32)`) and counts the
    * per-query overlap with one ids-only join; cost is two scans + two
    * bounded top-k combines, nothing quadratic beyond the scorer
    * itself.
    */
  private def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val half = e.select(col("id"), slice(col("vec"), 1, Dim / 2).as("vec"))
    val qFull = e.where(pmod(col("id"), lit(QueryStride)) === 0)
    val qHalf = half.where(pmod(col("id"), lit(QueryStride)) === 0)
    val full = Similarity.bruteForceTopK(e, qFull, K)
      .select(col("q_id"), col("n_id"))
    val trunc = Similarity.bruteForceTopK(half, qHalf, K)
      .select(col("q_id").as("t_q"), col("n_id").as("t_n"))
    full.join(trunc,
        col("q_id") === col("t_q") && col("n_id") === col("t_n"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
      .select(col("q_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / K).as("recall"))
      .orderBy("q_id")
  }

  private lazy val matryoshkaOracle: String = s"""WITH $quantCtes,
dots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
    CAST(SUM(a.e * b.e) AS BIGINT) AS dot,
    CAST(SUM(CASE WHEN a.i <= ${Dim / 2} THEN a.e * b.e ELSE 0 END) AS BIGINT) AS dot_h
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
), normh AS (
  SELECT vec_id, CAST(SUM(e * e) AS BIGINT) AS nnh FROM flat
  WHERE i <= ${Dim / 2} GROUP BY vec_id
), ranked AS (
  SELECT q_id, n_id,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
      CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) DESC,
      n_id) AS rk,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
      CAST(dot_h AS DOUBLE) / sqrt(CAST(ha.nnh AS DOUBLE) * CAST(hb.nnh AS DOUBLE)) DESC,
      n_id) AS rk_h
  FROM dots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
  JOIN normh ha ON q_id = ha.vec_id JOIN normh hb ON n_id = hb.vec_id
)
SELECT f.q_id, COUNT(*) AS n_overlap,
  CAST(COUNT(*) AS DOUBLE) / ${Sql.D(K.toString)} AS recall
FROM (SELECT q_id, n_id FROM ranked WHERE rk <= $K) f
JOIN (SELECT q_id, n_id FROM ranked WHERE rk_h <= $K) h
  ON f.q_id = h.q_id AND f.n_id = h.n_id
GROUP BY f.q_id ORDER BY f.q_id"""

  // lazy: quantCtes initializes later in the file (vals run top-down)
  private lazy val hardNegativesOracle: String = s"""WITH $quantCtes,
dots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
), lbl AS (
  SELECT vec_id, label FROM embeddings
), scored AS (
  SELECT q_id, n_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM dots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
  JOIN lbl la ON q_id = la.vec_id JOIN lbl lb ON n_id = lb.vec_id
  WHERE la.label IS DISTINCT FROM lb.label
), ranked AS (
  SELECT q_id, n_id, cosine,
    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT) AS rank
  FROM scored
)
SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= 3 ORDER BY q_id, rank"""

  /** Embedding drift monitor: per label, the cosine between the SUM
    * vectors (≡ centroid directions) of the even-id and odd-id halves
    * of the corpus — the "did my embedding distribution move between
    * snapshots" check a retrieval index runs before deciding to
    * re-embed. Per-(label, half, dim) sums are exact quantized
    * integers (one aggregate over exploded components — 2·labels·64
    * rows out), the cosine is two float ops per label; nothing touches
    * a pairwise join.
    */
  private def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(Similarity.quantize(col("embedding"))).as(Seq("i", "e")))
    val sums = e
      .groupBy(col("label"), (pmod(col("vec_id"), lit(2)) === 0).as("even"),
        col("i"))
      .agg(sum(col("e")).as("s"))
    val a = sums.where(col("even"))
      .select(col("label"), col("i"), col("s").as("sa"))
    val b = sums.where(!col("even"))
      .select(col("label"), col("i"), col("s").as("sb"))
    a.join(b, Seq("label", "i"))
      .groupBy(col("label"))
      .agg(sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("na"),
        sum(col("sb") * col("sb")).as("nb"))
      .select(col("label"), col("dot"),
        (col("dot").cast("double")
          / sqrt(col("na").cast("double") * col("nb").cast("double")))
          .as("cosine"))
      .orderBy("label")
  }

  private lazy val centroidDriftOracle: String = s"""WITH f AS (
  SELECT vec_id, label,
    unnest(list_transform(embedding, x ->
      CAST(FLOOR(CAST(x AS DOUBLE) * ${Similarity.Scale} + ${D("0.5")}) AS BIGINT))) AS e,
    unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
), sums AS (
  SELECT label, vec_id % 2 = 0 AS even, i, CAST(SUM(e) AS BIGINT) AS s
  FROM f GROUP BY 1, 2, 3
), j AS (
  SELECT a.label AS label, a.s AS sa, b.s AS sb
  FROM sums a JOIN sums b ON a.label = b.label AND a.i = b.i
  WHERE a.even AND NOT b.even
)
SELECT label, CAST(SUM(sa * sb) AS BIGINT) AS dot,
  CAST(SUM(sa * sb) AS DOUBLE)
    / SQRT(CAST(SUM(sa * sa) AS DOUBLE) * CAST(SUM(sb * sb) AS DOUBLE)) AS cosine
FROM j GROUP BY 1 ORDER BY label"""

  /** Shared oracle plumbing — the single [[Sql.quantCtes]] copy. */
  private val quantCtes: String = Sql.quantCtes

  private val topkOracle: String = s"""WITH $quantCtes,
dots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
scored AS (
  SELECT q_id, n_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM dots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
),
ranked AS (
  SELECT q_id, n_id, cosine,
    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT) AS rank
  FROM scored
)
SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K ORDER BY q_id, rank"""

  /** Cosine RANGE search — every neighbor with cosine ≥ τ, not top-k:
    * the retrieval mode threshold-dedup and graph construction need.
    * The exact form scores each corpus vector against the BROADCAST
    * query set in one scan (no window, no pair shuffle; queries ≪
    * corpus); when the query set outgrows a broadcast, the banded-LSH
    * candidate join (s_ann_lsh) becomes the discovery stage and this
    * scoring is its verify. Quantized-integer dot products keep both
    * engines bit-equal through the τ compare.
    */
  private def rangeSearch(s: SparkSession, dir: String): DataFrame = {
    val sig = emb(s, dir)
      .select(col("id"), Similarity.quantize(col("vec")).as("qv"))
      .withColumn("nn", Similarity.normSqQ(col("qv")))
    val q = sig.where(pmod(col("id"), lit(QueryStride)) === 0)
      .select(col("id").as("q_id"), col("qv").as("q_qv"), col("nn").as("q_nn"))
    sig.crossJoin(broadcast(q))
      .where(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("n_id"),
        Similarity.cosineQ(Similarity.dotQ(col("qv"), col("q_qv")),
          col("nn"), col("q_nn")).as("cosine"))
      .where(col("cosine") >= lit(MinCos))
      .orderBy("q_id", "n_id")
  }

  private lazy val rangeSearchOracle: String = s"""WITH $quantCtes,
dots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
), scored AS (
  SELECT q_id, n_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM dots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
)
SELECT q_id, n_id, cosine FROM scored
WHERE cosine >= ${D("0.25")}
ORDER BY q_id, n_id"""

  /** The banded-LSH DISCOVERY twin of [[rangeSearch]] (r8-verdict #7):
    * when the query set outgrows a broadcast, range search becomes
    * LSH-bucketed candidates → τ-verify — exactly the composition
    * [[Similarity.lshCandidates]] runs — and this query GRADES it the
    * way `d_minhash_accuracy` grades banding vs exact Jaccard. The
    * banding is TUNED TO ITS τ from the hyperplane collision curve
    * (p = 1 − arccos(c)/π; per-pair recall = 1 − (1 − p^r)^b): at
    * τ=0.25 the 4×4 banding the ANN queries share recalls only ~0.39
    * of threshold pairs (measured 0.39 mean at sf0.1), so this runs
    * 8 bands × 4 rows — predicted 0.62 per pair at the threshold,
    * measured per-query mean 0.63 / min 0.47 at BOTH SFs, for ~2× the
    * 4-band candidate volume (a τ this near the random-pair cosine is
    * intrinsically expensive to recall; the curve is the cost model a
    * platform tunes with). Per query: exact τ-neighborhood size, how
    * many the banded path returned (verified candidates are a SUBSET
    * of the exact set by construction — same quantized-integer
    * cosine, so precision is 1 and only recall can be lost, by pairs
    * no band collides), the recall, and a ≥ 0.4 recall gate (below
    * the measured 0.47 min, above the 4×4 configuration's 0.21) —
    * deterministic, both engines enumerate identical band keys.
    */
  private def rangeSearchLsh(s: SparkSession, dir: String): DataFrame = {
    val sig = emb(s, dir)
      .select(col("id"), Similarity.quantize(col("vec")).as("qv"))
      .withColumn("nn", Similarity.normSqQ(col("qv")))
    val q = sig.where(pmod(col("id"), lit(QueryStride)) === 0)
      .select(col("id").as("q_id"), col("qv").as("q_qv"), col("nn").as("q_nn"))
    val exact = sig.crossJoin(broadcast(q))
      .where(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("n_id"),
        Similarity.cosineQ(Similarity.dotQ(col("qv"), col("q_qv")),
          col("nn"), col("q_nn")).as("cosine"))
      .where(col("cosine") >= lit(RangeTau))
      .select(col("q_id"), col("n_id"))
    val found = Similarity.lshCandidates(emb(s, dir), rangePlanes, RangeBands,
        RangeRows, RangeTau)
      .select(explode(array(
        struct(col("a_id").as("q_id"), col("b_id").as("n_id")),
        struct(col("b_id").as("q_id"), col("a_id").as("n_id")))).as("x"))
      .select(col("x.q_id").as("q_id"), col("x.n_id").as("n_id"))
      .where(pmod(col("q_id"), lit(QueryStride)) === 0)
    exact.join(found.withColumn("hit", lit(1L)), Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .select(col("q_id"), col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact").cast("double"))
          .as("recall"),
        (col("n_found") * 5L >= col("n_exact") * 2L).as("recall_ok"))
      .orderBy("q_id")
  }

  private lazy val rangeSearchLshOracle: String = s"""WITH $quantCtes,
${lshCandCtesFor(rangePlanes, RangeBands, RangeRows)},
found AS (
  SELECT q_id, n_id FROM (
    SELECT a_id AS q_id, b_id AS n_id, cosine FROM scored_cand
    UNION ALL SELECT b_id, a_id, cosine FROM scored_cand
  ) WHERE q_id % $QueryStride = 0 AND cosine >= ${D(RangeTau)}
),
exd AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
exact AS (
  SELECT q_id, n_id FROM exd
  JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
    >= ${D(RangeTau)}
)
SELECT e.q_id, COUNT(*) AS n_exact,
  CAST(SUM(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
  CAST(SUM(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS recall,
  CAST(SUM(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 5
    >= COUNT(*) * 2 AS recall_ok
FROM exact e LEFT JOIN found f ON e.q_id = f.q_id AND e.n_id = f.n_id
GROUP BY e.q_id ORDER BY e.q_id"""

  private def lsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshCandidates(emb(s, dir), planes, Bands, RowsPerBand, MinCos)
      .orderBy("a_id", "b_id")

  /** The LSH-candidate CTE chain (planes → bits → buckets → bands →
    * cand → scored), shared by the candidate-listing oracle, the
    * recall-measurement oracle, and (re-parameterized) the
    * range-search discovery oracle.
    */
  private def lshCandCtesFor(ps: Seq[Seq[Int]], nBands: Int,
      rowsPerBand: Int): String = {
    val planeValues = (for {
      (plane, p) <- ps.zipWithIndex
      (r, i) <- plane.zipWithIndex
    } yield s"($p,${i + 1},$r)").mkString(",")
    val bandSelects = (0 until nBands).map { b =>
      s"SELECT vec_id, $b AS band, substring(bucket, ${b * rowsPerBand + 1}, $rowsPerBand) AS bkey FROM buckets"
    }.mkString(" UNION ALL ")
    s"""planes(p, i, r) AS (VALUES $planeValues),
bits AS (
  SELECT f.vec_id, pl.p,
    CASE WHEN CAST(SUM(f.e * pl.r) AS BIGINT) > 0 THEN '1' ELSE '0' END AS bit
  FROM flat f JOIN planes pl ON f.i = pl.i
  GROUP BY f.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
),
bands AS ($bandSelects),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.a_id, c.b_id, CAST(SUM(fa.e * fb.e) AS BIGINT) AS dot
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.a_id
  JOIN flat fb ON fb.vec_id = c.b_id AND fb.i = fa.i
  GROUP BY 1, 2
),
scored_cand AS (
  SELECT a_id, b_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM dots JOIN norms na ON a_id = na.vec_id JOIN norms nb ON b_id = nb.vec_id
)"""
  }

  private lazy val lshCandCtes: String =
    lshCandCtesFor(planes, Bands, RowsPerBand)

  // --- density clustering (DBSCAN over the LSH neighbor graph) --------
  /** DBSCAN over embeddings with the ε-neighborhood taken from the SAME
    * hyperplane-LSH candidate generation as `s_ann_lsh` (ε as a cosine
    * floor) — the scale formulation: at 100 TB the ε-neighbor join can
    * only ever be a bucketed candidate join, so the clustering is
    * defined over the LSH neighbor graph (recall measured separately by
    * `s_lsh_recall`; missed-band pairs are the documented approximation,
    * exactly as in production density clustering over ANN indexes).
    * Core points have ≥ minPts neighbors; clusters are connected
    * components (min-id labels, the repo's iterative CC) over the
    * core-core subgraph; border points attach to the smallest cluster
    * label among their core neighbors (deterministic tie-break);
    * everything else is noise. Emits (id, role, cluster) per point.
    */
  private val DbEps = 0.3
  private val DbMinPts = 4

  private def dbscan(s: SparkSession, dir: String): DataFrame = {
    // lazy: CC's first convergence agg is the earliest action and
    // materializes the whole cand -> core chain (r10; the eager
    // variants paid four extra materialization jobs per run); cand
    // feeds degree, core-edges, borders
    val cand = Checkpoints.round(Similarity
      .lshCandidates(emb(s, dir), planes, Bands, RowsPerBand, DbEps)
      .select(col("a_id"), col("b_id")), eager = false)
    val sym = cand.select(col("a_id").as("id"), col("b_id").as("nb"))
      .union(cand.select(col("b_id").as("id"), col("a_id").as("nb")))
    // core (a bare id list) feeds five consumers (both core-edge semi
    // joins — which CC's symmetrization doubles — plus the cluster and
    // border joins): checkpoint so the degree agg runs once
    val core = Checkpoints.round(
      sym.groupBy(col("id")).agg(count(lit(1)).as("n_nbrs"))
        .where(col("n_nbrs") >= DbMinPts).select(col("id")), eager = false)
    val coreEdges = cand
      .join(core.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
      .join(core.select(col("id").as("b_id")), Seq("b_id"), "left_semi")
    // min-label propagation: rounds track the core-graph DIAMETER,
    // which minPts >= 4 keeps small (dense cores, no 2-chains); an
    // adversarially chained core graph finishes by star contraction
    // past the propagation cap. Stars from the start measured slower
    // here: their extra per-round shuffles cost more than the diameter
    // saves (2.4 s vs 4.3 s)
    val comp = Graphs.components(coreEdges)
    // (id, cluster) over core points is read by THREE consumers (both
    // border join sides + the core role rows) — checkpoint it once
    // instead of re-running the degree groupBy + label join per use
    val coreClusters = Checkpoints.round(core
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster")),
      eager = false)
    val borders = sym
      .join(coreClusters.select(col("id").as("nb"), col("cluster")),
        Seq("nb"))
      .join(coreClusters.select(col("id")), Seq("id"), "left_anti")
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    // assigned feeds the noise anti-join AND the final union — one
    // checkpoint saves the second border recompute
    val assigned = Checkpoints.round(coreClusters
      .select(col("id"), lit("core").as("role"), col("cluster"))
      .union(borders.select(col("id"), lit("border").as("role"),
        col("cluster"))), eager = false)
    val noise = emb(s, dir).select(col("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("noise").as("role"), lit(-1L).as("cluster"))
    assigned.union(noise).orderBy("id")
  }

  private val dbscanOracle: String = s"""WITH RECURSIVE $quantCtes,
$lshCandCtes,
nbr AS MATERIALIZED (SELECT a_id, b_id FROM scored_cand WHERE cosine >= ${D(DbEps)}),
sym AS MATERIALIZED (SELECT a_id AS id, b_id AS nb FROM nbr
        UNION ALL SELECT b_id, a_id FROM nbr),
core AS MATERIALIZED (
  SELECT id FROM (SELECT id, COUNT(*) AS n FROM sym GROUP BY 1)
  WHERE n >= $DbMinPts
), ce AS (
  SELECT n.a_id, n.b_id FROM nbr n
  JOIN core ca ON n.a_id = ca.id JOIN core cb ON n.b_id = cb.id
), cedges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM ce
              UNION SELECT b_id, a_id FROM ce),
reach(id, lbl) AS (
  SELECT src, src FROM cedges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN cedges e ON r.id = e.src
),
clabels AS (SELECT id, MIN(lbl) AS comp FROM reach GROUP BY id),
corec AS MATERIALIZED (
  SELECT c.id, COALESCE(l.comp, c.id) AS cluster
  FROM core c LEFT JOIN clabels l ON c.id = l.id
), borderc AS (
  SELECT s.id, MIN(cc.cluster) AS cluster
  FROM sym s JOIN corec cc ON s.nb = cc.id
  LEFT JOIN core k ON s.id = k.id
  WHERE k.id IS NULL GROUP BY s.id
), asg AS (
  SELECT id, 'core' AS role, cluster FROM corec
  UNION ALL SELECT id, 'border', cluster FROM borderc
)
SELECT e.vec_id AS id, COALESCE(a.role, 'noise') AS role,
  CAST(COALESCE(a.cluster, -1) AS BIGINT) AS cluster
FROM embeddings e LEFT JOIN asg a ON e.vec_id = a.id
ORDER BY id"""

  private val lshOracle: String = s"""WITH $quantCtes,
$lshCandCtes
SELECT a_id, b_id, cosine FROM scored_cand
WHERE cosine >= ${D(MinCos)}
ORDER BY a_id, b_id"""

  // --- LSH recall measurement (index-quality evaluation) --------------
  /** Recall of the LSH index against exact brute force, restricted to
    * the probe set (probe-restricted is also what keeps the exact side
    * linear — probes × corpus, broadcast like every query-side
    * structure, never all-pairs): one row of (exact pairs ≥ τ,
    * probe-touching candidates, hits, recall). The evaluation harness an
    * ANN deployment runs after every re-index; banding guarantees make
    * recall probabilistic, so it must be MEASURED, not assumed.
    */
  private def lshRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
      .withColumn("nn", Similarity.normSqQ(col("qv")))
    val probesQ = base.where(pmod(col("id"), lit(QueryStride)) === 0)
      .select(col("id").as("p_id"), col("qv").as("pqv"), col("nn").as("pn"))
    val exact = base.crossJoin(broadcast(probesQ))
      .where(col("id") =!= col("p_id"))
      .select(least(col("id"), col("p_id")).as("a_id"),
        greatest(col("id"), col("p_id")).as("b_id"),
        Similarity.cosineQ(Similarity.dotQ(col("qv"), col("pqv")),
          col("nn"), col("pn")).as("cosine"))
      .where(col("cosine") >= MinCos)
      .select("a_id", "b_id").distinct()
    val cand = Similarity.lshCandidates(e, planes, Bands, RowsPerBand, MinCos)
      .where(pmod(col("a_id"), lit(QueryStride)) === 0 ||
        pmod(col("b_id"), lit(QueryStride)) === 0)
      .select("a_id", "b_id")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(exact.join(cand, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits")))
      // guard 0/0: Spark's non-ANSI divide gives NULL, DuckDB NaN —
      // make "no exact pairs" NULL on both sides
      .withColumn("recall", when(col("n_exact") > 0,
        col("n_hits").cast("double") / col("n_exact").cast("double")))
  }

  private val lshRecallOracle: String = s"""WITH $quantCtes,
$lshCandCtes,
ppairs AS (
  SELECT DISTINCT LEAST(p.vec_id, v.vec_id) AS a_id,
    GREATEST(p.vec_id, v.vec_id) AS b_id
  FROM q p, q v WHERE p.vec_id % $QueryStride = 0 AND p.vec_id <> v.vec_id
),
pdots AS (
  SELECT a_id, b_id, CAST(SUM(fa.e * fb.e) AS BIGINT) AS dot
  FROM ppairs JOIN flat fa ON fa.vec_id = a_id
    JOIN flat fb ON fb.vec_id = b_id AND fb.i = fa.i
  GROUP BY 1, 2
),
exact AS (
  SELECT a_id, b_id FROM pdots
  JOIN norms na ON a_id = na.vec_id JOIN norms nb ON b_id = nb.vec_id
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
    >= ${D(MinCos)}
),
candp AS (
  SELECT a_id, b_id FROM scored_cand
  WHERE cosine >= ${D(MinCos)}
    AND (a_id % $QueryStride = 0 OR b_id % $QueryStride = 0)
),
hits AS (SELECT a_id, b_id FROM exact INTERSECT SELECT a_id, b_id FROM candp)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM candp) AS n_cand,
  (SELECT COUNT(*) FROM hits) AS n_hits,
  CASE WHEN (SELECT COUNT(*) FROM exact) > 0 THEN
    CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
      / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
  END AS recall"""

  // --- IVF top-k: coarse-codebook inverted-file ANN -----------------
  private val CentroidStride = 25 // vec_id % 25 == 0 → ~N/25 cells
  private val NProbe = 4

  private def ivf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfTopK(
      e,
      e.where(pmod(col("id"), lit(QueryStride)) === 0),
      e.where(pmod(col("id"), lit(CentroidStride)) === 0),
      NProbe, K)
      .orderBy("q_id", "rank")
  }

  /** [[Similarity.ivfRecallSweep]] on the same index layout as
    * `s_ivf_topk`: recall@$K against brute-force ground truth at
    * nprobe ∈ {1, 2, 4, 8} — the tuning curve that prices recall in
    * probes. One assignment + one candidate scoring at nprobe = 8;
    * smaller probe counts are filters over the carried probe rank.
    */
  private val SweepProbes = Seq(1, 2, 4, 8)

  private def ivfRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfRecallSweep(
      e,
      e.where(pmod(col("id"), lit(QueryStride)) === 0),
      e.where(pmod(col("id"), lit(CentroidStride)) === 0),
      SweepProbes, K)
  }

  private val ivfRecallCurveOracle: String = {
    val maxNp = SweepProbes.max
    val npValues = SweepProbes.map(p => s"($p)").mkString(", ")
    s"""WITH $quantCtes,
cdots AS (
  SELECT a.vec_id AS id, c.vec_id AS c_id, CAST(SUM(a.e * c.e) AS BIGINT) AS dot
  FROM flat a JOIN flat c ON a.i = c.i
  WHERE c.vec_id % $CentroidStride = 0
  GROUP BY 1, 2
),
cscored AS (
  SELECT id, c_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(n1.nn AS DOUBLE) * CAST(n2.nn AS DOUBLE)) AS ccos
  FROM cdots JOIN norms n1 ON id = n1.vec_id JOIN norms n2 ON c_id = n2.vec_id
),
cells AS MATERIALIZED (
  SELECT id, c_id AS cell FROM (
    SELECT id, c_id,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) AS rn
    FROM cscored
  ) WHERE rn = 1
),
probes AS MATERIALIZED (
  SELECT id AS q_id, c_id AS cell, rn AS pr FROM (
    SELECT id, c_id, ccos,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) AS rn
    FROM cscored WHERE id % $QueryStride = 0
  ) WHERE rn <= $maxNp
),
cand AS (
  SELECT p.q_id, c.id AS n_id, p.pr
  FROM probes p JOIN cells c ON p.cell = c.cell
  WHERE c.id <> p.q_id
),
cdots2 AS (
  SELECT cd.q_id, cd.n_id, cd.pr, CAST(SUM(fa.e * fb.e) AS BIGINT) AS dot
  FROM cand cd
  JOIN flat fa ON fa.vec_id = cd.q_id
  JOIN flat fb ON fb.vec_id = cd.n_id AND fb.i = fa.i
  GROUP BY 1, 2, 3
),
cscored2 AS MATERIALIZED (
  SELECT q_id, n_id, pr,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM cdots2 JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
),
nps(nprobe) AS (VALUES $npValues),
returned AS MATERIALIZED (
  SELECT nprobe, q_id, n_id FROM (
    SELECT nps.nprobe, s.q_id, s.n_id,
      ROW_NUMBER() OVER (PARTITION BY nps.nprobe, s.q_id
        ORDER BY s.cosine DESC, s.n_id) AS rk
    FROM cscored2 s JOIN nps ON s.pr <= nps.nprobe
  ) WHERE rk <= $K
),
edots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
exact AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
        CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) DESC,
        n_id) AS rk
    FROM edots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
  ) WHERE rk <= $K
),
ne AS (SELECT COUNT(*) AS n_exact FROM exact),
pernp AS (
  SELECT nprobe, COUNT(*) AS n_returned FROM returned GROUP BY 1
),
hits AS (
  SELECT r.nprobe, COUNT(*) AS n_hits
  FROM returned r JOIN exact e ON r.q_id = e.q_id AND r.n_id = e.n_id
  GROUP BY 1
)
SELECT CAST(nps.nprobe AS BIGINT) AS nprobe,
  CAST(COALESCE(pernp.n_returned, 0) AS BIGINT) AS n_returned,
  CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
  ne.n_exact,
  CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) AS recall
FROM nps LEFT JOIN pernp ON nps.nprobe = pernp.nprobe
  LEFT JOIN hits ON nps.nprobe = hits.nprobe
  CROSS JOIN ne
ORDER BY nprobe"""
  }

  private val ivfOracle: String = s"""WITH $quantCtes,
cdots AS (
  SELECT a.vec_id AS id, c.vec_id AS c_id, CAST(SUM(a.e * c.e) AS BIGINT) AS dot
  FROM flat a JOIN flat c ON a.i = c.i
  WHERE c.vec_id % $CentroidStride = 0
  GROUP BY 1, 2
),
cscored AS (
  SELECT id, c_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(n1.nn AS DOUBLE) * CAST(n2.nn AS DOUBLE)) AS ccos
  FROM cdots JOIN norms n1 ON id = n1.vec_id JOIN norms n2 ON c_id = n2.vec_id
),
cells AS (
  SELECT id, c_id AS cell FROM (
    SELECT id, c_id,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) AS rn
    FROM cscored
  ) WHERE rn = 1
),
probes AS (
  SELECT id AS q_id, c_id AS cell FROM (
    SELECT id, c_id,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) AS rn
    FROM cscored WHERE id % $QueryStride = 0
  ) WHERE rn <= $NProbe
),
cand AS (
  SELECT p.q_id, c.id AS n_id FROM probes p JOIN cells c ON p.cell = c.cell
  WHERE c.id <> p.q_id
),
dots AS (
  SELECT cd.q_id, cd.n_id, CAST(SUM(fa.e * fb.e) AS BIGINT) AS dot
  FROM cand cd
  JOIN flat fa ON fa.vec_id = cd.q_id
  JOIN flat fb ON fb.vec_id = cd.n_id AND fb.i = fa.i
  GROUP BY 1, 2
),
scored AS (
  SELECT q_id, n_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM dots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
)
SELECT q_id, rank, n_id, cosine FROM (
  SELECT q_id, n_id, cosine,
    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS INT) AS rank
  FROM scored
) WHERE rank <= $K ORDER BY q_id, rank"""

  /** Bucket occupancy histogram — the observability query you'd run
    * before trusting an LSH configuration at scale.
    */
  private def buckets(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("id"),
        Similarity.bucketSignature(Similarity.quantize(col("vec")), planes)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), min(col("id")).as("min_id"))
      .orderBy("bucket")

  private val bucketsOracle: String = {
    val planeValues = (for {
      (plane, p) <- planes.zipWithIndex
      (r, i) <- plane.zipWithIndex
    } yield s"($p,${i + 1},$r)").mkString(",")
    s"""WITH $quantCtes,
planes(p, i, r) AS (VALUES $planeValues),
bits AS (
  SELECT f.vec_id, pl.p,
    CASE WHEN CAST(SUM(f.e * pl.r) AS BIGINT) > 0 THEN '1' ELSE '0' END AS bit
  FROM flat f JOIN planes pl ON f.i = pl.i
  GROUP BY f.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
)
SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_id
FROM buckets GROUP BY bucket ORDER BY bucket"""
  }

  // --- PQ (product quantization) ADC top-k ----------------------------
  /** Per-subspace codebooks from an id stride (like the IVF cells —
    * production trains per-subspace k-means; the dataflow is
    * identical). m=4 subspaces of 16 dims; distances are exact BIGINT
    * squared-L2 on quantized units end-to-end, so even the output
    * column is integer — nothing for float accumulation to flip.
    */
  private val PqM = 4
  private val PqSub = Dim / PqM

  private def pq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.pqTopK(
      e,
      e.where(pmod(col("id"), lit(QueryStride)) === 0),
      e.where(pmod(col("id"), lit(CentroidStride)) === 0),
      PqM, Dim, K)
      .orderBy("q_id", "rank")
  }

  private val pqOracle: String = s"""WITH $quantCtes,
sub AS (
  SELECT vec_id, CAST((i - 1) // $PqSub AS INT) AS m, i, e FROM flat
),
cwd AS (
  SELECT s.vec_id, s.m, c.vec_id AS c_id,
    CAST(SUM((s.e - c.e) * (s.e - c.e)) AS BIGINT) AS d2
  FROM sub s JOIN sub c ON s.m = c.m AND s.i = c.i
  WHERE c.vec_id % $CentroidStride = 0
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT vec_id, m, c_id,
      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn
    FROM cwd
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS q_id, m, c_id, d2 FROM cwd WHERE vec_id % $QueryStride = 0
),
adc AS (
  SELECT l.q_id, e.vec_id AS n_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
  FROM enc e JOIN lut l ON l.m = e.m AND l.c_id = e.code
  WHERE e.vec_id <> l.q_id
  GROUP BY 1, 2
)
SELECT q_id, rank, n_id, adc_d2 FROM (
  SELECT q_id, n_id, adc_d2,
    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, n_id) AS INT) AS rank
  FROM adc
) WHERE rank <= $K ORDER BY q_id, rank"""

  // --- IVF-PQ: probed-cells compressed scan ----------------------------
  /** The FAISS-style composition: PQ codes scanned only inside the
    * query's probed IVF cells. Same id-stride coarse centroids as
    * `s_ivf_topk` and the same codebook as `s_pq_topk`, so the oracle is
    * the pq ADC restated with the cells/probes CTEs gating the scan.
    */
  private def ivfpq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.ivfPqTopK(
      e,
      e.where(pmod(col("id"), lit(QueryStride)) === 0),
      e.where(pmod(col("id"), lit(CentroidStride)) === 0),
      e.where(pmod(col("id"), lit(CentroidStride)) === 0),
      NProbe, PqM, Dim, K)
      .orderBy("q_id", "rank")
  }

  private val ivfpqOracle: String = s"""WITH $quantCtes,
cdots AS (
  SELECT a.vec_id AS id, c.vec_id AS c_id, CAST(SUM(a.e * c.e) AS BIGINT) AS dot
  FROM flat a JOIN flat c ON a.i = c.i
  WHERE c.vec_id % $CentroidStride = 0
  GROUP BY 1, 2
),
cscored AS (
  SELECT id, c_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(n1.nn AS DOUBLE) * CAST(n2.nn AS DOUBLE)) AS ccos
  FROM cdots JOIN norms n1 ON id = n1.vec_id JOIN norms n2 ON c_id = n2.vec_id
),
cells AS (
  SELECT id, c_id AS cell FROM (
    SELECT id, c_id,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) AS rn
    FROM cscored
  ) WHERE rn = 1
),
probes AS (
  SELECT id AS q_id, c_id AS cell FROM (
    SELECT id, c_id,
      ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) AS rn
    FROM cscored WHERE id % $QueryStride = 0
  ) WHERE rn <= $NProbe
),
sub AS (
  SELECT vec_id, CAST((i - 1) // $PqSub AS INT) AS m, i, e FROM flat
),
cwd AS (
  SELECT s.vec_id, s.m, c.vec_id AS c_id,
    CAST(SUM((s.e - c.e) * (s.e - c.e)) AS BIGINT) AS d2
  FROM sub s JOIN sub c ON s.m = c.m AND s.i = c.i
  WHERE c.vec_id % $CentroidStride = 0
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT vec_id, m, c_id,
      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn
    FROM cwd
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS q_id, m, c_id, d2 FROM cwd WHERE vec_id % $QueryStride = 0
),
adc AS (
  SELECT l.q_id, e.vec_id AS n_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
  FROM enc e
  JOIN cells ce ON ce.id = e.vec_id
  JOIN probes p ON p.cell = ce.cell
  JOIN lut l ON l.m = e.m AND l.c_id = e.code AND l.q_id = p.q_id
  WHERE e.vec_id <> l.q_id
  GROUP BY 1, 2
)
SELECT q_id, rank, n_id, adc_d2 FROM (
  SELECT q_id, n_id, adc_d2,
    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, n_id) AS INT) AS rank
  FROM adc
) WHERE rank <= $K ORDER BY q_id, rank"""

  // --- per-label centroids (class prototypes) --------------------------
  /** Mean embedding per label — the class-prototype aggregate behind
    * centroid classifiers and cluster drift checks. One (label, dim)
    * keyed sum of exact quantized components (map-side combinable,
    * order-independent), one double division at the end; output is a
    * flat (label, dim_i) table — the layout a 100 TB pipeline actually
    * stores centroids in (re-assembling arrays is a presentation
    * concern).
    */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("label"),
        posexplode(Similarity.quantize(col("embedding"))).as(Seq("i", "e")))
      .groupBy(col("label"), (col("i") + 1).as("dim_i"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("sum_q"))
      .withColumn("mean",
        col("sum_q").cast("double") / col("n") / Similarity.Scale)
      .orderBy("label", "dim_i")

  private val labelCentroidsOracle: String = s"""WITH q AS (
  SELECT label,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * ${Similarity.Scale} + ${D("0.5")}) AS BIGINT)) AS qv
  FROM embeddings
),
f AS (
  SELECT label, unnest(qv) AS e, unnest(generate_series(1, len(qv))) AS i FROM q
)
SELECT label, CAST(i AS INT) AS dim_i, COUNT(*) AS n,
  CAST(SUM(e) AS BIGINT) AS sum_q,
  CAST(SUM(e) AS DOUBLE) / COUNT(*) / ${Similarity.Scale} AS mean
FROM f GROUP BY 1, 2 ORDER BY label, dim_i"""

  /** Centroid silhouette per label — the cluster-quality readout that
    * says whether the labels are GEOMETRIC clusters at all: per point,
    * a = distance to its own label centroid, b = the nearest OTHER
    * centroid, s = (b−a)/max(a,b) (the simplified/medoid-free
    * silhouette production evaluators use — exact pairwise silhouette
    * is quadratic). Distances stay exact until the last step:
    * Σ(n·qv − Σq)² per (point, centroid) is an exact long (centroids
    * enter multiplied through by their count, never as float means),
    * and dist = √num/n is one sqrt+division per pair. Per-point s is
    * micro-floored before the per-label integer mean. Work is
    * points × labels × dims via a broadcast 640-row centroid table —
    * linear in corpus, never pairwise.
    */
  private def silhouette(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label").as("own"),
        Similarity.quantize(col("embedding")).as("qv"))
    val dims = e.select(col("vec_id"), col("own"),
      posexplode(col("qv")).as(Seq("i0", "q")))
      .select(col("vec_id"), col("own"), (col("i0") + 1).as("dim_i"),
        col("q"))
    val cent = Tables(s, dir, "embeddings")
      .select(col("label").as("cl"),
        posexplode(Similarity.quantize(col("embedding")))
          .as(Seq("i0", "q")))
      .groupBy(col("cl"), (col("i0") + 1).as("dim_i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
    val d2 = dims.join(broadcast(cent), Seq("dim_i"))
      .groupBy(col("vec_id"), col("own"), col("cl"))
      .agg(max(col("n")).as("n"),
        sum((col("n") * col("q") - col("sq")) *
          (col("n") * col("q") - col("sq"))).as("num"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val dist = d2.select(col("vec_id"), col("own"), col("cl"),
      (sqrt(dd(col("num"))) / dd(col("n"))).as("dist"))
    val a = dist.where(col("own") === col("cl"))
      .select(col("vec_id"), col("own"), col("dist").as("a"))
    val b = dist.where(col("own") =!= col("cl"))
      .groupBy(col("vec_id")).agg(min(col("dist")).as("b"))
    a.join(b, Seq("vec_id"))
      .select(col("own").as("label"),
        floor((col("b") - col("a")) / greatest(col("a"), col("b")) * 1e6)
          .cast("long").as("s_micro"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"), sum(col("s_micro")).as("s_sum"))
      .select(col("label"), col("n_points"),
        (col("s_sum").cast("double") / lit(1e6)
          / col("n_points").cast("double")).as("mean_silhouette"))
      .orderBy("label")
  }

  private val silhouetteOracle: String = s"""WITH $quantCtes,
lab AS (SELECT vec_id, label FROM embeddings),
cent AS (
  SELECT l.label AS cl, f.i AS dim_i, COUNT(*) AS n,
    CAST(SUM(f.e) AS BIGINT) AS sq
  FROM flat f JOIN lab l USING (vec_id) GROUP BY 1, 2
), dims AS (
  SELECT f.vec_id, l.label AS own, f.i AS dim_i, f.e AS q
  FROM flat f JOIN lab l USING (vec_id)
), d2 AS (
  SELECT d.vec_id, d.own, c.cl, MAX(c.n) AS n,
    CAST(SUM((c.n * d.q - c.sq) * (c.n * d.q - c.sq)) AS BIGINT) AS num
  FROM dims d JOIN cent c ON d.dim_i = c.dim_i
  GROUP BY 1, 2, 3
), dist AS (
  SELECT vec_id, own, cl,
    sqrt(CAST(num AS DOUBLE)) / CAST(n AS DOUBLE) AS dist
  FROM d2
), a AS (
  SELECT vec_id, own, dist AS a FROM dist WHERE own = cl
), b AS (
  SELECT vec_id, MIN(dist) AS b FROM dist WHERE own <> cl GROUP BY 1
), sil AS (
  SELECT a.own AS label,
    CAST(FLOOR((b.b - a.a) / GREATEST(a.a, b.b) * ${D("1e6")}) AS BIGINT)
      AS s_micro
  FROM a JOIN b ON a.vec_id = b.vec_id
)
SELECT label, COUNT(*) AS n_points,
  CAST(SUM(s_micro) AS DOUBLE) / ${D("1e6")} / CAST(COUNT(*) AS DOUBLE)
    AS mean_silhouette
FROM sil GROUP BY 1 ORDER BY label"""

  /** Embedding-cosine near-dup DEDUP decision: a vector is dropped when
    * any LSH-candidate neighbor with a smaller id has cosine >= τ
    * (keep-first policy, like the text dedup). Output = the full
    * keep/drop verdict per vector.
    */
  private val DedupCos = 0.35

  private def embDedup(s: SparkSession, dir: String): DataFrame = {
    val drops = Similarity
      .lshCandidates(emb(s, dir), planes, Bands, RowsPerBand, DedupCos)
      .select(col("b_id").as("id")).distinct()
    emb(s, dir).select(col("id"))
      .join(drops.withColumn("_drop", lit(1)), Seq("id"), "left")
      .select(col("id").as("vec_id"),
        when(col("_drop").isNotNull, 0).otherwise(1).as("keep"))
      .orderBy("vec_id")
  }

  private val embDedupOracle: String = {
    val planeValues = (for {
      (plane, p) <- planes.zipWithIndex
      (r, i) <- plane.zipWithIndex
    } yield s"($p,${i + 1},$r)").mkString(",")
    val bandSelects = (0 until Bands).map { b =>
      s"SELECT vec_id, $b AS band, substring(bucket, ${b * RowsPerBand + 1}, $RowsPerBand) AS bkey FROM buckets"
    }.mkString(" UNION ALL ")
    s"""WITH $quantCtes,
planes(p, i, r) AS (VALUES $planeValues),
bits AS (
  SELECT f.vec_id, pl.p,
    CASE WHEN CAST(SUM(f.e * pl.r) AS BIGINT) > 0 THEN '1' ELSE '0' END AS bit
  FROM flat f JOIN planes pl ON f.i = pl.i
  GROUP BY f.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
),
bands AS ($bandSelects),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.a_id, c.b_id, CAST(SUM(fa.e * fb.e) AS BIGINT) AS dot
  FROM cand c
  JOIN flat fa ON fa.vec_id = c.a_id
  JOIN flat fb ON fb.vec_id = c.b_id AND fb.i = fa.i
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT b_id AS vec_id FROM dots
  JOIN norms na ON a_id = na.vec_id JOIN norms nb ON b_id = nb.vec_id
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) >= ${D(DedupCos)}
)
SELECT e.vec_id, CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id
ORDER BY e.vec_id"""
  }

  // --- BM25 lexical retrieval -----------------------------------------
  private val Bm25K = 10
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "query", "fast"),
    1L -> Seq("window", "join"),
    2L -> Seq("vector", "stream", "batch"))

  private def bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(
        Tables(s, dir, "documents"), "doc_id", "text",
        Bm25Queries, Bm25K, Bm25K1, Bm25B)
      .orderBy("q_id", "rank")

  /** Phrase search over a positional inverted index — the exact-match
    * retrieval mode BM25's bag-of-words can't express: a phrase matches
    * only where its words are ADJACENT, found by equi-joining each
    * phrase word's postings on (doc, position+offset). Phrases under
    * test are the corpus's top-3 word bigrams (count desc, words asc —
    * fully data-driven, so the query is self-contained at any SF).
    *
    * Scale shape: the postings table is (token, doc, pos) — the
    * inverted-index layout; each phrase lookup BROADCASTS the 3-row
    * phrase list and semi-filters postings to phrase words BEFORE the
    * position join, so join input is Σ df(phrase words), never the
    * corpus. Per-phrase readout: doc hits, total occurrences, top doc
    * (occurrences desc, id asc — one struct-max, no window).
    */
  private def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    val post = Tables(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("w"))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "token")))
    val adjacent = post.select(col("doc_id"), col("p"), col("token").as("w1"))
      .join(post.select(col("doc_id"), (col("p") - 1).as("p"),
        col("token").as("w2")), Seq("doc_id", "p"))
    val phrases = adjacent.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(3)
      .select(col("w1"), col("w2"))
    // the indexed lookup path: postings filtered to phrase words first
    val h1 = post.join(broadcast(phrases), post("token") === phrases("w1"))
      .select(col("w1"), col("w2"), col("doc_id"), col("p"))
    val h2 = post.select(col("doc_id"), (col("p") - 1).as("p"),
      col("token").as("t2"))
    val hits = h1.join(h2, Seq("doc_id", "p"))
      .where(col("t2") === col("w2"))
      .groupBy(col("w1"), col("w2"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
    hits.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_occ")).as("n_occurrences"),
        max(struct(col("n_occ").as("o"), (-col("doc_id")).as("nd"))).as("m"))
      .select(concat(col("w1"), lit(" "), col("w2")).as("phrase"),
        col("n_docs"), col("n_occurrences"),
        (-col("m.nd")).as("top_doc"), col("m.o").as("top_doc_occ"))
      .orderBy(col("n_occurrences").desc, col("phrase"))
  }

  private val phraseSearchOracle: String = """WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    string_split_regex(trim(lower(text)), '\s+') AS w
  FROM documents
), post AS (
  SELECT doc_id, unnest(w) AS token,
    CAST(unnest(range(0, len(w))) AS BIGINT) AS p
  FROM d
), adj AS (
  SELECT a.doc_id, a.token AS w1, b.token AS w2
  FROM post a JOIN post b ON a.doc_id = b.doc_id AND b.p = a.p + 1
), ph AS (
  SELECT w1, w2 FROM (
    SELECT w1, w2, COUNT(*) AS n FROM adj GROUP BY 1, 2)
  ORDER BY n DESC, w1, w2 LIMIT 3
), hits AS (
  SELECT adj.w1, adj.w2, doc_id, COUNT(*) AS n_occ
  FROM adj JOIN ph ON adj.w1 = ph.w1 AND adj.w2 = ph.w2
  GROUP BY 1, 2, 3
), agg AS (
  SELECT w1, w2, COUNT(*) AS n_docs,
    CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
  FROM hits GROUP BY 1, 2
), top AS (
  SELECT w1, w2, doc_id AS top_doc, n_occ AS top_doc_occ FROM hits
  QUALIFY ROW_NUMBER() OVER (PARTITION BY w1, w2
    ORDER BY n_occ DESC, doc_id) = 1
)
SELECT a.w1 || ' ' || a.w2 AS phrase, n_docs, n_occurrences,
  top_doc, top_doc_occ
FROM agg a JOIN top t ON a.w1 = t.w1 AND a.w2 = t.w2
ORDER BY n_occurrences DESC, phrase"""

  /** The oracle restates BM25 with the exact same expression shape and
    * literal spellings (both engines parse "1.2"/"0.75" to the same
    * doubles and apply the same IEEE op order), then ranks on the
    * 1e-4-quantized score with a doc_id tie-break, like the operator.
    */
  private val bm25Oracle: String = {
    val values = Bm25Queries
      .flatMap { case (q, ts) => ts.distinct.map(t => s"(CAST($q AS BIGINT), '$t')") }
      .mkString(", ")
    s"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
q(q_id, term) AS (VALUES $values),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf
  WHERE term IN (SELECT term FROM q) GROUP BY 1
),
scored AS (
  SELECT q_id, tf.doc_id,
    SUM(
      ln(${D("1")} + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + ${D("0.5")})
        / (CAST(df AS DOUBLE) + ${D("0.5")}))
      * (CAST(tf AS DOUBLE) * (${D(Bm25K1.toString)} + ${D("1")})
        / (CAST(tf AS DOUBLE) + ${D(Bm25K1.toString)}
          * (${D("1")} - ${D(Bm25B.toString)} + ${D(Bm25B.toString)}
            * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
    ) AS s
  FROM tf JOIN q USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id), corpus
  GROUP BY 1, 2
),
rr AS (
  SELECT q_id, doc_id,
    CAST(FLOOR(s * ${D("10000")} + ${D("0.5")}) AS BIGINT) AS sq
  FROM scored
), ranked AS (
  SELECT q_id, doc_id, sq,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sq DESC, doc_id) AS rank
  FROM rr
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id,
  CAST(sq AS BIGINT) / ${D("10000")} AS score
FROM ranked WHERE rank <= $Bm25K ORDER BY q_id, rank"""
  }

  // --- hybrid retrieval: reciprocal-rank fusion (RRF) -----------------
  /** Lexical (BM25) and vector (brute-force cosine) rank lists fused
    * with RRF — the standard hybrid-retrieval combiner (Cormack et al.
    * 2009): score(d) = Σ_lists 1/(60 + rank_list(d)), here in exact
    * integer micro-units (1e6 div (60 + rank)) so the fusion is
    * hash-reproducible. Queries are aligned across modalities by id
    * (vector query `vec_id = 50·q` ↔ BM25 query `q`); a doc missing
    * from one list simply contributes nothing — the full-outer-join
    * semantics every production RRF uses. Both input rankers are the
    * ALREADY-GRADED operators; only the fusion join + per-query top-10
    * window (3 queries × ≤15 rows) is new work.
    */
  private def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = graft.operators.Retrieval.bm25TopK(
        Tables(s, dir, "documents"), "doc_id", "text",
        Bm25Queries, Bm25K, Bm25K1, Bm25B)
      .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))
    val e = emb(s, dir)
    val vec = Similarity.bruteForceTopK(
        e, e.where(pmod(col("id"), lit(QueryStride)) === 0 &&
          col("id") < QueryStride * 3), K)
      .select(expr(s"q_id div $QueryStride").as("q_id"),
        col("n_id").as("doc_id"), col("rank").as("vec_rank"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        (coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L))).as("rrf_micro"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 10).drop("rn")
      .orderBy(col("q_id"), col("rrf_micro").desc, col("doc_id"))
  }

  /** Restates BOTH graded chains under prefixed CTE names (`b_` BM25,
    * `c_` cosine) — the copies must stay in lockstep with
    * [[bm25Oracle]]/[[topkOracle]], which the gate enforces every run
    * since all three queries grade against the same operators.
    */
  private val rrfOracle: String = {
    val values = Bm25Queries
      .flatMap { case (q, ts) => ts.distinct.map(t => s"(CAST($q AS BIGINT), '$t')") }
      .mkString(", ")
    s"""WITH $quantCtes,
b_toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
b_tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM b_toks GROUP BY 1, 2),
b_dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM b_tf GROUP BY 1),
b_corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM b_dl),
b_q(q_id, term) AS (VALUES $values),
b_dfreq AS (
  SELECT term, COUNT(*) AS df FROM b_tf
  WHERE term IN (SELECT term FROM b_q) GROUP BY 1
),
b_scored AS (
  SELECT q_id, b_tf.doc_id,
    SUM(
      ln(${D("1")} + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + ${D("0.5")})
        / (CAST(df AS DOUBLE) + ${D("0.5")}))
      * (CAST(tf AS DOUBLE) * (${D(Bm25K1.toString)} + ${D("1")})
        / (CAST(tf AS DOUBLE) + ${D(Bm25K1.toString)}
          * (${D("1")} - ${D(Bm25B.toString)} + ${D(Bm25B.toString)}
            * CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
    ) AS s
  FROM b_tf JOIN b_q USING (term) JOIN b_dfreq USING (term)
    JOIN b_dl USING (doc_id), b_corpus
  GROUP BY 1, 2
),
b_rr AS (
  SELECT q_id, doc_id,
    CAST(FLOOR(s * ${D("10000")} + ${D("0.5")}) AS BIGINT) AS sq
  FROM b_scored
),
b_top AS (
  SELECT q_id, doc_id,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sq DESC, doc_id) AS rank
  FROM b_rr
  QUALIFY rank <= $Bm25K
),
c_dots AS (
  SELECT a.vec_id AS qv_id, b.vec_id AS doc_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0 AND a.vec_id < ${QueryStride * 3}
  GROUP BY 1, 2
),
c_scored AS (
  SELECT qv_id, doc_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cosine
  FROM c_dots JOIN norms na ON qv_id = na.vec_id JOIN norms nb ON doc_id = nb.vec_id
),
c_top AS (
  SELECT qv_id // $QueryStride AS q_id, doc_id,
    ROW_NUMBER() OVER (PARTITION BY qv_id ORDER BY cosine DESC, doc_id) AS rank
  FROM c_scored
  QUALIFY rank <= $K
),
fused AS (
  SELECT COALESCE(l.q_id, v.q_id) AS q_id, COALESCE(l.doc_id, v.doc_id) AS doc_id,
    CAST(COALESCE(1000000 // (60 + l.rank), 0)
       + COALESCE(1000000 // (60 + v.rank), 0) AS BIGINT) AS rrf_micro
  FROM b_top l FULL OUTER JOIN c_top v
    ON l.q_id = v.q_id AND l.doc_id = v.doc_id
)
SELECT q_id, doc_id, rrf_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
    ORDER BY rrf_micro DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= 10
ORDER BY q_id, rrf_micro DESC, doc_id"""
  }

  /** SemDeDup: id-stride centroids (the [[ivfTopK]] oracle trick — the
    * trained-codebook path is spec-verified), greedy keep-lowest-id
    * within-cluster near-dup drop at cosine ≥ 0.4 (the corpus has no
    * planted exact twins; 0.4 is where this synthetic embedding space
    * starts producing same-cluster neighbors).
    */
  private val SemCos = 0.4

  private def semdedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.semDedup(
      e, e.where(pmod(col("id"), lit(QueryStride)) === 0), SemCos)
      .select(col("id").as("vec_id"), col("cell"), col("kept"))
      .orderBy("vec_id")
  }

  private val semdedupOracle: String = s"""WITH $quantCtes,
cd AS (
  SELECT a.vec_id AS id, b.vec_id AS c_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i
  WHERE b.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
cc AS (
  SELECT id, c_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS ccos
  FROM cd JOIN norms na ON id = na.vec_id JOIN norms nb ON c_id = nb.vec_id
),
cells AS (
  SELECT id, c_id AS cell FROM cc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) = 1
),
pr AS (
  SELECT ca.id AS a_id, cb.id AS b_id
  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.id < cb.id
),
pd AS (
  SELECT a_id, b_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM pr JOIN flat a ON a.vec_id = a_id
    JOIN flat b ON b.vec_id = b_id AND a.i = b.i
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT b_id FROM pd
  JOIN norms na ON a_id = na.vec_id JOIN norms nb ON b_id = nb.vec_id
  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
    >= ${D(SemCos)}
)
SELECT c.id AS vec_id, c.cell, (b_id IS NULL) AS kept
FROM cells c LEFT JOIN dropped ON c.id = b_id
ORDER BY vec_id"""

  /** IVF codebook quality (inertia): per-cell member count and EXACT
    * summed squared-L2 distance to the assigned centroid, in quantized
    * units (d² = ‖v‖² + ‖c‖² − 2v·c, all BIGINT). The per-round metric a
    * production IVF/SemDeDup re-trainer watches: rising inertia or a
    * mega-cell means the codebook no longer fits the corpus. Same
    * broadcast-codebook assignment dataflow as [[Similarity.ivfTopK]] —
    * one crossJoin against ~√N centroids, map-side-combined argmax, then
    * a cells-sized aggregate.
    */
  private def ivfInertia(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
      .withColumn("nn", Similarity.normSqQ(col("qv")))
    val cb = e.where(pmod(col("id"), lit(QueryStride)) === 0)
      .select(col("id").as("c_id"), Similarity.quantize(col("vec")).as("cqv"))
      .withColumn("cnn", Similarity.normSqQ(col("cqv")))
    val dot = Similarity.dotQ(col("qv"), col("cqv"))
    base.crossJoin(broadcast(cb))
      .select(col("id"),
        struct(
          Similarity.cosineQ(dot, col("nn"), col("cnn")).as("ccos"),
          (-col("c_id")).as("negc"),
          (col("nn") + col("cnn") - lit(2L) * dot).as("d2")).as("sc"))
      .groupBy(col("id")).agg(max(col("sc")).as("m"))
      .select(col("id"), (-col("m.negc")).cast("long").as("cell"),
        col("m.d2").as("d2"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_d2"))
      .orderBy("cell")
  }

  private val ivfInertiaOracle: String = s"""WITH $quantCtes,
cd AS (
  SELECT a.vec_id AS id, b.vec_id AS c_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i
  WHERE b.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
cc AS (
  SELECT id, c_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS ccos,
    na.nn + nb.nn - 2 * dot AS d2
  FROM cd JOIN norms na ON id = na.vec_id JOIN norms nb ON c_id = nb.vec_id
),
best AS (
  SELECT id, c_id AS cell, d2 FROM cc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY ccos DESC, c_id) = 1
)
SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM best GROUP BY cell ORDER BY cell"""

  // --- mutual kNN graph (LSH-bounded) ---------------------------------
  /** Mutual-nearest-neighbour pairs: (a, b) where each is in the
    * other's top-[[MutualK]] by cosine AMONG ITS LSH CANDIDATES — the
    * reciprocal-kNN edge used to build ANN graphs and high-precision
    * dedup clusters (mutuality filters out hub-induced asymmetric
    * neighbors). Candidate generation is the already-graded banded LSH
    * join (corpus-linear); ranking is the bounded top-k combine per
    * direction; the mutual check is one self-join on the k-bounded
    * ranked edges. Nothing here is all-pairs.
    */
  private val MutualK = 3

  private def mutualKnn(s: SparkSession, dir: String): DataFrame = {
    val cand = Similarity.lshCandidates(emb(s, dir), planes, Bands, RowsPerBand, MinCos)
    val sym = cand.select(col("a_id").as("q_id"), col("b_id").as("n_id"), col("cosine"))
      .union(cand.select(col("b_id").as("q_id"), col("a_id").as("n_id"), col("cosine")))
    val ranked = sym.groupBy(col("q_id"))
      .agg(graft.functions.TopKPairs.topK(MutualK)(
        col("cosine"), col("n_id").cast("long")).as("top"))
      .select(col("q_id"), explode(col("top")).as("x"))
      .select(col("q_id"), col("x._2").as("n_id"), col("x._1").as("cosine"))
    ranked.as("f")
      .join(ranked.as("r"),
        col("f.q_id") === col("r.n_id") && col("f.n_id") === col("r.q_id"))
      .where(col("f.q_id") < col("f.n_id"))
      .select(col("f.q_id").as("a_id"), col("f.n_id").as("b_id"),
        col("f.cosine").as("cosine"))
      .orderBy("a_id", "b_id")
  }

  private lazy val mutualKnnOracle: String = s"""WITH $quantCtes,
$lshCandCtes,
thr AS (
  SELECT a_id, b_id, cosine FROM scored_cand WHERE cosine >= ${D(MinCos)}
),
symq AS (
  SELECT a_id AS q_id, b_id AS n_id, cosine FROM thr
  UNION ALL SELECT b_id AS q_id, a_id AS n_id, cosine FROM thr
),
rankedq AS (
  SELECT q_id, n_id, cosine FROM symq
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) <= $MutualK
)
SELECT f.q_id AS a_id, f.n_id AS b_id, f.cosine
FROM rankedq f JOIN rankedq r ON f.q_id = r.n_id AND f.n_id = r.q_id
WHERE f.q_id < f.n_id
ORDER BY a_id, b_id"""

  // --- MMR diversified re-ranking -------------------------------------
  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) re-rank:
    * from each query's top-[[MmrPool]] cosine candidates, greedily pick
    * [[MmrPick]] maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked (λ = 1/2) — the diversity stage a RAG retriever
    * runs after first-stage ANN. The greedy recursion is UNROLLED into
    * [[MmrPick]] argmax-of-struct rounds over the pool: per query the
    * state is ≤ pool² candidate-pair similarities, so the whole rerank
    * is bounded work after the (already bounded) first stage — exactly
    * how a production reranker treats it. Scores are fixed double
    * trees over quantized-cosine inputs; ties break on n_id.
    */
  private val MmrPool = 10
  private val MmrPick = 3

  private def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cand = Similarity.bruteForceTopK(
        e, e.where(pmod(col("id"), lit(QueryStride)) === 0), MmrPool)
      .select(col("q_id"), col("n_id"), col("cosine").as("rel"))
    val base = e.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
      .withColumn("nn", Similarity.normSqQ(col("qv")))
    val sims = cand.select(col("q_id"), col("n_id").as("a_id"))
      .join(cand.select(col("q_id"), col("n_id").as("b_id")), Seq("q_id"))
      .where(col("a_id") =!= col("b_id"))
      .join(base.select(col("id").as("a_id"), col("qv").as("av"), col("nn").as("an")), Seq("a_id"))
      .join(base.select(col("id").as("b_id"), col("qv").as("bv"), col("nn").as("bn")), Seq("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        Similarity.cosineQ(Similarity.dotQ(col("av"), col("bv")),
          col("an"), col("bn")).as("sim"))
    def argmax(df: DataFrame, score: Column, idAs: String, scoreAs: String): DataFrame =
      df.groupBy(col("q_id"))
        .agg(max(struct(score.as("s"), (-col("n_id")).as("ni"))).as("m"))
        .select(col("q_id"), (-col("m.ni")).as(idAs), col("m.s").as(scoreAs))
    val s1 = argmax(cand, lit(0.5) * col("rel"), "s1_id", "score1")
    val r2 = cand.join(s1, Seq("q_id")).where(col("n_id") =!= col("s1_id"))
      .join(sims.select(col("q_id"), col("a_id").as("n_id"),
        col("b_id").as("s1_id"), col("sim").as("sim1")), Seq("q_id", "n_id", "s1_id"))
    val s2 = argmax(r2, lit(0.5) * col("rel") - lit(0.5) * col("sim1"), "s2_id", "score2")
    val r3 = cand.join(s1.select("q_id", "s1_id"), Seq("q_id"))
      .join(s2, Seq("q_id"))
      .where(col("n_id") =!= col("s1_id") && col("n_id") =!= col("s2_id"))
      .join(sims.select(col("q_id"), col("a_id").as("n_id"),
        col("b_id").as("s1_id"), col("sim").as("sim1")), Seq("q_id", "n_id", "s1_id"))
      .join(sims.select(col("q_id"), col("a_id").as("n_id"),
        col("b_id").as("s2_id"), col("sim").as("sim2")), Seq("q_id", "n_id", "s2_id"))
    val s3 = argmax(r3,
      lit(0.5) * col("rel") - lit(0.5) * greatest(col("sim1"), col("sim2")),
      "s3_id", "score3")
    s1.select(col("q_id"), lit(1L).as("pick"), col("s1_id").as("n_id"), col("score1").as("mmr_score"))
      .union(s2.select(col("q_id"), lit(2L), col("s2_id"), col("score2")))
      .union(s3.select(col("q_id"), lit(3L), col("s3_id"), col("score3")))
      .orderBy("q_id", "pick")
  }

  private lazy val mmrRerankOracle: String = s"""WITH $quantCtes,
dots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id, CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
cand AS (
  SELECT q_id, n_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS rel
  FROM dots JOIN norms na ON q_id = na.vec_id JOIN norms nb ON n_id = nb.vec_id
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) <= $MmrPool
),
cpairs AS (
  SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id
  FROM cand a JOIN cand b USING (q_id) WHERE a.n_id <> b.n_id
),
pdots AS (
  SELECT cp.q_id, cp.a_id, cp.b_id, CAST(SUM(fa.e * fb.e) AS BIGINT) AS dot
  FROM cpairs cp
  JOIN flat fa ON fa.vec_id = cp.a_id
  JOIN flat fb ON fb.vec_id = cp.b_id AND fb.i = fa.i
  GROUP BY 1, 2, 3
),
psims AS (
  SELECT q_id, a_id, b_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS sim
  FROM pdots JOIN norms na ON a_id = na.vec_id JOIN norms nb ON b_id = nb.vec_id
),
s1 AS (
  SELECT q_id, n_id AS s1_id, ${D("0.5")} * rel AS score1 FROM cand
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) = 1
),
r2 AS (
  SELECT c.q_id, c.n_id, ${D("0.5")} * c.rel - ${D("0.5")} * ps.sim AS score
  FROM cand c JOIN s1 USING (q_id)
  JOIN psims ps ON ps.q_id = c.q_id AND ps.a_id = c.n_id AND ps.b_id = s1.s1_id
  WHERE c.n_id <> s1.s1_id
),
s2 AS (
  SELECT q_id, n_id AS s2_id, score AS score2 FROM r2
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) = 1
),
r3 AS (
  SELECT c.q_id, c.n_id,
    ${D("0.5")} * c.rel - ${D("0.5")} * GREATEST(p1.sim, p2.sim) AS score
  FROM cand c JOIN s1 USING (q_id) JOIN s2 USING (q_id)
  JOIN psims p1 ON p1.q_id = c.q_id AND p1.a_id = c.n_id AND p1.b_id = s1.s1_id
  JOIN psims p2 ON p2.q_id = c.q_id AND p2.a_id = c.n_id AND p2.b_id = s2.s2_id
  WHERE c.n_id <> s1.s1_id AND c.n_id <> s2.s2_id
),
s3 AS (
  SELECT q_id, n_id AS s3_id, score AS score3 FROM r3
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) = 1
)
SELECT q_id, pick, n_id, mmr_score FROM (
  SELECT q_id, CAST(1 AS BIGINT) AS pick, s1_id AS n_id, score1 AS mmr_score FROM s1
  UNION ALL SELECT q_id, 2, s2_id, score2 FROM s2
  UNION ALL SELECT q_id, 3, s3_id, score3 FROM s3
) ORDER BY q_id, pick"""

  // --- graph-walk ANN (NSW-style greedy beam search) ------------------
  /** Navigable-graph ANN: build a neighbor graph (LSH candidates
    * symmetrized, each node keeping its [[GraphK]] strongest edges — the
    * practical billion-vector graph build; exact kNN would be
    * all-pairs), then answer each query with a [[WalkRounds]]-round
    * beam search from a fixed entry point: expand the beam's
    * out-neighbors, score candidates with the exact integer cosine,
    * keep the top [[WalkBeam]]. Previous beam members are rescored with
    * the candidates, so the beam is monotone and the trajectory is
    * fully deterministic — the oracle unrolls the identical rounds.
    * Per-query work is O(rounds · beam · GraphK) score evaluations,
    * INDEPENDENT of corpus size — the property that makes graph
    * indexes the ANN scale path. Output: each query's walk result vs
    * the exact NN (hit flag = did the greedy walk land on it).
    */
  private val GraphK = 8
  private val WalkBeam = 6
  private val WalkRounds = 4
  private val WalkEntries = 4

  private def graphAnn(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // LAZY checkpoints throughout this query (r10): the walk has a
    // FIXED round count and no intermediate action, so the final noop
    // materializes base/graph/every beam round in ONE job — the eager
    // variants ran six extra materialization jobs per run while the
    // lazy LogicalRDD leaves keep the per-round plans just as shallow
    // base feeds graph build + every round's scoring
    val base = Checkpoints.round(
      e.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
        .withColumn("nn", Similarity.normSqQ(col("qv"))), eager = false)
    val cand = Similarity.lshCandidates(e, planes, Bands, RowsPerBand, MinCos)
    val sym = cand
      .select(col("a_id").as("node"), col("b_id").as("nbr"), col("cosine"))
      .union(cand
        .select(col("b_id").as("node"), col("a_id").as("nbr"), col("cosine")))
    val graph = Checkpoints.round(sym.groupBy(col("node")) // reused every round
      .agg(graft.functions.TopKPairs.topK(GraphK)(
        col("cosine"), col("nbr").cast("long")).as("top"))
      .select(col("node"), explode(col("top")).as("x"))
      .select(col("node"), col("x._2").as("nbr")), eager = false)
    val queries = base.where(pmod(col("id"), lit(QueryStride)) === 0)
      .select(col("id").as("q_id"), col("qv").as("qqv"), col("nn").as("qn"))
    // multiple spread entry points cut the expected path length to the
    // query's neighborhood (the multi-entry trick graph indexes use
    // when there is no hierarchy): the WalkEntries smallest ids
    val entry = base.orderBy(col("id")).limit(WalkEntries)
      .select(col("id").as("cand"))
    // seed beam: every query starts at the entry points (unscored)
    var beam = queries.select(col("q_id")).crossJoin(broadcast(entry))
      .withColumn("rank", lit(1L)).withColumn("cosine", lit(0.0))
    for (_ <- 1 to WalkRounds) {
      val expanded = beam.select(col("q_id"), col("cand"))
        .join(graph, col("cand") === col("node"))
        .select(col("q_id"), col("nbr").as("cand"))
      val cands = beam.select(col("q_id"), col("cand"))
        .union(expanded).distinct()
      val scored = cands.where(col("cand") =!= col("q_id"))
        .join(base.select(col("id").as("cand"), col("qv"), col("nn")),
          Seq("cand"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("q_id"), col("cand").as("n_id"),
          Similarity.cosineQ(Similarity.dotQ(col("qv"), col("qqv")),
            col("nn"), col("qn")).as("cosine"))
      // cut per-round lineage, no round job
      beam = Checkpoints.round(Similarity.perQueryTopK(scored, WalkBeam)
        .select(col("q_id"), col("rank"), col("n_id").as("cand"),
          col("cosine")), eager = false)
    }
    val exact = Similarity.bruteForceTopK(
        e, e.where(pmod(col("id"), lit(QueryStride)) === 0), 1)
      .select(col("q_id"), col("n_id").as("exact_id"),
        col("cosine").as("exact_cos"))
    beam.where(col("rank") === 1)
      .select(col("q_id"), col("cand").as("found_id"),
        col("cosine").as("found_cos"))
      .join(exact, Seq("q_id"))
      .withColumn("nn_hit",
        when(col("found_id") === col("exact_id"), 1L).otherwise(0L))
      .orderBy("q_id")
  }

  private lazy val graphAnnOracle: String = {
    val rounds = (1 to WalkRounds).map { i =>
      s"""c$i AS (
  SELECT DISTINCT q_id, cand FROM (
    SELECT q_id, cand FROM b${i - 1}
    UNION ALL
    SELECT b.q_id, g.nbr AS cand
    FROM b${i - 1} b JOIN graphq g ON g.node = b.cand)
), s$i AS (
  SELECT c.q_id, c.cand,
    CAST(CAST(SUM(fq.e * fc.e) AS BIGINT) AS DOUBLE)
      / sqrt(CAST(nq.nn AS DOUBLE) * CAST(nc.nn AS DOUBLE)) AS cosine
  FROM c$i c
  JOIN flat fq ON fq.vec_id = c.q_id
  JOIN flat fc ON fc.vec_id = c.cand AND fc.i = fq.i
  JOIN norms nq ON nq.vec_id = c.q_id
  JOIN norms nc ON nc.vec_id = c.cand
  WHERE c.cand <> c.q_id
  GROUP BY c.q_id, c.cand, nq.nn, nc.nn
), b$i AS MATERIALIZED (
  SELECT q_id, cand, cosine FROM s$i
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand)
    <= $WalkBeam
)"""
    }.mkString(",\n")
    s"""WITH $quantCtes,
$lshCandCtes,
thr AS MATERIALIZED (
  SELECT a_id, b_id, cosine FROM scored_cand WHERE cosine >= ${D(MinCos)}
),
symg AS (
  SELECT a_id AS node, b_id AS nbr, cosine FROM thr
  UNION ALL SELECT b_id, a_id, cosine FROM thr
),
graphq AS MATERIALIZED (
  SELECT node, nbr FROM symg
  QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY cosine DESC, nbr)
    <= $GraphK
),
qs AS (
  SELECT vec_id AS q_id FROM q WHERE vec_id % $QueryStride = 0
),
entry AS (
  SELECT vec_id AS cand FROM q ORDER BY vec_id LIMIT $WalkEntries
),
b0 AS MATERIALIZED (SELECT q_id, cand FROM qs, entry),
$rounds,
exdots AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
    CAST(SUM(a.e * b.e) AS BIGINT) AS dot
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id <> b.vec_id
  WHERE a.vec_id % $QueryStride = 0
  GROUP BY 1, 2
),
exact AS (
  SELECT q_id, n_id AS exact_id,
    CAST(dot AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE))
      AS exact_cos
  FROM exdots JOIN norms na ON q_id = na.vec_id
  JOIN norms nb ON n_id = nb.vec_id
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY exact_cos DESC, n_id) = 1
),
found AS (
  SELECT q_id, cand AS found_id, cosine AS found_cos FROM b$WalkRounds
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, cand) = 1
)
SELECT f.q_id, f.found_id, f.found_cos, e.exact_id, e.exact_cos,
  CAST(CASE WHEN f.found_id = e.exact_id THEN 1 ELSE 0 END AS BIGINT) AS nn_hit
FROM found f JOIN exact e ON f.q_id = e.q_id
ORDER BY f.q_id"""
  }

  // --- Johnson–Lindenstrauss distortion readout ---------------------------
  /** Measured JL-lemma distortion of an Achlioptas ±1 sign projection
    * from 64 → 16 dims: for every pair among the first 50 vectors,
    * distortion = (‖P(x_a − x_b)‖²/16) / ‖x_a − x_b‖² — the quantity
    * the lemma bounds near 1, and the empirical check behind every
    * "project then bucket" ANN design in this engine. The projection
    * matrix is derived (md5 parity of "i:j"), the difference vectors
    * and their projections are EXACT quantized-integer sums (the
    * projection is linear, so projecting the difference avoids a
    * second pass), and the per-pair ratio is two float divisions; the
    * mean over the 1225 pairs is a 1e-9 fixed-point integer sum.
    */
  private def jlDistortion(s: SparkSession, dir: String): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val q = Tables(s, dir, "embeddings").where(col("vec_id") < 50)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val flat = q.select(col("vec_id"), posexplode(col("qv")).as(Seq("p", "e")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("i"), col("e"))
    val dx = flat.select(col("vec_id").as("ia"), col("i"), col("e").as("ea"))
      .join(flat.select(col("vec_id").as("ib"), col("i"), col("e").as("eb")),
        Seq("i"))
      .where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), col("i"), (col("ea") - col("eb")).as("dx"))
    val spark = s
    val proj = spark.range(1, 65).select(col("id").as("i"))
      .crossJoin(spark.range(1, 17).select(col("id").as("j")))
      .select(col("i"), col("j"),
        when(conv(substring(md5(concat(col("i").cast("string"), lit(":"),
          col("j").cast("string"))), 1, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("sgn"))
    val num = dx.join(broadcast(proj), "i")
      .groupBy(col("ia"), col("ib"), col("j"))
      .agg(sum(col("dx") * col("sgn")).as("y"))
      .groupBy(col("ia"), col("ib")).agg(sum(col("y") * col("y")).as("num"))
    val den = dx.groupBy(col("ia"), col("ib")).agg(sum(col("dx") * col("dx")).as("den"))
    val dist = num.join(den, Seq("ia", "ib")).where(col("den") > 0)
      .select((dd(col("num")) / lit(16L) / dd(col("den"))).as("dist"))
    dist.agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("dist") * lit(1000000000L))).as("sfix"),
        min(col("dist")).as("min_distortion"),
        max(col("dist")).as("max_distortion"))
      .select(col("n_pairs"),
        (dd(col("sfix")) / lit(1000000000L) / dd(col("n_pairs")))
          .as("mean_distortion"),
        col("min_distortion"), col("max_distortion"))
  }

  private val jlDistortionOracle = s"""WITH q AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)
      * ${Similarity.Scale} + ${D("0.5")}) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 50
), flat AS (
  SELECT vec_id, unnest(qv) AS e, unnest(generate_series(1, len(qv))) AS i FROM q
), dx AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.i, a.e - b.e AS dx
  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
), proj AS (
  SELECT i, j, CASE WHEN (strpos('0123456789abcdef',
      substring(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) - 1)
      % 2 = 0 THEN 1 ELSE -1 END AS sgn
  FROM (SELECT UNNEST(range(1, 65)) AS i), (SELECT UNNEST(range(1, 17)) AS j)
), y AS (
  SELECT dx.ia, dx.ib, p.j, CAST(SUM(dx.dx * p.sgn) AS BIGINT) AS y
  FROM dx JOIN proj p ON dx.i = p.i
  GROUP BY 1, 2, 3
), num AS (
  SELECT ia, ib, CAST(SUM(y * y) AS BIGINT) AS num FROM y GROUP BY 1, 2
), den AS (
  SELECT ia, ib, CAST(SUM(dx * dx) AS BIGINT) AS den FROM dx GROUP BY 1, 2
), dist AS (
  SELECT CAST(num AS DOUBLE) / 16 / CAST(den AS DOUBLE) AS dist
  FROM num JOIN den USING (ia, ib) WHERE den > 0
)
SELECT COUNT(*) AS n_pairs,
  CAST(SUM(CAST(FLOOR(dist * 1000000000) AS BIGINT)) AS DOUBLE)
    / 1000000000 / CAST(COUNT(*) AS DOUBLE) AS mean_distortion,
  MIN(dist) AS min_distortion, MAX(dist) AS max_distortion
FROM dist"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("s_jl_distortion", jlDistortion, Some(jlDistortionOracle)),
    QueryDef("s_graph_ann", graphAnn, Some(graphAnnOracle)),
    QueryDef("s_mutual_knn", mutualKnn, Some(mutualKnnOracle)),
    QueryDef("s_mmr_rerank", mmrRerank, Some(mmrRerankOracle)),
    QueryDef("s_cosine_topk", topk, Some(topkOracle)),
    QueryDef("s_range_search", rangeSearch, Some(rangeSearchOracle)),
    QueryDef("s_range_search_lsh", rangeSearchLsh, Some(rangeSearchLshOracle)),
    QueryDef("s_centroid_drift", centroidDrift, Some(centroidDriftOracle)),
    QueryDef("s_hard_negatives", hardNegatives, Some(hardNegativesOracle)),
    QueryDef("s_matryoshka_recall", matryoshkaRecall, Some(matryoshkaOracle)),
    QueryDef("s_semdedup", semdedup, Some(semdedupOracle)),
    QueryDef("s_ivf_inertia", ivfInertia, Some(ivfInertiaOracle)),
    QueryDef("s_ann_lsh", lsh, Some(lshOracle)),
    QueryDef("s_dbscan", dbscan, Some(dbscanOracle)),
    QueryDef("s_lsh_recall", lshRecall, Some(lshRecallOracle)),
    QueryDef("s_ivf_topk", ivf, Some(ivfOracle)),
    QueryDef("s_ivf_recall_curve", ivfRecallCurve, Some(ivfRecallCurveOracle)),
    QueryDef("s_pq_topk", pq, Some(pqOracle)),
    QueryDef("s_ivfpq_topk", ivfpq, Some(ivfpqOracle)),
    QueryDef("s_label_centroids", labelCentroids, Some(labelCentroidsOracle)),
    QueryDef("s_silhouette", silhouette, Some(silhouetteOracle)),
    QueryDef("s_lsh_buckets", buckets, Some(bucketsOracle)),
    QueryDef("s_bm25_topk", bm25, Some(bm25Oracle)),
    QueryDef("s_phrase_search", phraseSearch, Some(phraseSearchOracle)),
    QueryDef("s_rrf_fusion", rrfFusion, Some(rrfOracle)),
    QueryDef("d_embedding_dedup", embDedup, Some(embDedupOracle)))
}
