package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Graphs, Joins, Similarity, TextDedup}
import graft.queries.GraphQueries

/** Volume-axis stress bench (VERDICT-r5 #2): measures the SCALE-PATH
  * operators against their quadratic baselines on synthetic corpora at
  * 5-40× the sf0.1 volumes, so the repo's 100×-scale claims are
  * curves, not prose. [[SkewBench]] covers the skew axis (one hot
  * key); this covers growth:
  *
  *   - `ppjoin` (prefix-filtered exact set-similarity join) and
  *     `minhash_lsh` (banded MinHash candidates) vs
  *     `jaccard_allpairs` (full co-shingle join): all-pairs cost is
  *     Σ_shingle df², and every df grows ∝ corpus — dominated by the
  *     HOT head of the shingle distribution. The prefix filter joins
  *     only each doc's RAREST shingles (never the head); MinHash
  *     banding's bucket count tracks real dup structure. Both curves
  *     should flatten while all-pairs quadruples per doubling.
  *   - `lsh_pairs` (banded hyperplane-LSH candidates) vs
  *     `ann_brute_pairs` (exact all-pairs cosine): quadratic baseline
  *     quadruples per corpus doubling, buckets don't. The brute
  *     variant is capped (`SPARK_GRAFT_SCALE_BRUTE_CAP`, default
  *     45k vectors) — beyond it the point is already made.
  *   - `asof_plain` vs `asof_chunked` on UNIFORM keys: both must stay
  *     ~linear in event volume, chunking's replication overhead
  *     bounded (the chunked form exists for skew, measured in
  *     SkewBench — here it must not cost at scale when keys are fine).
  *
  * Generator realism rules (learned from a first, misleading run —
  * kept here so nobody regresses them):
  *
  *   1. Shingle draws carry a HOT HEAD (4% of draws over 2k shingles,
  *      a Zipf-head proxy) atop a 500k-entry cold tail. A uniform-df
  *      generator is the prefix filter's WORST case (all shingles
  *      equally rare → the prefix is an arbitrary 20% sample and the
  *      filter pays its constant factors for nothing) and is also
  *      unreal: n-gram frequencies are Zipfian, and it is exactly the
  *      head that makes all-pairs explode (df² on stopword-like
  *      shingles) while rarest-first prefixes never touch it.
  *   2. Embedding near-dup structure is planted with cluster COUNT
  *      ∝ n (n/20 centers of ~20 members, 5% noise), never a fixed
  *      center count: with k fixed, same-cluster pairs — the true
  *      output — grow ∝ n²/k, so EVERY correct algorithm measures
  *      quadratic and the curve says nothing about the index.
  *   3. Hyperplane-LSH band width must scale with log₂(n): 4-bit
  *      bands give 16 buckets TOTAL per band, so bucket occupancy is
  *      ∝ n and the in-bucket join is quadratic for any data. 16-bit
  *      bands (64 planes, 4 bands) keep cold-bucket occupancy O(1)
  *      up to ~10⁶ vectors; beyond that, widen rows-per-band — the
  *      production sizing rule for [[Similarity.lshCandidates]].
  *
  * All inputs derive from xxhash64(id) — deterministic, no rand() —
  * and are materialized to parquet first so every variant reads the
  * identical bytes. Results → BASELINE.md "scale curves" table.
  * Volumes are multiples of sf0.1 (5k documents / 2k vectors / 100k
  * events) via `SPARK_GRAFT_SCALE_MULTS` (default "5,10,20,40").
  */
object ScaleBench {
  private val Vocab = 500000L   // cold-tail vocabulary → df grows with N
  private val HotVocab = 2000L  // Zipf-head proxy: 4% of draws land here
  private val Dim = 64
  private val NPlanes = 64
  private val Bands = 4
  private val RowsPerBand = 16
  private val MinCos = 0.7
  private val DayMs = 24L * 3600 * 1000
  private val SpanMs = 30 * DayMs

  private def drive(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Synthetic shingle table: ~30-70 shingles/doc; 4% of draws come
    * from the 2k-entry hot head (df grows ~125× faster than the cold
    * tail's), the rest uniform over the 500k cold vocabulary; every
    * doc with id ≡ 1 (mod 10) is an exact twin of id−1 (planted dups
    * so all three join variants emit real pairs).
    */
  private def genShingles(spark: SparkSession, nDocs: Long, path: String): Unit = {
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 1, col("id") - 1)
          .otherwise(col("id")).as("base"))
      .withColumn("n", (pmod(xxhash64(col("base"), lit(1)), lit(41)) + 30))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n") - 1)).as("k"), col("base"))
      .select(col("doc_id"),
        when(pmod(xxhash64(col("base"), col("k"), lit(3)), lit(25)) === 0,
          concat(lit("h"),
            pmod(xxhash64(col("base"), col("k"), lit(5)), lit(HotVocab))))
          .otherwise(concat(lit("s"),
            pmod(xxhash64(col("base"), col("k"), lit(7)), lit(Vocab))))
          .as("shingle"))
      .distinct()
      .write.mode("overwrite").parquet(path)
  }

  /** Synthetic embeddings: n/20 cluster centers (+5% per-vector
    * noise) so the planted near-pair output grows ∝ n, never n².
    */
  private def genEmbeddings(spark: SparkSession, nVec: Long, path: String): Unit = {
    def u(h: Column, span: Int): Column = // hash → [-1, 1] at 1e-3 grid
      (pmod(h, lit(2L * span + 1)) - span).cast("double") / span
    spark.range(nVec)
      .withColumn("c", pmod(xxhash64(col("id"), lit(1)), lit(math.max(nVec / 20, 1))))
      .select(col("id"),
        transform(sequence(lit(0), lit(Dim - 1)), d =>
          (u(xxhash64(col("c"), d, lit(5)), 1000) +
            u(xxhash64(col("id"), d, lit(6)), 1000) * 0.05).cast("float"))
          .as("vec"))
      .write.mode("overwrite").parquet(path)
  }

  private def genEvents(spark: SparkSession, n: Long, path: String): Unit = {
    spark.range(n).select(
        pmod(xxhash64(col("id"), lit(10)), lit(n / 100 + 1)).as("user_id"),
        pmod(xxhash64(col("id"), lit(12)), lit(SpanMs)).as("t"),
        col("id").as("event_id"))
      .write.mode("overwrite").parquet(s"$path/events")
    spark.range(n / 20).select(
        pmod(xxhash64(col("id"), lit(20)), lit(n / 100 + 1)).as("user_id"),
        pmod(xxhash64(col("id"), lit(22)), lit(SpanMs)).as("qt"),
        pmod(xxhash64(col("id"), lit(23)), lit(10000)).as("quote"))
      .groupBy("user_id", "qt").agg(max("quote").as("quote"))
      .write.mode("overwrite").parquet(s"$path/quotes")
  }

  /** Mirror of GraphQueries.ktruss's delta peel (3 rounds, k=4,
    * broadcast gated at 2M dropped rows): round 1's support comes from
    * the full once-enumerated triangle table; later rounds subtract
    * only dropped-edge triangles. The curve's claim: per-round cost
    * tracks the CHANGE, so wall time grows ~linearly in edges.
    */
  private def ktrussPeel(pairs: DataFrame): DataFrame = {
    // the query's OWN loop (r8-advice: no re-implementation drift) —
    // triangleTriples enumeration + the shared delta peel
    val rows = graft.operators.Graphs
      .trussPeelStats(graft.operators.Graphs.triangleTriples(pairs), pairs,
        rounds = 3, k = 4, broadcastCap = 2000000L)
      .filter(_._1 >= 1L) // the curve's readout starts at round 1
    System.err.println(s"[scale-bench]   ktruss rounds (round, edges, tri): " +
      rows.map { case (r, ne, nt) => s"$r:($ne,$nt)" }.mkString(" "))
    val spark = pairs.sparkSession
    import spark.implicits._
    rows.toDF("round", "n_edges", "n_tri_alive")
  }

  /** Mirror of GraphQueries.minLabelCc (the g_robustness labeling):
    * 4 synchronous min-label rounds, one join+agg each, self-loops
    * appended once. Claim: ~linear in edges per round.
    */
  private def minLabel4(pairs: DataFrame): DataFrame = {
    // the query's OWN loop (r8-advice: no re-implementation drift)
    val lab = Graphs.components(
      pairs.select(col("a").as("a_id"), col("b").as("b_id")), 4)
    lab.groupBy(col("comp")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("giant"))
  }

  /** Exact all-pairs cosine — the quadratic baseline LSH replaces. */
  private def brutePairs(emb: DataFrame): DataFrame = {
    val sig = emb.select(col("id"), Similarity.quantize(col("vec")).as("qv"))
      .withColumn("nn", Similarity.normSqQ(col("qv")))
    sig.select(col("id").as("a_id"), col("qv").as("a_qv"), col("nn").as("a_nn"))
      .crossJoin(sig.select(col("id").as("b_id"), col("qv").as("b_qv"),
        col("nn").as("b_nn")))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        Similarity.cosineQ(Similarity.dotQ(col("a_qv"), col("b_qv")),
          col("a_nn"), col("b_nn")).as("cosine"))
      .where(col("cosine") >= MinCos)
  }

  def main(args: Array[String]): Unit = {
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "5,10,20,40")
      .split(",").map(_.trim.toInt).toSeq
    val bruteCap = sys.env.getOrElse("SPARK_GRAFT_SCALE_BRUTE_CAP", "45000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt
    val spark = Session("graft-scale-bench")
    val planes = Similarity.planes(NPlanes, Dim)
    val tmp = graft.util.Scratch.dir("graft_scale")

    // SPARK_GRAFT_SCALE_ONLY=prefix1,prefix2 — measure only matching
    // variant families (dev loop / incremental curve additions without
    // re-paying the whole matrix)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(variant: String): Boolean =
      only.forall(_.exists(variant.startsWith))

    val curves = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Long, Double]]
    def record(variant: String, size: Long, mk: () => DataFrame): Unit = {
      if (!want(variant)) return
      drive(mk()) // warm-up (JIT + codegen cache)
      val med = median((1 to reps).map { _ =>
        val t0 = System.nanoTime()
        drive(mk())
        (System.nanoTime() - t0) / 1e9
      })
      System.err.println(f"[scale-bench] $variant%-18s n=$size%9d $med%8.2f s")
      curves.getOrElseUpdate(variant,
        scala.collection.mutable.LinkedHashMap.empty) += size -> med
    }

    for (m <- mults) {
      val nDocs = 5000L * m
      val nVec = 2000L * m
      val nEv = 100000L * m
      if (want("jaccard") || want("ppjoin") || want("minhash"))
        genShingles(spark, nDocs, s"$tmp/sh_$m")
      if (want("lsh_pairs") || want("ann_brute"))
        genEmbeddings(spark, nVec, s"$tmp/emb_$m")
      if (want("asof")) genEvents(spark, nEv, s"$tmp/ev_$m")
      def sh = spark.read.parquet(s"$tmp/sh_$m")
      def emb = spark.read.parquet(s"$tmp/emb_$m")
      def events = spark.read.parquet(s"$tmp/ev_$m/events")
      def quotes = spark.read.parquet(s"$tmp/ev_$m/quotes")

      record("jaccard_allpairs", nDocs, () => TextDedup.jaccardPairs(sh, 0.8))
      record("ppjoin", nDocs, () => TextDedup.ppjoinPairs(sh, 4, 5))
      // probabilistic twin: 16-hash signatures, 4 bands × 4 rows —
      // candidate discovery only (the production d_minhash_lsh shape);
      // bucket keys are md5 strings, so bucket count tracks dup
      // structure, not a fixed key space
      record("minhash_lsh", nDocs, () =>
        TextDedup.lshCandidates(TextDedup.minHashSignatures(sh, 16), 4, 4))
      record("lsh_pairs", nVec, () =>
        Similarity.lshCandidates(emb, planes, Bands, RowsPerBand, MinCos))
      if (nVec <= bruteCap)
        record("ann_brute_pairs", nVec, () => brutePairs(emb))
      else System.err.println(
        s"[scale-bench] ann_brute_pairs SKIPPED at n=$nVec (cap $bruteCap)")
      record("asof_plain", nEv, () =>
        Joins.asofJoin(events, "t", quotes, "qt", Seq("user_id")))
      record("asof_chunked", nEv, () =>
        Joins.asofJoin(events, "t", quotes, "qt", Seq("user_id"),
          chunkSpan = Some(DayMs)))

      // connected components (large-star/small-star): the claim is
      // O(log n) rounds ⇒ near-linear wall time vs edges. Hard input:
      // 1000-node chains (diameter stress — min-label propagation
      // would need ~1000 rounds here) + a random-pair Erdős–Rényi-ish
      // layer hashed over n/2 nodes for merge stress.
      val nCcEdges = 50000L * m
      if (want("cc_stars")) {
      val chain = spark.range(nCcEdges / 2)
        .select((col("id") + when(pmod(col("id"), lit(1000)) === 999, 1)
          .otherwise(0)).as("a_id"), // every 1000th link self-loops → dropped
          (col("id") + 1).as("b_id"))
      val rand = spark.range(nCcEdges / 2).select(
        pmod(xxhash64(col("id"), lit(31)), lit(nCcEdges / 4)).as("a_id"),
        pmod(xxhash64(col("id"), lit(32)), lit(nCcEdges / 4)).as("b_id"))
      chain.unionByName(rand).write.mode("overwrite").parquet(s"$tmp/cc_$m")
      val ccEdges = spark.read.parquet(s"$tmp/cc_$m")
      record("cc_stars", nCcEdges, () => Graphs.starComponents(ccEdges))
      }

      // streaming stateful throughput: drain a synthetic event replay
      // through two state shapes — flatMapGroupsWithState
      // sessionization (state ∝ active keys) and transformWithState
      // bounded top-k (state = k pairs per key). The claim: wall time
      // grows ∝ events, state never does. Timestamps spread over 30
      // days so sessions keep closing; 10-file replay ⇒ multi-batch
      // state carry-over is actually exercised.
      val evDir = s"$tmp/sev_$m"
      if (want("stream") || want("running")) spark.range(nEv).select(
          col("id").as("event_id"),
          timestamp_millis(lit(1704067200000L) +
            pmod(xxhash64(col("id"), lit(41)), lit(SpanMs))).as("ts"),
          pmod(xxhash64(col("id"), lit(42)), lit(nEv / 100 + 1)).as("user_id"),
          when(pmod(xxhash64(col("id"), lit(43)), lit(4)) === 0, "purchase")
            .otherwise("click").as("event_type"),
          (pmod(xxhash64(col("id"), lit(44)), lit(10000)).cast("double") / 100)
            .as("value"))
        .repartition(10).write.mode("overwrite").parquet(evDir)
      def drainStream(name: String,
          mode: org.apache.spark.sql.streaming.OutputMode,
          mk: DataFrame => DataFrame): Unit =
        record(name, nEv, () =>
          graft.streaming.EventStreams.withRocksDbState(spark) {
            graft.streaming.EventStreams.runToMemory(spark,
              mk(graft.streaming.EventStreams.eventsStream(spark, evDir)),
              s"scale_$name", mode)
          })
      drainStream("stream_sessionize",
        org.apache.spark.sql.streaming.OutputMode.Update(), { ev =>
          import spark.implicits._
          graft.streaming.EventStreams.sessionize(
            ev.select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"))
              .as[graft.streaming.EventStreams.Event]).toDF()
        })
      drainStream("stream_topk",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        ev => graft.streaming.EventStreams.streamingTopK(ev, 5))

      // content-defined chunking (AE): the claim is wall time ∝ total
      // characters — the extremum rule is a bounded (doc, pos) window,
      // never a per-doc sequential carry, so doubling the corpus must
      // ~double the time. ~280-char synthetic docs from hashed tokens.
      val nCdcDocs = 5000L * m
      if (want("cdc_chunks")) {
        spark.range(nCdcDocs).select(col("id").as("doc_id"),
            expr("concat_ws(' ', transform(sequence(1, 40), " +
              "i -> substring(md5(concat(CAST(id AS STRING), '-', " +
              "CAST(i AS STRING))), 1, 6)))").as("text"))
          .write.mode("overwrite").parquet(s"$tmp/cdc_$m")
        val cdcDocs = spark.read.parquet(s"$tmp/cdc_$m")
        record("cdc_chunks", nCdcDocs, () =>
          TextDedup.aeChunks(cdcDocs)
            .groupBy().agg(count(lit(1)), countDistinct(col("h"))))
      }

      // item-item CF wedge (round-7 g_cf_cosine): cost is Σ_order k²
      // with basket size k bounded at 4-8, so the curve must stay
      // ~linear in ORDERS — catalog growth (50k·m items, with a
      // 200-item Zipf-head so hot items exist) must never bend it into
      // an items×items join. Seeds broadcast; degree joins are AQE's
      // call (the graded-query shape exactly).
      val nOrders = 20000L * m
      if (want("cf_cosine")) {
        spark.range(nOrders).select(col("id").as("ok"),
            explode(sequence(lit(1),
              (pmod(xxhash64(col("id")), lit(5)) + 4).cast("int"))).as("slot"))
          .select(col("ok"),
            when(pmod(xxhash64(col("ok"), col("slot"), lit(51)), lit(25)) === 0,
              pmod(xxhash64(col("ok"), col("slot"), lit(52)), lit(200)))
              .otherwise(pmod(xxhash64(col("ok"), col("slot"), lit(53)),
                lit(50000L * m)) + 200).as("pk"))
          .distinct()
          .write.mode("overwrite").parquet(s"$tmp/cf_$m")
        val baskets = spark.read.parquet(s"$tmp/cf_$m")
        record("cf_cosine", nOrders, () => GraphQueries.cfCosineTop(baskets))
      }

      // k-truss delta peel + fixed-round min-label CC (the g_ktruss /
      // g_robustness shapes, r7-verdict #4) over basket-derived
      // co-order pairs: bounded basket size 4-8 guarantees triangles;
      // a 1% 200-item hot head keeps a realistic Zipf-ish df skew
      // without letting hot-hot wedges go quadratic.
      if (want("ktruss_peel") || want("minlabel4_cc")) {
        val nOrd = 20000L * m
        spark.range(nOrd).select(col("id").as("ok"),
            explode(sequence(lit(1),
              (pmod(xxhash64(col("id"), lit(71)), lit(5)) + 4).cast("int")))
              .as("slot"))
          .select(col("ok"),
            when(pmod(xxhash64(col("ok"), col("slot"), lit(72)), lit(100)) === 0,
              pmod(xxhash64(col("ok"), col("slot"), lit(73)), lit(200)))
              .otherwise(pmod(xxhash64(col("ok"), col("slot"), lit(74)),
                lit(50000L * m)) + 200).as("pk"))
          .distinct()
          .write.mode("overwrite").parquet(s"$tmp/ktb_$m")
        val baskets = spark.read.parquet(s"$tmp/ktb_$m")
        // basket-derived pairs all sit in triangles (support >= 2), so a
        // 10% sparse random layer over a DISJOINT id space is appended —
        // those edges close almost no triangles and get PEELED in round
        // 1, so the delta-subtraction path actually engages
        val noise = spark.range(nOrd / 2).select(
          (pmod(xxhash64(col("id"), lit(75)), lit(nOrd)) + 1000000000L).as("a"),
          (pmod(xxhash64(col("id"), lit(76)), lit(nOrd)) + 1000000000L).as("b"))
          .where(col("a") < col("b"))
        baskets.select(col("ok"), col("pk").as("a"))
          .join(baskets.select(col("ok"), col("pk").as("b")), "ok")
          .where(col("a") < col("b")).select("a", "b")
          .unionByName(noise)
          .distinct()
          .write.mode("overwrite").parquet(s"$tmp/ktp_$m")
        val ktPairs = spark.read.parquet(s"$tmp/ktp_$m")
        val nEdges = ktPairs.count()
        record("ktruss_peel", nEdges, () => ktrussPeel(ktPairs))
        record("minlabel4_cc", nEdges, () => minLabel4(ktPairs))
      }

      // Katz walk-count levels (round-7 g_katz): each level is ONE
      // join + aggregate of the symmetric edge list against the
      // previous level's node table, so 3 levels must grow ~linearly
      // in edges. Same chain+random hard input as cc_stars.
      val nKatzEdges = 50000L * m
      if (want("katz_levels")) {
        spark.range(nKatzEdges).select(
            pmod(xxhash64(col("id"), lit(61)), lit(nKatzEdges / 4)).as("a"),
            pmod(xxhash64(col("id"), lit(62)), lit(nKatzEdges / 4)).as("b"))
          .where(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .distinct()
          .write.mode("overwrite").parquet(s"$tmp/katz_$m")
        val kp = spark.read.parquet(s"$tmp/katz_$m")
        record("katz_levels", nKatzEdges, () => GraphQueries.katzTop(kp))
      }

      // running sums over FEW keys (2 arms): the global-window
      // formulation puts ALL rows into 2 window partitions — wall time
      // is bound by the slowest single task however many cores exist —
      // while Ids.prefixSum range-partitions the same total order
      // across the session's shuffle partitions (the q_sprt /
      // m_shard_manifest design).
      // The claim this curve pins: window time grows ∝ n with a
      // 1-task constant, prefix-sum stays ∝ n/cores.
      // lazy: evDir only exists when the stream/running generators ran
      // (a filtered SPARK_GRAFT_SCALE_ONLY run would otherwise crash on
      // the eager schema read)
      lazy val sev = spark.read.parquet(evDir)
      record("running_window2k", nEv, () => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("user_id"), lit(2)))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Long.MinValue, 0)
        sev.withColumn("cum",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w))
      })
      record("running_prefixsum", nEv, () => {
        val e = sev.select(pmod(col("user_id"), lit(2)).as("arm"),
          col("ts"), col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
        graft.operators.Ids.prefixSum(
          e, Seq(col("ts"), col("event_id")), "cum", Some("x"), Seq("arm"))
      })
    }

    val qs = curves.map { case (v, pts) =>
      s""""$v":{${pts.map { case (n, t) => s""""$n":$t""" }.mkString(",")}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_curves","mults":[${mults.mkString(",")}],"curves":$qs,"reps":$reps}""")
  }
}
