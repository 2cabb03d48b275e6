package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** KLL mergeable quantile sketch: weight conservation, rank-error
  * bounds under arbitrary merge shapes, wire round-trip, and the
  * DataFrame aggregate path (day partials → merged rollup).
  */
class KllSketchSpec extends SparkSpec {
  import spark.implicits._

  private val K = 200

  private def sketchOf(xs: Seq[Double], k: Int = K): KllSketch.Buf = {
    val b = new KllSketch.Buf(k)
    xs.foreach(b.insert)
    b
  }

  /** Exact rank band: est's true rank interval must contain q·n ± eps·n. */
  private def rankOk(xs: Seq[Double], est: Double, q: Double, eps: Double): Boolean = {
    val n = xs.size.toDouble
    val nLt = xs.count(_ < est)
    val nLe = xs.count(_ <= est)
    (nLt + 1) <= (q + eps) * n && nLe >= (q - eps) * n
  }

  test("weight is conserved exactly through inserts, compaction, merge") {
    val rng = new scala.util.Random(42)
    val xs = Seq.fill(20000)(rng.nextDouble() * 1000)
    val whole = sketchOf(xs)
    assert(whole.n == 20000L)
    // total weight across levels == n (compaction conserves 2^l · count)
    val w = whole.levels.indices.map(l => whole.levels(l).size.toLong << l).sum
    assert(w == 20000L, s"weight $w != n")
    // arbitrary 7-way split, pairwise-merged
    val parts = xs.grouped(3137).map(g => sketchOf(g)).toSeq
    val merged = parts.reduce { (a, b) => a.merge(b); a }
    assert(merged.n == 20000L)
    val wm = merged.levels.indices.map(l => merged.levels(l).size.toLong << l).sum
    assert(wm == 20000L)
  }

  test("quantiles within rank-error bound, single-shot and merged") {
    val rng = new scala.util.Random(7)
    // mixed distribution: uniform + a heavy point mass (tie stress)
    val xs = Seq.fill(30000)(rng.nextDouble() * 100) ++ Seq.fill(5000)(42.0)
    val eps = 0.02
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      assert(rankOk(xs, sketchOf(xs).quantile(q), q, eps), s"single-shot q=$q")
    }
    // merge associativity CONTRACT: deterministic-parity merging is not
    // bitwise order-independent, but the rank bound must hold for every
    // merge shape — that is the property the graded rollup relies on
    val gs = xs.grouped(4999).map(g => sketchOf(g)).toSeq
    val leftFold = gs.reduceLeft { (a, b) => a.merge(b); a }
    val pairTree = gs.grouped(2).map { p =>
      if (p.size == 2) { p(0).merge(p(1)); p(0) } else p(0)
    }.reduce { (a, b) => a.merge(b); a }
    for (q <- Seq(0.1, 0.5, 0.9); sk <- Seq(leftFold, pairTree)) {
      assert(rankOk(xs, sk.quantile(q), q, eps), s"merged q=$q")
    }
  }

  test("serialize/deserialize round-trips the full state") {
    val rng = new scala.util.Random(3)
    val b = sketchOf(Seq.fill(5000)(rng.nextDouble()))
    val b2 = KllSketch.deserialize(b.serialize())
    assert(b2.n == b.n && b2.k == b.k)
    assert(b2.levels.map(_.toList) == b.levels.map(_.toList))
    assert(b2.flips.toList == b.flips.toList)
    assert(b2.quantile(0.5) == b.quantile(0.5))
  }

  test("DataFrame path: day partials merge to the same rank band as one pass") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 20000).map { i =>
      (i % 13, rng.nextDouble() * 500) // 13 "days"
    }
    val df = rows.toDF("d", "v")
    val xs = rows.map(_._2)
    // one-pass sketch over everything
    val one = df.agg(KllSketch.kllAgg(col("v"), K).as("sk"))
      .select(KllSketch.kllQuantile(col("sk"), 0.5).as("est"))
      .head().getDouble(0)
    assert(rankOk(xs, one, 0.5, 0.02), "one-pass")
    // day partials re-aggregated through kllMerge
    val rolled = df.groupBy(col("d"))
      .agg(KllSketch.kllAgg(col("v"), K).as("sk"))
      .agg(KllSketch.kllMerge(col("sk")).as("sk"))
      .select(KllSketch.kllQuantile(col("sk"), 0.5).as("est"),
        KllSketch.kllQuantile(col("sk"), 0.9).as("est9"))
      .head()
    assert(rankOk(xs, rolled.getDouble(0), 0.5, 0.02), "rolled median")
    assert(rankOk(xs, rolled.getDouble(1), 0.9, 0.02), "rolled p90")
    // the sketch aggregate must partially aggregate map-side
    val plan = df.groupBy(col("d"))
      .agg(KllSketch.kllAgg(col("v"), K).as("sk"))
      .queryExecution.sparkPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
    assert(plan.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "map-side partial KLL aggregate missing")
  }

  test("multi-p readout == per-p quantile, bit-identical, any qs order") {
    val rng = new scala.util.Random(17)
    val b = sketchOf(Seq.fill(30000)(rng.nextGaussian() * 100))
    val ps = Seq(0.99, 0.25, 0.5, 0.9, 0.01) // deliberately unsorted
    val multi = b.quantiles(ps)
    ps.zipWithIndex.foreach { case (p, i) =>
      assert(multi(i) == b.quantile(p), s"p=$p: ${multi(i)} != ${b.quantile(p)}")
    }
    // empty sketch → NaNs; the Column form returns null for it
    assert(sketchOf(Seq.empty).quantiles(Seq(0.5)).forall(_.isNaN))
  }

  test("SQL front door: graft_kll_agg/merge/quantile(s) via FunctionRegistry") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 20000).map(i => (i % 13, rng.nextDouble() * 500))
    rows.toDF("d", "v").createOrReplaceTempView("kll_sql_probe")
    val xs = rows.map(_._2)
    val r = spark.sql(s"""
      WITH daily AS (
        SELECT d, graft_kll_agg(v, $K) AS sk FROM kll_sql_probe GROUP BY d
      ), merged AS (
        SELECT graft_kll_merge(sk) AS sk FROM daily
      )
      SELECT graft_kll_quantile(sk, 0.5) AS med,
             graft_kll_quantiles(sk, array(0.25D, 0.5D, 0.9D)) AS ladder
      FROM merged""").head()
    val med = r.getDouble(0)
    val ladder = r.getSeq[Double](1)
    assert(rankOk(xs, med, 0.5, 0.02), "sql median")
    assert(ladder(1) == med, "ladder p50 must equal the scalar readout")
    assert(rankOk(xs, ladder(0), 0.25, 0.02), "sql p25")
    assert(rankOk(xs, ladder(2), 0.9, 0.02), "sql p90")
  }
}
