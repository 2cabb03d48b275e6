package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables
import graft.util.Scratch

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the plain join result on skewed data") {
    // heavy skew: 90% of left rows share one key
    val left = (1 to 2000)
      .map(i => (if (i % 10 == 0) i.toLong else 7L, s"row$i"))
      .toDF("k", "payload")
    val right = Seq((7L, "hot"), (20L, "cold"), (999L, "unused"))
      .toDF("k", "dim")
    val plain = left.join(right, Seq("k"))
      .select("k", "payload", "dim").as[(Long, String, String)]
      .collect().sorted.toSeq
    val salted = Joins.saltedJoin(left, right, "k", 8)
      .select("k", "payload", "dim").as[(Long, String, String)]
      .collect().sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("AQE skew-join splits the same hot-key join saltedJoin salts by hand") {
    // The escape-hatch matrix the engine documents: saltedJoin is the
    // STATIC fix (deterministic buckets× replication, works even when
    // stats lie or the parent needs the hash partitioning); AQE
    // skew-join is the RUNTIME fix (needs materialized shuffle stats,
    // splits only partitions that actually skewed, zero code change).
    // Same 90%-hot-key shape as the saltedJoin spec above, thresholds
    // scaled down to local data volumes.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val left = spark.range(0, 200000).select(
        when(pmod(col("id"), lit(10)) =!= 0, lit(7L))
          .otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 1000).select(
        col("id").as("k"), (col("id") * 3).as("w"))
      val agg = left.join(right, Seq("k")).groupBy().count()
      // collect agg ITSELF (.as[Long] would wrap a fresh, unexecuted
      // QueryExecution and the adaptive plan would never finalize)
      val n = agg.collect().head.getLong(0)
      assert(n == 180000 + 100) // 180k hot-key matches + 100 cold
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the hot partition's join as skew-split:\n$plan")
    }
  }

  test("range join via bucketing equals the naive non-equi join") {
    val pts = (1 to 500).map(i => (i.toLong, (i * 37 % 1000).toLong))
      .toDF("id", "v")
    // overlapping, irregular intervals incl. bucket-boundary cases
    val ivs = Seq((1L, 0L, 100L), (2L, 50L, 250L), (3L, 100L, 101L),
      (4L, 240L, 900L), (5L, 999L, 1000L), (6L, 1000L, 1100L))
      .toDF("iv_id", "lo", "hi")
    val naive = pts.crossJoin(ivs)
      .where(col("v") >= col("lo") && col("v") < col("hi"))
      .select("id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
    val bucketed = Joins.pointInRangeJoin(
      pts, col("v"), ivs, col("lo"), col("hi"), 64L)
      .select("id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
    assert(bucketed == naive && naive.nonEmpty)
    // each qualifying pair appears exactly once (no bucket-overlap dups)
    assert(bucketed.distinct == bucketed)
  }

  test("interval overlap join equals the naive non-equi join, no dup pairs") {
    // irregular intervals: nested, touching (no overlap under half-open),
    // spanning many buckets, zero-gap adjacency
    val as = Seq((1L, 0L, 10L), (2L, 5L, 200L), (3L, 64L, 65L),
      (4L, 120L, 128L), (5L, 300L, 301L)).toDF("a_id", "alo", "ahi")
    val bs = Seq((10L, 8L, 9L), (11L, 10L, 20L), (12L, 0L, 400L),
      (13L, 128L, 130L), (14L, 65L, 120L)).toDF("b_id", "blo", "bhi")
    val naive = as.crossJoin(bs)
      .where(col("alo") < col("bhi") && col("blo") < col("ahi"))
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    val bucketed = Joins.intervalOverlapJoin(
      as, col("alo"), col("ahi"), bs, col("blo"), col("bhi"), 64L)
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(bucketed == naive && naive.nonEmpty)
    assert(bucketed.distinct == bucketed,
      "each overlapping pair must be emitted exactly once")
    // touching intervals must NOT match: a1=[0,10) vs b11=[10,20)
    assert(!bucketed.contains((1L, 11L)))
  }

  test("asof join: latest at-or-before match, inclusive ties, left-outer nulls") {
    val trades = Seq((1L, 10L, "t1"), (1L, 5L, "t2"), (2L, 7L, "t3"), (3L, 1L, "t4"))
      .toDF("k", "trade_ms", "trade")
    val quotes = Seq((1L, 4L, 100.0), (1L, 10L, 200.0), (4L, 1L, 999.0))
      .toDF("k", "quote_ms", "px")
    val got = Joins.asofJoin(trades, "trade_ms", quotes, "quote_ms", Seq("k"))
      .select("k", "trade_ms", "trade", "quote_ms", "px")
      .as[(Long, Long, String, Option[Long], Option[Double])].collect().toSet
    assert(got == Set(
      (1L, 10L, "t1", Some(10L), Some(200.0)), // equal time matches (inclusive)
      (1L, 5L, "t2", Some(4L), Some(100.0)),   // strictly-before match
      (2L, 7L, "t3", None, None),              // key with no quotes → nulls
      (3L, 1L, "t4", None, None)))             // key only on the left
  }

  test("asof join: a match is atomic — nulls in right value columns never back-fill") {
    val trades = Seq((1L, 12L, "t1")).toDF("k", "trade_ms", "trade")
    // newer quote has px = null: the match must carry (10, null, 7)
    // as one unit, not mix px=100.0 from the older quote into it
    val quotes = Seq((1L, 4L, Some(100.0), 5L), (1L, 10L, None, 7L))
      .toDF("k", "quote_ms", "px", "sz")
    val got = Joins.asofJoin(trades, "trade_ms", quotes, "quote_ms", Seq("k"))
      .select("k", "trade_ms", "trade", "quote_ms", "px", "sz")
      .as[(Long, Long, String, Option[Long], Option[Double], Option[Long])]
      .collect().toSet
    assert(got == Set((1L, 12L, "t1", Some(10L), None, Some(7L))))
  }

  test("asof join chunked path equals the plain path on hot-key data") {
    // one key holds ~all rows; right rows are sparse so many chunks
    // carry across empty chunks (incl. a left row chunks before any
    // right row, and chunk-boundary time collisions)
    val trades = (0 until 2000)
      .map(i => (if (i % 100 == 0) 2L else 1L, (i * 13 % 3000).toLong, s"t$i"))
      .toDF("k", "trade_ms", "trade")
    val quotes = Seq((1L, 64L, 1.0), (1L, 128L, 2.0), (1L, 129L, 3.0),
      (1L, 1500L, 4.0), (2L, 700L, 9.0))
      .toDF("k", "quote_ms", "px")
    val plain = Joins.asofJoin(trades, "trade_ms", quotes, "quote_ms", Seq("k"))
      .select("k", "trade_ms", "trade", "quote_ms", "px")
      .as[(Long, Long, String, Option[Long], Option[Double])]
      .collect().sorted.toSeq
    val chunked = Joins.asofJoin(trades, "trade_ms", quotes, "quote_ms", Seq("k"),
        chunkSpan = Some(64L))
      .select("k", "trade_ms", "trade", "quote_ms", "px")
      .as[(Long, Long, String, Option[Long], Option[Double])]
      .collect().sorted.toSeq
    assert(chunked == plain && plain.size == 2000)
    // the event-scale window must partition by (key, chunk) — the plan
    // proof that a hot key no longer sorts in a single task
    val plan = Joins.asofJoin(trades, "trade_ms", quotes, "quote_ms", Seq("k"),
        chunkSpan = Some(64L)).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(k") && plan.contains("_chunk"),
      s"expected a (key, chunk) exchange in:\n${plan.take(3000)}")
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = Scratch.dir("graft_bucketed")
    val orders = Tables(spark, Sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables(spark, Sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    Joins.writeBucketed(orders, "b_orders", "o_orderkey", 8, s"$wh/o")
    Joins.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 8, s"$wh/l")
    // sf0.001 tables are broadcast-size; force the shuffle-join path the
    // bucketing exists to optimize
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
      // bucketed join side must not re-shuffle; only the groupBy may
      val plan = joined.queryExecution.executedPlan.toString
      val joinPart = plan.split("HashAggregate").last // below the agg
      assert(joinPart.contains("SortMergeJoin") || joinPart.contains("ShuffledHashJoin"))
      assert(!joinPart.contains("Exchange"),
        s"bucketed join must be shuffle-free:\n${plan.take(3000)}")
      // and it computes the right answer
      val viaBuckets = joined.as[(Long, Double)].collect().toMap
      val plain = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
        .as[(Long, Double)].collect().toMap
      assert(viaBuckets == plain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("broadcastIfSmall: hint applies only under the counted threshold") {
    // the g_ktruss delta-peel gate: a data-dependent dropped-edge set is
    // broadcast only below the row cap; above it the frame must return
    // UNHINTED so the planner (or AQE with its own size re-check) decides
    val big = spark.range(1000).select(col("id").as("k"), col("id").as("v"))
      .localCheckpoint(true)
    val small = spark.range(10).select(col("id").as("k"))
      .localCheckpoint(true)
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    val under = big.join(Joins.broadcastIfSmall(small, 100), Seq("k"), "left_anti")
    val over = big.join(Joins.broadcastIfSmall(small, 5), Seq("k"), "left_anti")
    assert(hinted(under), "under the threshold the broadcast hint must apply")
    assert(!hinted(over), "over the threshold the frame must return unhinted")
    assert(under.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // both shapes compute the identical anti-join
    assert(under.collect().map(_.getLong(0)).sorted
      .sameElements(over.collect().map(_.getLong(0)).sorted))
  }
}
