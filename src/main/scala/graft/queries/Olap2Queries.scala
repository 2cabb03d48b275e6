package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Transform
import graft.operators.Checkpoints
import Sql.D

/** Second OLAP wave: pivot, cube, exact interpolated quantiles. */
object Olap2Queries {

  /** money double (2 dp) → exact integer cents (same helper as the
    * sibling query modules). */
  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + 0.5).cast("long")

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per user-bucket event-type count matrix. Pivot values are
    * pinned (never inferred) — at scale an inferred pivot is an extra
    * distinct scan AND a nondeterministic column set.
    */
  private def pivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(pmod(col("user_id"), lit(10)).as("user_bucket"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy("user_bucket")

  private val pivotOracle: String = {
    val cases = EventTypes.map(t =>
      s"""CAST(COUNT(*) FILTER (event_type = '$t') AS BIGINT) AS "$t"""")
    s"""SELECT user_id % 10 AS user_bucket, ${cases.mkString(", ")}
FROM events GROUP BY 1 ORDER BY user_bucket"""
  }

  private def cube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val cubeOracle = """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  SUM(l_quantity) AS sum_qty,
  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  /** GROUPING SETS with an explicit (detail, subtotal, grand-total)
    * lattice — the cheap alternative to CUBE when only some rollup
    * levels are wanted (CUBE at 100 TB materializes 2^n grouping
    * combinations; sets materialize exactly the requested ones).
    */
  private def groupingSetsQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        (sum(cents(col("o_totalprice"))) / 100.0)
          .as("sum_price"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"),
        grouping(col("o_orderstatus")).cast("int").as("g_s"))
      .orderBy(col("g_p"), col("g_s"),
        col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  private val groupingSetsOracle = s"""SELECT o_orderpriority, o_orderstatus,
  COUNT(*) AS n, ${Sql.sumCents("o_totalprice")} AS sum_price,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_p,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_s
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
ORDER BY g_p, g_s, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST"""

  /** UNPIVOT (wide → long melt), the inverse of pivot: a 3-measure
    * per-flag aggregate melts into (flag, measure, value) rows. Spark's
    * `unpivot` expands rows AFTER the aggregate — at scale the melt is a
    * per-row projection (no shuffle, no measure-count blowup before the
    * agg). All measures are exact BIGINTs so the long format needs no
    * value-type union.
    */
  private def unpivotQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty_i"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty_i"), col("n_rows"), col("n_orders")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")

  private val unpivotOracle = """WITH a AS (
  SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty_i,
    COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'sum_qty_i' AS measure, sum_qty_i AS value FROM a
UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a
UNION ALL SELECT l_returnflag, 'n_orders', n_orders FROM a
ORDER BY l_returnflag, measure"""

  /** Month-over-month growth: the classic reporting shape — aggregate to
    * a monthly series (exact cents), then lag along it. The window is
    * GLOBAL but runs on the post-aggregate series (one row per month —
    * dozens of rows at any corpus size), which is the only place a
    * global window is acceptable; the fact-scale work is all in the
    * partial-combined groupBy.
    */
  private def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ym"))
    Tables(s, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .as("ym"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      .withColumn("prev_c", lag(col("rev_c"), 1).over(w))
      .select(col("ym"), (col("rev_c") / 100.0).as("revenue"),
        ((col("rev_c") - col("prev_c")).cast("double") / col("prev_c").cast("double"))
          .as("growth"))
      .orderBy("ym")
  }

  private val momGrowthOracle = s"""WITH m AS (
  SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
    CAST(SUM(CAST(FLOOR(o_totalprice * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
), l AS (
  SELECT ym, rev_c, LAG(rev_c) OVER (ORDER BY ym) AS prev_c FROM m
)
SELECT ym, CAST(rev_c AS BIGINT) / ${D("100")} AS revenue,
  CAST(rev_c - prev_c AS DOUBLE) / CAST(prev_c AS DOUBLE) AS growth
FROM l ORDER BY ym"""

  /** first_value / last_value / nth_value over an unbounded frame — the
    * remaining window-function family: per customer, first/last/second
    * order in date order, one output row per customer (rn = 1 filter on
    * the same window, so one sort serves all four functions).
    */
  private def windowFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir, "orders")
      .select(col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"),
        row_number().over(wRank).as("rn"))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("first_order"), col("last_order"),
        col("second_order"))
      .orderBy("o_custkey")
  }

  private val windowFirstLastOracle = """SELECT o_custkey,
  FIRST_VALUE(o_orderkey) OVER w AS first_order,
  LAST_VALUE(o_orderkey) OVER w AS last_order,
  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
ORDER BY o_custkey"""

  /** Gap-filled monthly series: a generated DATE SPINE (bounds derived
    * from the data, not hardcoded) left-joined to the monthly aggregate,
    * missing months reported as zero with a has_data flag — the
    * reporting-layer shape that makes "no rows" visible instead of
    * silently absent. The spine is rows-of-months (dozens), generated
    * from a 1-row bounds aggregate; only the monthly aggregate touches
    * fact-scale data.
    */
  private def dateSpine(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val bounds = o.agg(
      to_date(date_trunc("month", min(col("o_orderdate")))).as("mn"),
      to_date(date_trunc("month", max(col("o_orderdate")))).as("mx"))
    val spine = bounds
      .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 month")))
        .as("ms"))
      .select((year(col("ms")) * 100 + month(col("ms"))).as("ym"))
    val rev = o
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .as("ym"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
    spine.join(rev, Seq("ym"), "left")
      .select(col("ym"),
        (coalesce(col("rev_c"), lit(0L)) / 100.0).as("revenue"),
        col("rev_c").isNotNull.as("has_data"))
      .orderBy("ym")
  }

  private val dateSpineOracle = s"""WITH b AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS mn,
    CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mx
  FROM orders
), spine AS (
  SELECT CAST(YEAR(ms) * 100 + MONTH(ms) AS INT) AS ym
  FROM (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS ms FROM b)
), rev AS (
  SELECT CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
    CAST(SUM(CAST(FLOOR(o_totalprice * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS rev_c
  FROM orders GROUP BY 1
)
SELECT ym, CAST(COALESCE(rev_c, 0) AS BIGINT) / ${D("100")} AS revenue,
  (rev_c IS NOT NULL) AS has_data
FROM spine LEFT JOIN rev USING (ym)
ORDER BY ym"""

  /** Single-scan column profiler — the data-quality summary every lake
    * publishes per table (row count, per-column null/distinct counts,
    * min/max). ONE pass computes every statistic (the four
    * COUNT(DISTINCT)s share one expand+shuffle); the long-format output
    * melts that 1-row aggregate through a struct-array explode — single
    * scan BY CONSTRUCTION, not by hoping exchange reuse dedupes four
    * unioned copies of the aggregate subtree. Values are normalized to BIGINT
    * (quantities are integral, timestamps → epoch µs) so no
    * float/timestamp formatting can differ between engines; at corpus
    * scale the graded `q_approx_distinct` sketch replaces the exact
    * distincts with one non-expanding pass.
    */
  private def profileStats(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      countDistinct(col("l_orderkey")).as("nd_ok"),
      min(col("l_orderkey")).as("mn_ok"), max(col("l_orderkey")).as("mx_ok"),
      countDistinct(col("l_quantity")).as("nd_q"),
      min(col("l_quantity")).cast("long").as("mn_q"),
      max(col("l_quantity")).cast("long").as("mx_q"),
      countDistinct(col("l_shipdate")).as("nd_sd"),
      expr("unix_micros(cast(min(l_shipdate) as timestamp))").as("mn_sd"),
      expr("unix_micros(cast(max(l_shipdate) as timestamp))").as("mx_sd"),
      countDistinct(col("l_returnflag")).as("nd_rf"))
    def entry(name: String, nd: String,
        mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =
      struct(lit(name).as("column"), col("n"), col(nd).as("n_distinct"),
        mn.cast("long").as("min_v"), mx.cast("long").as("max_v"))
    a.select(explode(array(
        entry("l_orderkey", "nd_ok", col("mn_ok"), col("mx_ok")),
        entry("l_quantity", "nd_q", col("mn_q"), col("mx_q")),
        entry("l_returnflag", "nd_rf", lit(null), lit(null)),
        entry("l_shipdate", "nd_sd", col("mn_sd"), col("mx_sd")))).as("r"))
      .select(col("r.*"))
      .orderBy("column")
  }

  private val profileStatsOracle = """WITH a AS (
  SELECT COUNT(*) AS n,
    COUNT(DISTINCT l_orderkey) AS nd_ok,
    MIN(l_orderkey) AS mn_ok, MAX(l_orderkey) AS mx_ok,
    COUNT(DISTINCT l_quantity) AS nd_q,
    CAST(MIN(l_quantity) AS BIGINT) AS mn_q,
    CAST(MAX(l_quantity) AS BIGINT) AS mx_q,
    COUNT(DISTINCT l_shipdate) AS nd_sd,
    epoch_us(MIN(l_shipdate)) AS mn_sd, epoch_us(MAX(l_shipdate)) AS mx_sd,
    COUNT(DISTINCT l_returnflag) AS nd_rf
  FROM lineitem
)
SELECT 'l_orderkey' AS "column", n, nd_ok AS n_distinct,
  CAST(mn_ok AS BIGINT) AS min_v, CAST(mx_ok AS BIGINT) AS max_v FROM a
UNION ALL SELECT 'l_quantity', n, nd_q, mn_q, mx_q FROM a
UNION ALL SELECT 'l_returnflag', n, nd_rf, NULL, NULL FROM a
UNION ALL SELECT 'l_shipdate', n, nd_sd, mn_sd, mx_sd FROM a
ORDER BY "column""""

  /** Linear interpolation of gaps in an hourly per-key series — the
    * time-series sibling of [[dateSpine]]'s zero-fill (sensor/feature
    * pipelines interpolate; revenue reports zero-fill). Per key: hourly
    * exact-cent sums, an hour spine between that key's first and last
    * observed hours (so the endpoints are observed by construction),
    * then bracketing via IGNORE NULLS running last/first windows and
    * one fixed double-op interpolation sequence — identical expression
    * tree in the oracle, so the hash can't drift. The windows partition
    * by key (high cardinality at scale — no single-task funnel); the
    * spine explode is proportional to the key's own span.
    */
  private def interpolate(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(pmod(col("user_id"), lit(50)).cast("int").as("b"),
        expr("unix_micros(ts) div 3600000000").as("h"), col("value"))
      .groupBy(col("b"), col("h"))
      .agg(sum(cents(col("value"))).as("vc"))
    val spine = hourly.groupBy(col("b"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("b"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val wPrev = Window.partitionBy("b").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("b").orderBy("h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filledCents =
      when(col("vc").isNotNull, col("vc").cast("double"))
        .otherwise(col("pv").cast("double") +
          (col("nv") - col("pv")).cast("double") *
            ((col("h") - col("ph")).cast("double") /
              (col("nh") - col("ph")).cast("double")))
    spine.join(hourly, Seq("b", "h"), "left")
      .withColumn("pv", last(col("vc"), ignoreNulls = true).over(wPrev))
      .withColumn("ph",
        last(when(col("vc").isNotNull, col("h")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("vc"), ignoreNulls = true).over(wNext))
      .withColumn("nh",
        first(when(col("vc").isNotNull, col("h")), ignoreNulls = true).over(wNext))
      .select(col("b"), col("h"),
        (floor(filledCents + 0.5).cast("long") / 100.0).as("value"),
        col("vc").isNotNull.as("observed"))
      .orderBy("b", "h")
  }

  private val interpolateOracle = s"""WITH hourly AS (
  SELECT CAST(user_id % 50 AS INT) AS b, epoch_us(ts) // 3600000000 AS h,
    CAST(SUM(CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS vc
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT b, unnest(generate_series(h0, h1)) AS h
  FROM (SELECT b, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY b)
), w AS (
  SELECT s.b, s.h, hourly.vc,
    LAST_VALUE(vc IGNORE NULLS) OVER (PARTITION BY s.b ORDER BY s.h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN vc IS NOT NULL THEN s.h END IGNORE NULLS)
      OVER (PARTITION BY s.b ORDER BY s.h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
    FIRST_VALUE(vc IGNORE NULLS) OVER (PARTITION BY s.b ORDER BY s.h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN vc IS NOT NULL THEN s.h END IGNORE NULLS)
      OVER (PARTITION BY s.b ORDER BY s.h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
  FROM spine s LEFT JOIN hourly USING (b, h)
)
SELECT b, h,
  CAST(FLOOR((CASE WHEN vc IS NOT NULL THEN CAST(vc AS DOUBLE)
    ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
      (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)) END)
    + ${D("0.5")}) AS BIGINT) / ${D("100")} AS value,
  (vc IS NOT NULL) AS observed
FROM w ORDER BY b, h"""

  /** Exact interpolated quantiles ((n−1)·p definition in both engines),
    * rounded to 2 dp to absorb any last-ulp interpolation difference.
    */
  private def quantiles(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"))
    // distributed per-value scan, not the every-value-in-one-buffer
    // `percentile` aggregate (graft.operators.Quantiles scaladoc);
    // both engines group on the identical parquet doubles
    val piv = graft.operators.Quantiles.interpolated(
        o, "o_totalprice", Seq("o_orderpriority"), Seq(0.5, 0.9))
      .groupBy(col("o_orderpriority"))
      .agg(Transform.round2(max(when(col("p") === 0.5, col("q")))).as("p50"),
        Transform.round2(max(when(col("p") === 0.9, col("q")))).as("p90"))
    o.groupBy(col("o_orderpriority"))
      .agg(min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .join(piv, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("p50"), col("p90"),
        col("lo"), col("hi"))
      .orderBy("o_orderpriority")
  }

  private val quantilesOracle = s"""SELECT o_orderpriority,
  ${Sql.round2("quantile_cont(o_totalprice, 0.5)")} AS p50,
  ${Sql.round2("quantile_cont(o_totalprice, 0.9)")} AS p90,
  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Spark's NATIVE gap-based session operator (`session_window`) —
    * hash-checked against the lag/window formulation in the oracle
    * (µs-exact: new session ⇔ gap >= 30 min, half-open windows).
    */
  private def sessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy("user_id")

  private val sessionWindowOracle = """WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS u FROM events
), l AS (
  SELECT user_id,
    CASE WHEN prev IS NULL OR u - prev >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM (SELECT *, LAG(u) OVER (PARTITION BY user_id ORDER BY u, event_id) AS prev FROM e)
)
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM l GROUP BY user_id ORDER BY user_id"""

  /** C4-style quality gate over documents: every rule exposed as a flag
    * plus the final verdict — the cleaning pass of a training-data
    * pipeline, entirely in codegen'd column expressions.
    */
  private def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val toks = tokenCount(col("text"))
    val noSpace = length(regexp_replace(col("text"), "\\s+", ""))
    val avgLen = noSpace.cast("double") / toks.cast("double")
    val punctRatio = punctCount(col("text")).cast("double") /
      length(col("text")).cast("double")
    val stops = stopwordCount(col("text"),
      Seq("the", "a", "of", "and", "in", "to", "is"))
    Tables(s, dir, "documents").select(
      col("doc_id"),
      when(toks.between(10, 1000), 1).otherwise(0).as("ok_len"),
      when(toks > 0 && avgLen >= 2.0 && avgLen <= 12.0, 1).otherwise(0).as("ok_avg_token"),
      when(punctRatio < 0.2, 1).otherwise(0).as("ok_punct"),
      when(stops >= 1, 1).otherwise(0).as("ok_stopwords"))
      .withColumn("passes",
        when(col("ok_len") === 1 && col("ok_avg_token") === 1 &&
          col("ok_punct") === 1 && col("ok_stopwords") === 1, 1).otherwise(0))
      .orderBy("doc_id")
  }

  private val qualityFilterOracle: String = {
    val toks = "CAST(length(regexp_extract_all(text, '\\S+')) AS INT)"
    val noSpace = "length(regexp_replace(text, '\\s+', '', 'g'))"
    val avgLen = s"CAST($noSpace AS DOUBLE) / CAST($toks AS DOUBLE)"
    val punct = "CAST(length(regexp_extract_all(text, '[^\\w\\s]')) AS INT)"
    val punctRatio = s"CAST($punct AS DOUBLE) / CAST(length(text) AS DOUBLE)"
    val stops = "CAST(length(regexp_extract_all(text, '\\b(the|a|of|and|in|to|is)\\b')) AS INT)"
    s"""WITH f AS (
  SELECT doc_id,
    CASE WHEN $toks BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS ok_len,
    CASE WHEN $toks > 0 AND $avgLen >= ${D("2")} AND $avgLen <= ${D("12")} THEN 1 ELSE 0 END AS ok_avg_token,
    CASE WHEN $punctRatio < ${D("0.2")} THEN 1 ELSE 0 END AS ok_punct,
    CASE WHEN $stops >= 1 THEN 1 ELSE 0 END AS ok_stopwords
  FROM documents)
SELECT *, CASE WHEN ok_len = 1 AND ok_avg_token = 1 AND ok_punct = 1 AND ok_stopwords = 1 THEN 1 ELSE 0 END AS passes
FROM f ORDER BY doc_id"""
  }

  // --- approximate aggregates, graded by their error guarantees -------
  /** HyperLogLog++ distinct count beside the exact count, graded as a
    * within-5% gate (rsd = 1%, so 5% is a wide margin). At 100 TB the
    * exact path shuffles every distinct key; the HLL sketch is a few KB
    * per group, map-side mergeable, constant memory — THE production
    * distinct-count. The gate makes the estimate's quality a graded
    * fact instead of a trusted one: if the sketch ever drifted past
    * 5%, the oracle hash (`TRUE` on every row) would flip.
    */
  private def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    // NEVER combine a DISTINCT aggregate with the HLL in one agg: Spark's
    // distinct-rewrite then carries the sketch's ~1,600-slot buffer per
    // (group, key) pair — a sketch per DISTINCT KEY, not per group
    // (measured 15.7 s vs 1.0 s at sf0.1 for the split below; the split
    // also scans twice, which is still 16x cheaper)
    val li = Tables(s, dir, "lineitem")
    val exactAgg = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    val hllAgg = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("hll"))
    val exact = col("exact_parts").cast("double")
    exactAgg.join(hllAgg, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("hll").cast("double") - exact) <= exact * 0.05)
          .as("within_5pct"))
      .orderBy("l_returnflag")
  }

  private val approxDistinctOracle =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
  TRUE AS within_5pct
FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""

  /** Single-pass approximate median beside its exact rank, graded by
    * the sketch's own guarantee: `approx_percentile(x, 0.5, acc)`
    * bounds rank error by 1/acc, so with acc = 10000 the returned
    * value's true rank must sit within 0.5 ± 0.01 (100× slack). The
    * exact median at 100 TB is a full sort (or multi-pass select); the
    * sketch is one scan + a bounded merge — and the gate re-derives
    * its rank exactly rather than trusting the bound.
    */
  private def approxMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val med = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("m"))
    li.join(med, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") <= col("m"), 1L).otherwise(0L))
          .as("n_le"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("n_le").cast("double") / col("n").cast("double") - 0.5)
          <= 0.01).as("rank_ok"))
      .orderBy("l_returnflag")
  }

  private val approxMedianOracle =
    """SELECT l_returnflag, COUNT(*) AS n, TRUE AS rank_ok
FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""

  // --- 2D skyline (pareto frontier) -----------------------------------
  /** Pareto-optimal (price, size) points over `part` — minimize both;
    * a point is dominated if another is ≤ in both dimensions and < in
    * at least one. Distributed skyline-of-skylines: each partition
    * sweeps its slice (lexicographic sort + running size-min, O(n log
    * n), keep iff size < every earlier size — on DISTINCT points this
    * is exactly non-domination), then the surviving candidates — the
    * union of local skylines provably contains the global one — are
    * swept once more in a single bounded pass. No self-join anywhere.
    * The oracle deliberately uses the other canonical formulation
    * (quadratic NOT EXISTS dominance), so the grade also checks the
    * two formulations agree on every point.
    */
  private def skyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def sweep(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
      val arr = it.toArray.sorted
      var minSize = Long.MaxValue
      arr.iterator.filter { case (_, sz) =>
        if (sz < minSize) { minSize = sz; true } else false
      }
    }
    val pts = Tables(s, dir, "part")
      .select(cents(col("p_retailprice")).as("price_cents"),
        col("p_size").cast("long").as("size"))
      .distinct().as[(Long, Long)]
    val local = pts.mapPartitions(sweep)         // parallel local skylines
    local.coalesce(1).mapPartitions(sweep)       // global stitch, candidates only
      .toDF("price_cents", "size")
      .orderBy("price_cents", "size")
  }

  private val skylineOracle = """WITH pts AS (
  SELECT DISTINCT CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
    CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT price_cents, size FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price_cents <= a.price_cents AND b.size <= a.size
    AND (b.price_cents < a.price_cents OR b.size < a.size))
ORDER BY price_cents, size"""

  // --- incremental aggregate maintenance (partial-agg merge) ----------
  /** Algebraic view maintenance: the pre-1997 aggregate is FROZEN (the
    * materialized history) and only the 1997+ delta is aggregated
    * fresh; merging the two partials (sum+sum, count+count, min(min),
    * max(max)) must equal the oracle's from-scratch aggregate. This is
    * the incremental-ETL contract at 100 TB — a daily delta re-agg
    * touches the delta partition only, never the full history, which
    * is why every aggregate this engine publishes sticks to
    * algebraically mergeable forms (exact integer sums, counts,
    * min/max) rather than holistic ones.
    */
  private def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_returnflag"),
      col("l_shipdate"), cents(col("l_extendedprice")).as("cents"),
      col("l_quantity"))
    def partial(d: DataFrame) = d.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
    val history = partial(li.where(col("l_shipdate") < "1997-01-01"))
    val delta = partial(li.where(col("l_shipdate") >= "1997-01-01"))
    history.unionByName(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
        min(col("min_qty")).as("min_qty"), max(col("max_qty")).as("max_qty"))
      .orderBy("l_returnflag")
  }

  private val incrementalAggOracle = """SELECT l_returnflag,
  COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""

  // --- re-aggregatable HLL sketch rollup ------------------------------
  /** The property that matters at 100 TB: per-group Datasketches HLL
    * sketches MERGE to the global sketch (`hll_union_agg`), so the
    * overall distinct count never re-touches the data — unlike
    * `approx_count_distinct`, whose result is a number you cannot roll
    * up. Per-type sketches estimate distinct users; their union
    * estimates the overall distinct users; each estimate is graded
    * against the exact count at ±5% (lgK 14 → ~0.8% standard error,
    * 6σ slack). Exact counts ride a separate aggregation — same
    * distinct-rewrite trap as [[approxDistinct]].
    */
  private def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sketches = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val perType = sketches
      .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("est"))
    val merged = sketches
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .select(lit("TOTAL").as("event_type"), col("est"))
    val exactPer = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    val exactTot = ev.agg(countDistinct(col("user_id")).as("exact_users"))
      .select(lit("TOTAL").as("event_type"), col("exact_users"))
    perType.unionByName(merged)
      .join(exactPer.unionByName(exactTot), Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("est").cast("double") - col("exact_users").cast("double"))
          <= col("exact_users").cast("double") * 0.05).as("within_5pct"))
      .orderBy("event_type")
  }

  private val hllRollupOracle = """SELECT event_type,
  COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_5pct
FROM events GROUP BY 1
UNION ALL
SELECT 'TOTAL', COUNT(DISTINCT user_id), TRUE FROM events
ORDER BY event_type"""

  // --- re-aggregatable KLL quantile-sketch rollup ----------------------
  /** The q_hll_rollup property for RANKS: `approx_percentile` returns a
    * number you cannot roll up, so percentile-over-history re-scans raw
    * rows — while KLL sketches (graft.plans.KllSketch, deterministic
    * KLL/MRL compaction) merge day-grain partials to the week without
    * re-touching data. Per-day sketches of purchase value →
    * `kll_merge` to weeks → median readout, graded like
    * q_approx_median: the estimate's EXACT rank interval, re-derived
    * against the raw rows, must contain 0.5·n within ±2.5% (k=1024:
    * worst-case deterministic-parity rank error ≈ log2(n/k)/(2k) stays
    * ~1% even at 1e9 rows/week — the gate clears with margin at 100×
    * target volumes, for EVERY runtime merge order — which is why the
    * graded output is counts + booleans, not the order-dependent
    * estimate itself).
    */
  private def quantileRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(trunc(to_date(col("ts")), "week").as("w"), col("ts"),
        col("value"))
    val daily = ev
      .groupBy(col("w"), to_date(col("ts")).as("d"))
      .agg(graft.plans.KllSketch.kllAgg(col("value"), 1024).as("sk"))
    val weekly = daily.groupBy(col("w"))
      .agg(graft.plans.KllSketch.kllMerge(col("sk")).as("sk"))
      .select(col("w"),
        graft.plans.KllSketch.kllQuantile(col("sk"), 0.5).as("est"))
    ev.join(broadcast(weekly), Seq("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("n_lt"))
      .select(col("w").as("week"), col("n"),
        // the estimate is a real data value with exact-rank interval
        // [n_lt+1, n_le]; the gate: that interval reaches the target
        // rank band 0.5·n ± 2.5%·n (tie-robust form of |rank/n − 0.5|)
        ((col("n_lt") + 1L) * 40L <= col("n") * 21L &&
          col("n_le") * 40L >= col("n") * 19L)
          .as("rank_ok"))
      .orderBy("week")
  }

  private[queries] val quantileRollupOracle =
    """SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
  COUNT(*) AS n, TRUE AS rank_ok
FROM events GROUP BY 1 ORDER BY week"""

  /** [[quantileRollup]] restated through the SQL FRONT DOOR — the
    * `graft_kll_agg` / `graft_kll_merge` / `graft_kll_quantile`
    * FunctionIdentifiers that [[graft.plans.GraftExtensions]] injects
    * (r8-verdict #3: the rollup contract must be reachable like
    * `graft_dot`). Identical plan intent and the identical oracle; the
    * only Scala here is the temp view.
    */
  private def quantileRollupSql(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_kll_events")
    s.sql("""
WITH ev AS (
  SELECT trunc(to_date(ts), 'week') AS w, to_date(ts) AS d, value
  FROM graft_kll_events
), daily AS (
  SELECT w, d, graft_kll_agg(value, 1024) AS sk FROM ev GROUP BY w, d
), weekly AS (
  SELECT w, graft_kll_quantile(graft_kll_merge(sk), 0.5) AS est
  FROM daily GROUP BY w
)
SELECT ev.w AS week, COUNT(*) AS n,
  (SUM(CASE WHEN value < est THEN 1 ELSE 0 END) + 1L) * 40L <= COUNT(*) * 21L
    AND SUM(CASE WHEN value <= est THEN 1 ELSE 0 END) * 40L >= COUNT(*) * 19L
    AS rank_ok
FROM ev JOIN weekly ON ev.w = weekly.w
GROUP BY ev.w ORDER BY week""")
  }

  // --- multi-p KLL ladder over a two-level re-merge ---------------------
  /** The FULL q_hll_rollup analogy for ranks: day-grain KLL sketches
    * merge to weeks, the week partials re-merge to the month — two
    * mergeable levels, raw rows touched exactly once — and the month
    * sketch answers a whole quantile LADDER (p ∈ {.25, .5, .9, .99})
    * from ONE readout ([[graft.plans.KllSketchAgg]]'s `kll_quantiles`:
    * one deserialize + one sort serves every p). Grading mirrors
    * q_quantile_rollup per p: each estimate is a real data value whose
    * EXACT rank interval [n_lt+1, n_le], re-derived against the raw
    * rows, must reach the target band p·n ± 2.5%·n (k=1024 holds the
    * worst-case deterministic rank error ~1% at 1e9-row months — the
    * bound holds for every runtime merge order, so booleans are graded,
    * never the order-dependent estimates).
    */
  private def kllLadder(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    val ev = Tables.events(s, dir)
      .select(trunc(to_date(col("ts")), "month").as("m"), col("ts"),
        col("value"))
    val daily = ev
      .groupBy(col("m"), trunc(to_date(col("ts")), "week").as("w"),
        to_date(col("ts")).as("d"))
      .agg(graft.plans.KllSketch.kllAgg(col("value"), 1024).as("sk"))
    val weekly = daily.groupBy(col("m"), col("w"))
      .agg(graft.plans.KllSketch.kllMerge(col("sk")).as("sk"))
    val monthly = weekly.groupBy(col("m"))
      .agg(graft.plans.KllSketch.kllMerge(col("sk")).as("sk"))
      .select(col("m"),
        posexplode(graft.plans.KllSketch.kllQuantiles(col("sk"), ps)))
      .select(col("m"),
        element_at(typedLit(ps.map(p => (p * 1000).round)), col("pos") + 1)
          .as("p_mille"),
        col("col").as("est"))
    ev.join(broadcast(monthly), Seq("m"))
      .groupBy(col("m"), col("p_mille"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("n_lt"))
      .select(col("m").as("month"), col("p_mille"), col("n"),
        // exact-rank interval [n_lt+1, n_le] must reach p·n ± 2.5%·n
        // (all-integer: ranks ×1000 vs n×(p_mille ± 25))
        ((col("n_lt") + 1L) * 1000L <= col("n") * (col("p_mille") + 25L) &&
          col("n_le") * 1000L >= col("n") * (col("p_mille") - 25L))
          .as("rank_ok"))
      .orderBy("month", "p_mille")
  }

  private val kllLadderOracle =
    """SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
  CAST(p_mille AS BIGINT) AS p_mille, COUNT(*) AS n, TRUE AS rank_ok
FROM events
CROSS JOIN (SELECT UNNEST([250, 500, 900, 990]) AS p_mille)
GROUP BY 1, 2 ORDER BY month, p_mille"""

  // --- data-quality expectation suite ---------------------------------
  /** A dbt-tests-style expectation run as ONE query: uniqueness,
    * not-null, accepted range, and referential integrity, each a
    * (check, n_violations, passed) row. The table-local checks share a
    * single orders scan (one aggregate computes all counts); the FK
    * check is the one extra anti-join, shuffled on the key it probes.
    * At 100 TB this is the pre-publish gate that runs BEFORE a dataset
    * version is announced — cheap relative to the write it certifies.
    */
  private def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    val a = o.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("nk"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("bad_price"),
      sum(when(col("o_orderdate") < "1992-01-01" ||
        col("o_orderdate") >= "2000-01-01", 1L).otherwise(0L)).as("bad_date"))
    val orphans = li.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    def entry(name: String, v: org.apache.spark.sql.Column) =
      struct(lit(name).as("check"), v.as("n_violations"))
    a.crossJoin(orphans)
      .select(explode(array(
        entry("orderkey_unique", col("n") - col("nk")),
        entry("custkey_not_null", col("null_cust")),
        entry("totalprice_positive", col("bad_price")),
        entry("orderdate_in_range", col("bad_date")),
        entry("lineitem_fk_orders", col("n_orphans")))).as("r"))
      .select(col("r.check").as("check"),
        col("r.n_violations").as("n_violations"),
        (col("r.n_violations") === 0).as("passed"))
      .orderBy("check")
  }

  private val dqExpectationsOracle = """WITH a AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS nk,
    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
    CAST(SUM(CASE WHEN o_orderdate < '1992-01-01'
      OR o_orderdate >= '2000-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS bad_date
  FROM orders
), orph AS (
  SELECT COUNT(*) AS n_orphans FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
), checks AS (
  SELECT 'orderkey_unique' AS "check", n - nk AS n_violations FROM a
  UNION ALL SELECT 'custkey_not_null', null_cust FROM a
  UNION ALL SELECT 'totalprice_positive', bad_price FROM a
  UNION ALL SELECT 'orderdate_in_range', bad_date FROM a
  UNION ALL SELECT 'lineitem_fk_orders', n_orphans FROM orph
)
SELECT "check", n_violations, n_violations = 0 AS passed
FROM checks ORDER BY "check""""

  // --- OLS trend per group (exact-integer normal equations) -----------
  /** Least-squares revenue trend per return flag: x = month index from
    * 1992-01, y = monthly revenue cents. The normal-equation terms
    * (n·Σxy − Σx·Σy and n·Σx² − (Σx)²) are EXACT BIGINT arithmetic
    * over the monthly aggregate (84-ish rows per group); the published
    * slope is one double division. Regression over pre-aggregated
    * series is the scale shape — the raw scan only feeds the monthly
    * rollup, which map-side combines.
    */
  private def olsTrend(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        ((year(col("l_shipdate")) - 1992) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("x"))
      .agg(sum(cents(col("l_extendedprice"))).as("y"))
    monthly.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope_cents_per_month",
        col("slope_num").cast("double") / col("slope_den").cast("double"))
      .orderBy("l_returnflag")
  }

  private val olsTrendOracle = """WITH monthly AS (
  SELECT l_returnflag,
    CAST((EXTRACT(year FROM l_shipdate) - 1992) * 12
      + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS x,
    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1, 2
), t AS (
  SELECT l_returnflag, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM monthly GROUP BY 1
)
SELECT l_returnflag, n, n * sxy - sx * sy AS slope_num,
  n * sxx - sx * sx AS slope_den,
  CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_month
FROM t ORDER BY l_returnflag"""

  // --- equi-depth histogram (decile buckets, no global sort) ----------
  /** Ten equal-population price buckets WITHOUT ntile's global sort:
    * exact interpolated decile boundaries (pinned to integer cents the
    * way `q_quantiles` pins to 2 dp) are computed once, then bucket
    * assignment is a scan-local comparison chain — the boundaries
    * broadcast, the data never re-sorts. Per-bucket count + min/max in
    * exact cents.
    */
  private def equidepthHist(s: SparkSession, dir: String): DataFrame = {
    // li is scanned by the quantile collect AND the bucket-assignment
    // pass. MEASURED NEGATIVE (r9): checkpointing the projection to
    // dedupe the scans lost ~0.4 s — the narrow vectorized re-scan is
    // cheaper than a 600k-row checkpoint round-trip (same verdict as
    // q_spearman/q_tail_dependence).
    val li = Tables(s, dir, "lineitem")
      .select(cents(col("l_extendedprice")).as("c"))
    val ps = (1 to 9).map(_ / 10.0)
    // boundaries via the DISTRIBUTED interpolated-quantile scan (exact
    // quantile_cont) — Spark's `percentile` buffers every value of the
    // group on one task, the memory funnel this operator family avoids
    val bs = graft.operators.Quantiles.interpolated(li, "c", Seq(), ps)
      .orderBy("p").collect()
      .map(r => math.floor(r.getDouble(1) + 0.5).toLong)
    val bucket = bs.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col("c") > b, 1L).otherwise(0L)
    }
    li.select(col("c"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("c")).as("min_cents"),
        max(col("c")).as("max_cents"))
      .orderBy("bucket")
  }

  private val equidepthOracle: String = {
    val qs = (1 to 9).map(i =>
      s"CAST(FLOOR(quantile_cont(c, ${D((i / 10.0).toString)}) + ${D("0.5")}) AS BIGINT) AS b$i")
      .mkString(", ")
    val assign = (1 to 9).map(i =>
      s"(CASE WHEN c > b$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH li AS (
  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c FROM lineitem
), bs AS (
  SELECT $qs FROM li
)
SELECT CAST($assign AS BIGINT) AS bucket, COUNT(*) AS n,
  MIN(c) AS min_cents, MAX(c) AS max_cents
FROM li, bs GROUP BY 1 ORDER BY bucket"""
  }

  // --- ship-latency percentile matrix ---------------------------------
  /** Order-to-ship latency distribution per order priority: exact
    * interpolated p50/p90/p99 of (l_shipdate − o_orderdate) in integer
    * days, floored to integers so both engines publish identical
    * values. One shuffle join on the order key, one group-by over the
    * priority dimension — the SLA-dashboard query shape.
    */
  private def shipLatency(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val lat = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lat"))
    val n = lat.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    // exact quantile_cont via the distributed per-value scan, not the
    // every-value-in-one-buffer `percentile` aggregate (Quantiles doc)
    val qd = graft.operators.Quantiles.interpolated(
      lat, "lat", Seq("o_orderpriority"), Seq(0.5, 0.9, 0.99))
    def pick(p: Double, name: String) =
      floor(max(when(col("p") === p, col("q"))) + lit(0.5))
        .cast("long").as(name)
    val piv = qd.groupBy(col("o_orderpriority"))
      .agg(pick(0.5, "p50_days"), pick(0.9, "p90_days"),
        pick(0.99, "p99_days"))
    n.join(piv, Seq("o_orderpriority")).orderBy("o_orderpriority")
  }

  private val shipLatencyOracle = s"""WITH j AS (
  SELECT o_orderpriority,
    CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS lat
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT o_orderpriority, COUNT(*) AS n,
  CAST(FLOOR(quantile_cont(lat, ${D("0.5")}) + ${D("0.5")}) AS BIGINT) AS p50_days,
  CAST(FLOOR(quantile_cont(lat, ${D("0.9")}) + ${D("0.5")}) AS BIGINT) AS p90_days,
  CAST(FLOOR(quantile_cont(lat, ${D("0.99")}) + ${D("0.5")}) AS BIGINT) AS p99_days
FROM j GROUP BY 1 ORDER BY o_orderpriority"""

  // --- A/B experiment readout (Welch's t) -----------------------------
  /** Deterministic A/B experiment analysis over purchase values: users
    * are hashed into arms by their md5 first nibble (< 8 → A, a
    * user-level split so every event of a user lands in one arm), and
    * the readout is per-arm n/mean/sample-variance plus Welch's
    * t-statistic. All three derive from SIX exact integer aggregates
    * (count, cent-sum, cent-sum-of-squares per arm) in one map-side
    * combinable pass — the 100 TB shape: the shuffle carries six longs
    * total, and every float is a fixed expression over those exact
    * integers, so the statistic is bit-reproducible across engines,
    * retries, and partitionings.
    */
  private def abWelch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val armA = conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
      .cast("int") < 8
    val g = Tables.events(s, dir)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(armA.as("is_a"), cents(col("value")).as("c"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a"), col("c")).otherwise(0L)).as("s1_a"),
        sum(when(col("is_a"), col("c") * col("c")).otherwise(0L)).as("s2_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("is_a"), col("c")).otherwise(0L)).as("s1_b"),
        sum(when(!col("is_a"), col("c") * col("c")).otherwise(0L)).as("s2_b"))
    def mean(s1: Column, n: Column): Column =
      s1.cast("double") / n.cast("double") / lit(100.0)
    def vr(s2: Column, s1: Column, n: Column): Column =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n.cast("double")) /
        (n - 1).cast("double") / lit(10000.0)
    g.select(
        col("n_a"), mean(col("s1_a"), col("n_a")).as("mean_a"),
        vr(col("s2_a"), col("s1_a"), col("n_a")).as("var_a"),
        col("n_b"), mean(col("s1_b"), col("n_b")).as("mean_b"),
        vr(col("s2_b"), col("s1_b"), col("n_b")).as("var_b"))
      .withColumn("t_stat",
        (col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a").cast("double") +
            col("var_b") / col("n_b").cast("double")))
  }

  private val abWelchOracle: String = {
    val mean = (s1: String, n: String) =>
      s"CAST($s1 AS DOUBLE) / CAST($n AS DOUBLE) / ${D("100")}"
    val vr = (s2: String, s1: String, n: String) =>
      s"(CAST($s2 AS DOUBLE) - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE) / CAST($n AS DOUBLE)) / CAST($n - 1 AS DOUBLE) / ${D("10000")}"
    s"""WITH e AS (
  SELECT (strpos('0123456789abcdef',
      substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) < 8 AS is_a,
    CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), g AS (
  SELECT
    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN is_a THEN c ELSE 0 END) AS BIGINT) AS s1_a,
    CAST(SUM(CASE WHEN is_a THEN c * c ELSE 0 END) AS BIGINT) AS s2_a,
    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN NOT is_a THEN c ELSE 0 END) AS BIGINT) AS s1_b,
    CAST(SUM(CASE WHEN NOT is_a THEN c * c ELSE 0 END) AS BIGINT) AS s2_b
  FROM e
), d AS (
  SELECT n_a, ${mean("s1_a", "n_a")} AS mean_a, ${vr("s2_a", "s1_a", "n_a")} AS var_a,
         n_b, ${mean("s1_b", "n_b")} AS mean_b, ${vr("s2_b", "s1_b", "n_b")} AS var_b
  FROM g
)
SELECT n_a, mean_a, var_a, n_b, mean_b, var_b,
  (mean_a - mean_b) / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)) AS t_stat
FROM d"""
  }

  /** Two-feature OLS (y = β₀ + β₁·n_items + β₂·sum_qty on order
    * totals) trained the distributed way: ONE pass accumulates the 9
    * sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂², Σx₁y,
    * Σx₂y — all exact integers, map-side combined into a single-row
    * reduce), then the normal equations solve in closed form on the
    * driver-free final projection. This is how regression/GLMs train
    * at 100 TB: the data never moves, only the fixed-size statistics
    * vector does. Covariance cross-products are formed in DOUBLE (the
    * integer products would overflow BIGINT at scale); the expression
    * tree is identical in both engines, so the IEEE results are
    * bit-equal.
    */
  private def multiOls(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("x1"),
        sum(col("l_quantity").cast("long")).as("x2"))
    val o = Tables(s, dir, "orders").select(col("o_orderkey"),
      cents(col("o_totalprice")).as("y"))
    val d = o.join(li, col("o_orderkey") === col("l_orderkey"))
    val st = d.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
    def dbl(name: String): org.apache.spark.sql.Column = col(name).cast("double")
    val c11 = (dbl("n") * dbl("s11") - dbl("s1") * dbl("s1")).as("c11")
    val c12 = (dbl("n") * dbl("s12") - dbl("s1") * dbl("s2")).as("c12")
    val c22 = (dbl("n") * dbl("s22") - dbl("s2") * dbl("s2")).as("c22")
    val cy1 = (dbl("n") * dbl("s1y") - dbl("s1") * dbl("sy")).as("cy1")
    val cy2 = (dbl("n") * dbl("s2y") - dbl("s2") * dbl("sy")).as("cy2")
    st.select(col("n"), c11, c12, c22, cy1, cy2)
      .select(col("n"),
        ((col("c22") * col("cy1") - col("c12") * col("cy2"))
          / (col("c11") * col("c22") - col("c12") * col("c12"))).as("beta1"),
        ((col("c11") * col("cy2") - col("c12") * col("cy1"))
          / (col("c11") * col("c22") - col("c12") * col("c12"))).as("beta2"),
        col("cy1"), col("cy2"))
      .select(col("n"), col("beta1"), col("beta2"))
  }

  private val multiOlsOracle: String = s"""WITH li AS (
  SELECT l_orderkey, COUNT(*) AS x1,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x2
  FROM lineitem GROUP BY 1
), d AS (
  SELECT CAST(FLOOR(o_totalprice * ${D("100")} + ${D("0.5")}) AS BIGINT) AS y,
    x1, x2
  FROM orders JOIN li ON o_orderkey = l_orderkey
), st AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
    CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM d
), c AS (
  SELECT n,
    CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS c11,
    CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c12,
    CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS c22,
    CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS cy1,
    CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS cy2
  FROM st
)
SELECT n,
  (c22 * cy1 - c12 * cy2) / (c11 * c22 - c12 * c12) AS beta1,
  (c11 * cy2 - c12 * cy1) / (c11 * c22 - c12 * c12) AS beta2
FROM c"""

  /** Difference-in-differences readout: purchase spend means over the
    * 2×2 (treated = even user_id) × (post = after 2024-01-15) design,
    * and the DiD estimate — the causal-impact workhorse when a clean
    * A/B is impossible. ONE pass computes all eight integer sufficient
    * statistics (conditional cents sums + counts, map-side combined);
    * each mean is one double division and the DiD is the fixed
    * subtraction tree, so both engines agree bitwise.
    */
  private def did(s: SparkSession, dir: String): DataFrame = {
    val Cut = 1705276800000L // 2024-01-15 00:00 UTC
    val e = Tables.events(s, dir)
      .where(col("event_type") === "purchase")
      .select((col("user_id") % 2 === 0).as("t"),
        (unix_millis(col("ts")) >= Cut).as("p"),
        cents(col("value")).as("c"))
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(col("t") === t && col("p") === p, col("c")).otherwise(0L))
        .as(s"s_$suffix"),
      sum(when(col("t") === t && col("p") === p, 1L).otherwise(0L))
        .as(s"n_$suffix"))
    val cells = cell(true, true, "tp") ++ cell(true, false, "t0") ++
      cell(false, true, "cp") ++ cell(false, false, "c0")
    val st = e.agg(cells.head, cells.tail: _*)
    def m(suffix: String) =
      col(s"s_$suffix").cast("double") / col(s"n_$suffix").cast("double")
    st.select(
      m("tp").as("mean_treated_post"), m("t0").as("mean_treated_pre"),
      m("cp").as("mean_control_post"), m("c0").as("mean_control_pre"))
      .select(col("mean_treated_post"), col("mean_treated_pre"),
        col("mean_control_post"), col("mean_control_pre"),
        ((col("mean_treated_post") - col("mean_treated_pre"))
          - (col("mean_control_post") - col("mean_control_pre")))
          .as("did_cents"))
  }

  private val didOracle = """WITH e AS (
  SELECT user_id % 2 = 0 AS t, epoch_ms(ts) >= 1705276800000 AS p,
    CAST(FLOOR(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
), st AS (
  SELECT
    CAST(SUM(CASE WHEN t AND p THEN c ELSE 0 END) AS BIGINT) AS s_tp,
    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
    CAST(SUM(CASE WHEN t AND NOT p THEN c ELSE 0 END) AS BIGINT) AS s_t0,
    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
    CAST(SUM(CASE WHEN NOT t AND p THEN c ELSE 0 END) AS BIGINT) AS s_cp,
    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
    CAST(SUM(CASE WHEN NOT t AND NOT p THEN c ELSE 0 END) AS BIGINT) AS s_c0,
    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_c0
  FROM e
)
SELECT
  CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) AS mean_treated_post,
  CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) AS mean_treated_pre,
  CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) AS mean_control_post,
  CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) AS mean_control_pre,
  (CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE)
    - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))
  - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE)
    - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) AS did_cents
FROM st"""

  /** CUPED variance reduction: per-arm post-period spend means adjusted
    * by the pre-period covariate, adj = ȳₐ − θ·(x̄ₐ − x̄), with θ =
    * cov(X,Y)/var(X) estimated from the pooled per-user (pre, post)
    * sums — the experimentation-platform standard for tightening A/B
    * confidence intervals. Per-user sums and the five pooled moments
    * are exact integers; θ and the adjustments are a fixed double
    * expression tree (products formed in DOUBLE, one division), so the
    * adjusted means agree bitwise across engines.
    */
  private def cuped(s: SparkSession, dir: String): DataFrame = {
    val Cut = 1705276800000L
    val u = Tables.events(s, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), (unix_millis(col("ts")) >= Cut).as("p"),
        cents(col("value")).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(when(!col("p"), col("c")).otherwise(0L)).as("x"),
        sum(when(col("p"), col("c")).otherwise(0L)).as("y"))
      .select((col("user_id") % 2 === 0).as("arm"), col("x"), col("y"))
    val g = u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val theta = ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
      / (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
    val arms = u.groupBy(col("arm")).agg(count(lit(1)).as("na"),
      sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
    arms.crossJoin(g)
      .select(col("arm"), col("na"),
        (d(col("sya")) / d(col("na"))).as("mean_y"),
        (d(col("sxa")) / d(col("na"))).as("mean_x"),
        ((d(col("sya")) / d(col("na")))
          - theta * (d(col("sxa")) / d(col("na")) - d(col("sx")) / d(col("n"))))
          .as("adj_mean"))
      .orderBy("arm")
  }

  private val cupedOracle = """WITH pu AS (
  SELECT user_id,
    CAST(SUM(CASE WHEN epoch_ms(ts) < 1705276800000
      THEN CAST(FLOOR(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS x,
    CAST(SUM(CASE WHEN epoch_ms(ts) >= 1705276800000
      THEN CAST(FLOOR(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), u AS (
  SELECT user_id % 2 = 0 AS arm, x, y FROM pu
), g AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM u
), a AS (
  SELECT arm, COUNT(*) AS na, CAST(SUM(x) AS BIGINT) AS sxa,
    CAST(SUM(y) AS BIGINT) AS sya
  FROM u GROUP BY arm
)
SELECT arm, na,
  CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mean_y,
  CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_x,
  CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
    AS adj_mean
FROM a, g ORDER BY arm"""

  /** Ordered string aggregation — Spark 4's `LISTAGG ... WITHIN GROUP`
    * through the SQL front door (DuckDB's `string_agg(... ORDER BY)`
    * twin): per-nation ordered customer-name rosters. The explicit
    * WITHIN GROUP order makes the concatenation deterministic — an
    * UNORDERED listagg would be partition-order-dependent and could
    * never be oracle-graded.
    */
  private def listaggQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .where(col("c_custkey") % 50 === 0)
      .groupBy(col("c_nationkey"))
      .agg(expr("listagg(c_name, '|') WITHIN GROUP (ORDER BY c_name)")
        .as("roster"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")

  private val listaggOracle = """SELECT c_nationkey,
  string_agg(c_name, '|' ORDER BY c_name) AS roster, COUNT(*) AS n
FROM customer WHERE c_custkey % 50 = 0
GROUP BY c_nationkey ORDER BY c_nationkey"""

  /** Spearman rank correlation (quantity vs extended price), tie-aware:
    * average ranks enter as INTEGER double-ranks (2·minrank + tiecount
    * − 1 — Pearson is affine-invariant, so the ×2 changes nothing) and
    * ρ comes out of the same five-integer-moment machinery as
    * [[multiOls]]/[[cuped]] — one pass, one fixed double tree. Rank
    * windows are global by necessity (ranking IS a total order), over
    * the two ranked columns only.
    */
  private def spearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r feeds three subplans (both midrank groupBys + the rank join).
    // MEASURED NEGATIVE (r9): checkpointing the 2-column projection to
    // save the two extra scans LOST ~0.6 s — a narrow vectorized
    // parquet re-scan is cheaper than writing+reading 600k serialized
    // checkpoint rows. Re-scan per consumer.
    val r = Tables(s, dir, "lineitem").select(
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    // Doubled midrank 2·rank_min+cnt−1 per DISTINCT value, not per row:
    // with cum the inclusive cumulative count over ascending values it
    // equals 2·cum−cnt+1, computed on the per-value count table via
    // Ids.prefixSum (range-partitioned scan) and joined back onto the
    // rows — the raw lineitem table never funnels through a
    // partition-less rank window (r7-verdict sweep). Long arithmetic
    // from the start, consistent with the DECIMAL(38,0) guard below.
    def midrank2(c: String) = {
      val perV = r.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      graft.operators.Ids.prefixSum(perV, Seq(col(c)), "cum", Some("cnt"))
        .select(col(c), (lit(2L) * col("cum") - col("cnt") + 1L).as(s"r_$c"))
    }
    val rk = r.join(midrank2("x"), Seq("x")).join(midrank2("y"), Seq("y"))
      .select(col("r_x").as("rx"), col("r_y").as("ry"))
    // rank cross-products grow ~4n³ and would wrap a BIGINT sum past
    // ~1.3e6 rows — sum them as DECIMAL(38,0) (exact, order-free, like
    // DuckDB's HUGEINT sum) and only then drop to DOUBLE
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val st = rk.agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
      sum(col("ry")).as("sy"),
      sum(dec(col("rx")) * dec(col("rx"))).as("sxx"),
      sum(dec(col("ry")) * dec(col("ry"))).as("syy"),
      sum(dec(col("rx")) * dec(col("ry"))).as("sxy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    st.select(col("n"),
      ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
        / sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
          * (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
        .as("rho"))
  }

  private val spearmanOracle = """WITH r AS (
  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
), rk AS (
  SELECT
    CAST(2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx,
    CAST(2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry
  FROM r
), st AS (
  SELECT COUNT(*) AS n, CAST(SUM(rx) AS BIGINT) AS sx,
    CAST(SUM(ry) AS BIGINT) AS sy, SUM(rx * rx) AS sxx,
    SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM rk
)
SELECT n,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
    AS rho
FROM st"""

  /** Year-over-year revenue growth — the annual twin of `q_mom_growth`:
    * exact-cents yearly totals, lag on the years-cardinality post-agg
    * series, growth as one double division of exact cents.
    */
  private def yoyGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val yearly = Tables(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
    yearly
      .withColumn("prev_cents",
        lag(col("rev_cents"), 1).over(Window.orderBy(col("yr"))))
      .select(col("yr"), (col("rev_cents") / 100.0).as("revenue"),
        when(col("prev_cents").isNotNull,
          (col("rev_cents") - col("prev_cents")).cast("double")
            / col("prev_cents").cast("double")).as("yoy_growth"))
      .orderBy("yr")
  }

  private val yoyGrowthOracle = s"""WITH y AS (
  SELECT CAST(year(o_orderdate) AS INT) AS yr,
    CAST(SUM(CAST(FLOOR(o_totalprice * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS rc
  FROM orders GROUP BY 1
), l AS (
  SELECT yr, rc, LAG(rc) OVER (ORDER BY yr) AS prev FROM y
)
SELECT yr, rc / ${D("100")} AS revenue,
  CASE WHEN prev IS NOT NULL
    THEN CAST(rc - prev AS DOUBLE) / CAST(prev AS DOUBLE) END AS yoy_growth
FROM l ORDER BY yr"""

  // --- Mann-Whitney U (rank-sum test) ---------------------------------
  /** Mann-Whitney U: are BUILDING-segment order values drawn from the
    * same distribution as MACHINERY's? The nonparametric A/B readout
    * when values are skewed (revenue always is) and Welch's t is the
    * wrong tool. Scale shape: no global row-level rank window — values
    * collapse to their DISTINCT-cents histogram first (groupBy), the
    * cumulative count runs through [[graft.operators.Ids.prefixSum]]
    * (the chunked distributed scan), and tied ranks fold in closed form
    * (average rank of a tie group of size t starting after c rows is
    * (2c + t + 1)/2 — kept ×2 so everything stays integer). Final z is
    * one fixed double tree over five exact integers; the tie-corrected
    * variance stays in double (the n⁵-scale product would wrap any
    * int64).
    */
  private val MwSegA = "BUILDING"
  private val MwSegB = "MACHINERY"

  private def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .where(col("c_mktsegment").isin(MwSegA, MwSegB))
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val vals = Tables(s, dir, "orders")
      .join(cust, col("o_custkey") === col("ck"))
      .select(col("seg"), cents(col("o_totalprice")).as("val"))
    val hist = vals.groupBy(col("val"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("seg") === MwSegA, 1L).otherwise(0L)).as("t_a"))
    val cum = graft.operators.Ids.prefixSum(hist, Seq(col("val")), "cum", Some("t"))
    val agg = cum.agg(
      sum(col("t_a") * (lit(2L) * (col("cum") - col("t")) + col("t") + 1))
        .as("r1x2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie"),
      sum(col("t_a")).as("n1"),
      sum(col("t")).as("n"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    agg.select(col("n1"), (col("n") - col("n1")).as("n2"),
        col("r1x2"), col("tie"), col("n"))
      .select(col("n1"), col("n2"), col("r1x2"), col("tie"),
        (d(col("r1x2") - col("n1") * (col("n1") + 1)
            - col("n1") * col("n2"))
          / (lit(2.0) * sqrt(
            d(col("n1")) * d(col("n2")) / lit(12.0)
              * (d(col("n") + 1)
                - d(col("tie")) / (d(col("n")) * d(col("n") - 1))))))
          .as("z"))
  }

  private val mannWhitneyOracle: String = s"""WITH c AS (
  SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer
  WHERE c_mktsegment IN ('$MwSegA', '$MwSegB')
), v AS (
  SELECT seg, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS val
  FROM orders JOIN c ON o_custkey = ck
), g AS (
  SELECT val, COUNT(*) AS t,
    CAST(SUM(CASE WHEN seg = '$MwSegA' THEN 1 ELSE 0 END) AS BIGINT) AS t_a
  FROM v GROUP BY 1
), cum AS (
  SELECT val, t, t_a,
    SUM(t) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum
  FROM g
), agg AS (
  SELECT
    CAST(SUM(t_a * (2 * (cum - t) + t + 1)) AS BIGINT) AS r1x2,
    CAST(SUM(t * t * t - t) AS BIGINT) AS tie,
    CAST(SUM(t_a) AS BIGINT) AS n1,
    CAST(SUM(t) AS BIGINT) AS n
  FROM cum
)
SELECT n1, n - n1 AS n2, r1x2, tie,
  CAST(r1x2 - n1 * (n1 + 1) - n1 * (n - n1) AS DOUBLE)
    / (${D("2")} * sqrt(
      CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / ${D("12")}
        * (CAST(n + 1 AS DOUBLE)
          - CAST(tie AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))))
    AS z
FROM agg"""

  // --- Benjamini-Hochberg FDR control over per-nation z-tests ---------
  /** Acklam's rational approximation of the inverse normal CDF — used
    * ONLY at query-construction time to freeze the BH critical values
    * as literals shared verbatim by the Spark plan and the oracle SQL,
    * so neither engine ever evaluates an erf/Φ at runtime (erf is not
    * IEEE-pinned across libms; frozen literals are).
    */
  private[queries] def invNorm(p: Double): Double = {
    require(p > 0 && p < 1)
    val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -invNorm(1 - p)
  }

  private val FdrM = 25      // hypotheses: the 25 nations
  private val FdrAlphaPct = 5

  /** The 25 BH step-up critical values |z| must clear at rank i:
    * Φ⁻¹(1 − i·α/(2m)), frozen to full double precision.
    */
  private val fdrCrit: Seq[Double] =
    (1 to FdrM).map(i => invNorm(1 - i * (FdrAlphaPct / 100.0) / (2.0 * FdrM)))

  /** Benjamini-Hochberg FDR control (JRSS-B 1995) across 25
    * simultaneous hypotheses — "which nations' purchase sizes really
    * differ from the rest?", the multiple-testing discipline an
    * experimentation platform applies before anyone reads 25 z-tests
    * off a dashboard. Each nation's Welch z vs the complement comes
    * from per-nation exact integer moments (one map-side-combining
    * pass; the complement's moments are global − nation, no second
    * scan). The step-up rule runs on |z| directly against the FROZEN
    * critical-value ladder Φ⁻¹(1−iα/2m) (p_(i) ≤ iα/m ⟺ |z|_(i) ≥
    * crit_i), so no runtime normal CDF exists in either engine; the
    * rejection frontier is one window max over the in-ladder ranks.
    */
  private def fdrBh(s: SparkSession, dir: String): DataFrame = {
    // 25 rows; checkpointed so the totals derivation re-reads the
    // moment table, not the orders⋈customer join (one scan pair)
    val per = Checkpoints.round(Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey").cast("long").as("nation"),
        // whole DOLLARS, not cents: sum of squares must fit int64
        // (cents² over millions of orders overflows); still exact
        floor(col("o_totalprice")).cast("long").as("c"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2")))
    val tot = per.agg(sum(col("n")).as("tn"), sum(col("s1")).as("ts1"),
      sum(col("s2")).as("ts2"))
    import org.apache.spark.sql.Column
    def mean(s1: Column, n: Column) = s1.cast("double") / n.cast("double")
    def vr(s2: Column, s1: Column, n: Column) =
      (s2.cast("double") - s1.cast("double") * s1.cast("double") / n.cast("double")) /
        (n - 1).cast("double")
    val z = per.crossJoin(broadcast(tot))
      .select(col("nation"), col("n"),
        ((mean(col("s1"), col("n")) -
          mean(col("ts1") - col("s1"), col("tn") - col("n"))) /
          sqrt(vr(col("s2"), col("s1"), col("n")) / col("n").cast("double") +
            vr(col("ts2") - col("s2"), col("ts1") - col("s1"),
              col("tn") - col("n")) / (col("tn") - col("n")).cast("double")))
          .as("z"))
    val wOrd = Window.orderBy(abs(col("z")).desc, col("nation"))
    val crit = fdrCrit.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (acc, (cv, i)) => when(col("rk") === (i + 1), cv).otherwise(acc)
    }
    val ranked = z.withColumn("rk", row_number().over(wOrd))
      .withColumn("crit", crit)
      .withColumn("hit", when(abs(col("z")) >= col("crit"), col("rk"))
        .otherwise(lit(0L)))
    val frontier = Window.orderBy(lit(1)) // 25 rows — one tiny window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked.withColumn("max_hit", max(col("hit")).over(frontier))
      .select(col("nation"), col("n"), col("z"),
        col("rk").cast("long").as("rk"), col("crit"),
        (col("rk") <= col("max_hit")).as("rejected"))
      .orderBy("rk")
  }

  private val fdrBhOracle: String = {
    val ladder = fdrCrit.zipWithIndex
      .map { case (cv, i) => s"(${i + 1}, CAST($cv AS DOUBLE))" }.mkString(", ")
    s"""WITH per AS MATERIALIZED (
  SELECT CAST(c_nationkey AS BIGINT) AS nation, COUNT(*) AS n,
    CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS s1,
    CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)
      * CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS s2
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s1) AS BIGINT) AS ts1,
    CAST(SUM(s2) AS BIGINT) AS ts2 FROM per
), z AS (
  SELECT nation, n,
    (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
      - CAST(ts1 - s1 AS DOUBLE) / CAST(tn - n AS DOUBLE))
    / sqrt(
      ((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        / CAST(n - 1 AS DOUBLE)) / CAST(n AS DOUBLE)
      + ((CAST(ts2 - s2 AS DOUBLE) - CAST(ts1 - s1 AS DOUBLE) * CAST(ts1 - s1 AS DOUBLE)
          / CAST(tn - n AS DOUBLE)) / CAST(tn - n - 1 AS DOUBLE))
        / CAST(tn - n AS DOUBLE)) AS z
  FROM per, tot
), ladder(rk, crit) AS (VALUES $ladder),
ranked AS (
  SELECT nation, n, z,
    ROW_NUMBER() OVER (ORDER BY abs(z) DESC, nation) AS rk
  FROM z
), hits AS (
  SELECT r.nation, r.n, r.z, r.rk, l.crit,
    CASE WHEN abs(r.z) >= l.crit THEN r.rk ELSE 0 END AS hit
  FROM ranked r JOIN ladder l ON r.rk = l.rk
)
SELECT nation, n, z, rk, crit, rk <= (SELECT MAX(hit) FROM hits) AS rejected
FROM hits ORDER BY rk"""
  }

  // --- Isotonic regression (monotone calibration fit) -----------------
  /** Isotonic regression of purchase propensity on a value-derived
    * score — the monotone calibration fit (PAV) every score-calibration
    * pipeline runs after the reliability bins `t_calibration` stops at.
    * Computed by the EXACT minimax identity (equivalent to
    * pool-adjacent-violators, Robertson et al. 1988):
    *
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} mean(y over bins j..k)
    *
    * which needs no data-dependent iteration — the right shape for an
    * oracle-graded engine (PAV's merge loop is sequential; the minimax
    * is two nested aggregations). Work is O(B³) on the BIN table, and
    * B is bounded (≤ 50 value buckets) no matter how many events feed
    * the bins — the same bounded-lattice contract as the Shapley
    * query. Interval means are single IEEE divisions of exact integer
    * prefix sums, so min/max picks are bit-stable in any engine.
    */
  /** The minimax isotonic fit over a (b, w, p) bin table — factored so
    * the spec can pin the textbook PAV pooling example directly.
    */
  private[queries] def isotonicFit(bins: DataFrame): DataFrame = {
    val win = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins.select(col("b"), col("w"), col("p"),
      sum(col("w")).over(win).as("cw"), sum(col("p")).over(win).as("cp"))
    val lo = pre.select(col("b").as("j"), (col("cw") - col("w")).as("w0"),
      (col("cp") - col("p")).as("p0"))
    val hi = pre.select(col("b").as("k"), col("cw").as("w1"), col("cp").as("p1"))
    val spans = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("p1") - col("p0")).cast("double") /
          (col("w1") - col("w0")).cast("double")).as("r"))
    val idx = bins.select(col("b").as("i"))
    val innerMin = idx.join(spans, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("r")).as("mn"))
    val iso = innerMin.groupBy(col("i")).agg(max(col("mn")).as("iso_rate"))
    bins.join(iso, col("b") === col("i"))
      .select(col("b").as("bin"), col("w").as("n_events"), col("p").as("n_pos"),
        (col("p").cast("double") / col("w").cast("double")).as("raw_rate"),
        col("iso_rate"))
      .orderBy(col("bin"))
  }

  private def isotonic(s: SparkSession, dir: String): DataFrame =
    isotonicFit(Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(cents(col("value")).as("c"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .select(least(lit(49L), expr("c div 200")).as("b"), col("y"))
      .groupBy(col("b")).agg(count(lit(1)).as("w"), sum(col("y")).as("p")))

  private val isotonicOracle: String = s"""WITH bins AS (
  SELECT LEAST(49, CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT) // 200) AS b,
    COUNT(*) AS w,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM events WHERE value IS NOT NULL GROUP BY 1
), pre AS (
  SELECT b, w, p,
    CAST(SUM(w) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
    CAST(SUM(p) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
  FROM bins
), spans AS (
  SELECT lo.b AS j, hi.b AS k,
    CAST(hi.cp - (lo.cp - lo.p) AS DOUBLE) / CAST(hi.cw - (lo.cw - lo.w) AS DOUBLE) AS r
  FROM pre lo JOIN pre hi ON lo.b <= hi.b
), mn AS (
  SELECT i.b AS i, s.j, MIN(s.r) AS mn
  FROM bins i JOIN spans s ON s.j <= i.b AND s.k >= i.b
  GROUP BY 1, 2
), iso AS (
  SELECT i, MAX(mn) AS iso_rate FROM mn GROUP BY 1
)
SELECT bins.b AS bin, w AS n_events, p AS n_pos,
  CAST(p AS DOUBLE) / CAST(w AS DOUBLE) AS raw_rate, iso_rate
FROM bins JOIN iso ON bins.b = iso.i
ORDER BY bin"""

  // --- Poisson-bootstrap CI for the A/B mean difference ---------------
  /** Percentile-bootstrap confidence interval for the A/B
    * mean-difference `q_ab_welch` reads out — the nonparametric
    * companion when the normality behind Welch's t is in doubt. The
    * resampling is the POISSON BOOTSTRAP (each row enters replicate b
    * with multiplicity ~Poisson(1)), the published way to bootstrap a
    * dataset whose size n is unknown to any one task — multinomial
    * resampling needs n up front, Poisson(1) is row-local, which is
    * why it is the standard at data-platform scale.
    *
    * Engine parity is exact end-to-end: the multiplicity comes from a
    * 32-bit md5 slice of (event_id, b) compared against FROZEN integer
    * thresholds `floor(CDF_Poisson(1)(k)·2³²)` (so no float compare
    * can drift), per-replicate sums are exact longs in cents, and each
    * replicate's mean difference is two IEEE divisions of those longs
    * — bit-identical in any engine. CI bounds are nearest-rank order
    * statistics (ranks ⌈0.025B⌉ / ⌈0.975B⌉) of the B=200 replicate
    * diffs.
    *
    * Scale shape: the explode multiplies SCAN-side CPU by B, but the
    * shuffle carries only 4 longs per (replicate, partition) after the
    * map-side combine — state is B×4 longs, corpus-size-independent.
    * B is the accuracy/CPU knob; 200 is the textbook percentile-CI
    * floor.
    */
  private def abBootstrap(s: SparkSession, dir: String): DataFrame = {
    val B = 200
    // u < floor(cdf(k)·2^32)  ⇒  w = k   (Poisson(1), capped at 7)
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L, 4294609777L)
    val armA = conv(substring(md5(col("user_id").cast("string")), 1, 1), 16, 10)
      .cast("int") < 8
    val rows = Tables.events(s, dir)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id"), armA.as("is_a"), cents(col("value")).as("c"))
    val u = conv(substring(md5(concat(col("event_id").cast("string"),
      lit(":"), col("b").cast("string"))), 1, 8), 16, 10).cast("long")
    val w = thresholds.zipWithIndex
      .foldLeft(when(lit(false), 0L)) { case (acc, (t, k)) =>
        if (k == 0) when(col("u") < t, 0L) else acc.when(col("u") < t, k.toLong)
      }.otherwise(7L)
    val rep = rows
      // spread the purchase rows across the cores BEFORE the B=200
      // explode + per-row md5 RNG: the filtered rows fit one scan split,
      // so without this the whole 200x resample stream is hashed on one
      // task (measured 6 tasks / 2.8 s at 32 cores — guide §2.5 input
      // skew). Cores-proportional; integer sums make the result
      // partitioning-invariant.
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("event_id"), col("is_a"), col("c"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("u", u).withColumn("w", w)
      .groupBy("b").agg(
        sum(when(col("is_a"), col("w") * col("c")).otherwise(0L)).as("s_a"),
        sum(when(col("is_a"), col("w")).otherwise(0L)).as("w_a"),
        sum(when(!col("is_a"), col("w") * col("c")).otherwise(0L)).as("s_b"),
        sum(when(!col("is_a"), col("w")).otherwise(0L)).as("w_b"))
    val diffs = rep.select(col("b"),
      ((col("s_a").cast("double") / col("w_a").cast("double")
        - col("s_b").cast("double") / col("w_b").cast("double")) / 100.0).as("d"))
    val rw = Window.orderBy(col("d"), col("b")) // B rows — one tiny sort
    val ranked = diffs.withColumn("rk", row_number().over(rw))
    val lo = ranked.where(col("rk") === 5).select(col("d").as("ci_lo"))
    val hi = ranked.where(col("rk") === 195).select(col("d").as("ci_hi"))
    val point = rows.agg(
        sum(when(col("is_a"), col("c")).otherwise(0L)).as("s_a"),
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), col("c")).otherwise(0L)).as("s_b"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
      .select(((col("s_a").cast("double") / col("n_a").cast("double")
        - col("s_b").cast("double") / col("n_b").cast("double")) / 100.0)
        .as("diff_mean"))
    point.crossJoin(lo).crossJoin(hi)
      .select(col("diff_mean"), col("ci_lo"), col("ci_hi"),
        lit(B.toLong).as("b_reps"))
  }

  private val abBootstrapOracle: String = {
    val ts = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L)
    val wCase = "CASE " + ts.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString(" ") + " ELSE 7 END"
    s"""WITH src AS (
  SELECT event_id,
    (strpos('0123456789abcdef',
      substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) < 8 AS is_a,
    CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), ex AS (
  SELECT is_a, c,
    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':' ||
      CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u, b
  FROM src, (SELECT UNNEST(range(0, 200)) AS b)
), wt AS (
  SELECT is_a, c, b, $wCase AS w FROM ex
), rep AS (
  SELECT b,
    CAST(SUM(CASE WHEN is_a THEN w * c ELSE 0 END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN is_a THEN w ELSE 0 END) AS BIGINT) AS w_a,
    CAST(SUM(CASE WHEN NOT is_a THEN w * c ELSE 0 END) AS BIGINT) AS s_b,
    CAST(SUM(CASE WHEN NOT is_a THEN w ELSE 0 END) AS BIGINT) AS w_b
  FROM wt GROUP BY b
), diffs AS (
  SELECT b, (CAST(s_a AS DOUBLE) / CAST(w_a AS DOUBLE)
    - CAST(s_b AS DOUBLE) / CAST(w_b AS DOUBLE)) / ${D("100")} AS d
  FROM rep
), ranked AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d, b) AS rk FROM diffs
), point AS (
  SELECT (CAST(SUM(CASE WHEN is_a THEN c ELSE 0 END) AS DOUBLE)
      / CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS DOUBLE)
    - CAST(SUM(CASE WHEN NOT is_a THEN c ELSE 0 END) AS DOUBLE)
      / CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS DOUBLE))
    / ${D("100")} AS diff_mean
  FROM src
)
SELECT point.diff_mean,
  (SELECT d FROM ranked WHERE rk = 5) AS ci_lo,
  (SELECT d FROM ranked WHERE rk = 195) AS ci_hi,
  CAST(200 AS BIGINT) AS b_reps
FROM point"""
  }

  // --- Kendall's tau-b (rank correlation, pair-concordance form) ------
  /** Kendall's tau-b between monthly revenue and monthly order count —
    * completes the rank-statistics suite (Spearman = rank Pearson,
    * Mann-Whitney = rank sum, this = pair concordance; tau is the one
    * with an unbiased small-sample interpretation). Scale shape: the
    * O(n²) pair join runs AFTER the groupBy collapses orders to the
    * months-cardinality series — the time dimension is bounded (~1.2k
    * pairs per century of months) no matter how many fact rows feed
    * it, the same post-agg-pairs contract as `ev_theil_sen`. Signs and
    * pair counts are exact integers (cents / counts); tau_b is one
    * final double division over them, so oracle parity is bit-exact.
    */
  private def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val m = Tables(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sum(cents(col("o_totalprice"))).as("x"), count(lit(1)).as("y"))
    val a = m.select(col("mth").as("m1"), col("x").as("x1"), col("y").as("y1"))
    val b = m.select(col("mth").as("m2"), col("x").as("x2"), col("y").as("y2"))
    def sgn(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      when(p < q, -1L).when(p > q, 1L).otherwise(0L)
    val pairs = a.join(b, col("m1") < col("m2"))
      .select(sgn(col("x1"), col("x2")).as("sx"),
        sgn(col("y1"), col("y2")).as("sy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    pairs.agg(
        count(lit(1)).as("n0"),
        sum(when(col("sx") * col("sy") === 1, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("sx") * col("sy") === -1, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("sx") === 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ties_y"))
      .select(col("n0"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        (d(col("concordant") - col("discordant"))
          / sqrt(d(col("n0") - col("ties_x")) * d(col("n0") - col("ties_y"))))
          .as("tau_b"))
  }

  private val kendallTauOracle: String = s"""WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mth,
    CAST(SUM(CAST(FLOOR(o_totalprice * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS x,
    COUNT(*) AS y
  FROM orders GROUP BY 1
), p AS (
  SELECT
    CASE WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END AS sx,
    CASE WHEN a.y < b.y THEN -1 WHEN a.y > b.y THEN 1 ELSE 0 END AS sy
  FROM m a JOIN m b ON a.mth < b.mth
), agg AS (
  SELECT COUNT(*) AS n0,
    CAST(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
    CAST(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
    CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
    CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
  FROM p
)
SELECT n0, concordant, discordant, ties_x, ties_y,
  CAST(concordant - discordant AS DOUBLE)
    / sqrt(CAST(n0 - ties_x AS DOUBLE) * CAST(n0 - ties_y AS DOUBLE)) AS tau_b
FROM agg"""

  // --- sequential probability ratio test (SPRT) -----------------------
  /** Wald's SPRT run per experiment arm (users split by id parity) on
    * the purchase-conversion stream: after every event the cumulative
    * log-likelihood ratio between H₁ (p = 0.21) and H₀ (p = 0.19) is
    * checked against the decision boundaries ±ln 19 (α = β = 0.05);
    * the query reports WHERE each arm's test first concludes — the
    * early-stopping readout that lets an A/B test end weeks before a
    * fixed-horizon test would. Since each observation adds one of two
    * CONSTANTS to the LLR, the running LLR is an integer combination
    * cum₊·K₊ + (n − cum₊)·K₋ of nano-floored constants — so the whole
    * trajectory needs only running counts, which come from
    * [[graft.operators.Ids.prefixSum]] (range-partition + offset
    * fold): NO per-arm window partition ever holds the stream, the
    * property that keeps this exact at 100 TB where a 2-partition
    * window would serialize. Boundary comparisons are integer,
    * engine-independent.
    */
  private[queries] val SprtP0 = 0.19
  private[queries] val SprtP1 = 0.21
  private[queries] val SprtKp = math.floor(math.log(SprtP1 / SprtP0) * 1e9).toLong
  private[queries] val SprtKn =
    math.floor(math.log((1 - SprtP1) / (1 - SprtP0)) * 1e9).toLong
  private[queries] val SprtA = math.floor(math.log(19.0) * 1e9).toLong
  private[queries] val SprtB = -SprtA

  private def sprt(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      pmod(col("user_id"), lit(2L)).as("arm"),
      col("ts"), col("event_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
    val order = Seq(col("ts"), col("event_id"))
    val withCum = graft.operators.Ids.prefixSum(e, order, "cumx", Some("x"), Seq("arm"))
    graft.operators.Ids.prefixSum(withCum, order, "n", by = Seq("arm"))
      .withColumn("llr_nano",
        col("cumx") * lit(SprtKp) + (col("n") - col("cumx")) * lit(SprtKn))
      .where(col("llr_nano") >= SprtA || col("llr_nano") <= SprtB)
      .select(col("arm"),
        struct(col("n"), col("cumx"), col("llr_nano")).as("st"))
      .groupBy(col("arm")).agg(min(col("st")).as("m"))
      .select(col("arm"), col("m.n").as("n_at_decision"),
        col("m.cumx").as("conversions"), col("m.llr_nano").as("llr_nano"),
        when(col("m.llr_nano") >= SprtA, "accept_h1")
          .otherwise("accept_h0").as("decision"))
      .orderBy("arm")
  }

  private[queries] val sprtOracle: String = s"""WITH e AS (
  SELECT user_id % 2 AS arm, ts, event_id,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
), runs AS (
  SELECT arm,
    ROW_NUMBER() OVER (PARTITION BY arm ORDER BY ts, event_id) AS n,
    CAST(SUM(x) OVER (PARTITION BY arm ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumx
  FROM e
), llr AS (
  SELECT arm, n, cumx,
    cumx * ($SprtKp) + (n - cumx) * ($SprtKn) AS llr_nano
  FROM runs
), crossed AS (
  SELECT arm, n, cumx, llr_nano FROM llr
  WHERE llr_nano >= $SprtA OR llr_nano <= $SprtB
), firstc AS (
  SELECT arm, MIN(n) AS nmin FROM crossed GROUP BY 1
)
SELECT c.arm, c.n AS n_at_decision, c.cumx AS conversions, c.llr_nano,
  CASE WHEN c.llr_nano >= $SprtA THEN 'accept_h1'
       ELSE 'accept_h0' END AS decision
FROM crossed c JOIN firstc f ON c.arm = f.arm AND c.n = f.nmin
ORDER BY c.arm"""

  // --- Kruskal–Wallis k-group rank test -------------------------------
  /** Kruskal–Wallis H over the FIVE order priorities: does fulfillment
    * latency differ in location across priority classes — the k-group
    * generalization of q_mann_whitney, on ranks so outliers can't buy
    * significance. The latency domain is bounded (a few hundred day
    * counts), so ranks come from per-value COUNTS, never a row sort:
    * the midrank of value v in DOUBLED units is the exact integer
    * 2·cum₍<v₎ + cnt(v) + 1, and each group's rank sum is a conditional
    * aggregate over the value table. The five per-group H terms are
    * summed in FIXED order (one row, five pinned columns — never a
    * float aggregation whose order the engine picks), and the tie
    * correction Σ(t³−t) is an exact integer. */
  private val KwGroups =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("v"),
        col("o_orderpriority").as("g"))
    val perVAggs = KwGroups.zipWithIndex.map { case (p, i) =>
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"c$i")
    } :+ count(lit(1)).as("cnt")
    val perV = li.groupBy(col("v")).agg(perVAggs.head, perVAggs.tail: _*)
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("cumb", coalesce(sum(col("cnt")).over(wv), lit(0L)))
      .withColumn("rank2", lit(2L) * col("cumb") + col("cnt") + 1L)
    val aggs = KwGroups.indices.flatMap { i =>
      Seq(sum(col(s"c$i") * col("rank2")).as(s"r2_$i"),
        sum(col(s"c$i")).as(s"n_$i"))
    } ++ Seq(sum(col("cnt")).as("n"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_sum"))
    val one = ranked.agg(aggs.head, aggs.tail: _*)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val terms = KwGroups.indices.map { i =>
      (d(col(s"r2_$i")) / lit(2.0)) * (d(col(s"r2_$i")) / lit(2.0)) /
        d(col(s"n_$i"))
    }.reduce(_ + _) // fixed left-to-right order over the pinned columns
    one.select(col("n"), col("tie_sum"),
        (lit(12.0) / (d(col("n")) * (d(col("n")) + 1.0)) * terms -
          lit(3.0) * (d(col("n")) + 1.0)).as("h"))
      .withColumn("c_ties",
        lit(1.0) - d(col("tie_sum")) /
          (d(col("n")) * d(col("n")) * d(col("n")) - d(col("n"))))
      .withColumn("h_corrected", col("h") / col("c_ties"))
      .select(col("n"), col("tie_sum"), col("h"), col("h_corrected"))
  }

  private val kruskalWallisOracle: String = {
    val cSums = KwGroups.zipWithIndex.map { case (p, i) =>
      s"CAST(SUM(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
    }.mkString(",\n    ")
    val gAggs = KwGroups.indices.map { i =>
      s"CAST(SUM(c$i * rank2) AS BIGINT) AS r2_$i, CAST(SUM(c$i) AS BIGINT) AS n_$i"
    }.mkString(",\n    ")
    val terms = KwGroups.indices.map { i =>
      s"(CAST(r2_$i AS DOUBLE) / ${D("2.0")}) * (CAST(r2_$i AS DOUBLE) / ${D("2.0")}) / CAST(n_$i AS DOUBLE)"
    }.mkString("\n      + ")
    s"""WITH li AS (
  SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
      CAST(l_shipdate AS DATE)) AS BIGINT) AS v,
    o_orderpriority AS g
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), perv AS (
  SELECT v,
    $cSums,
    COUNT(*) AS cnt
  FROM li GROUP BY 1
), ranked AS (
  SELECT *,
    2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      + cnt + 1 AS rank2
  FROM perv
), agg AS (
  SELECT
    $gAggs,
    CAST(SUM(cnt) AS BIGINT) AS n,
    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
  FROM ranked
), h0 AS (
  SELECT n, tie_sum,
    ${D("12.0")} / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + ${D("1.0")}))
      * ($terms)
      - ${D("3.0")} * (CAST(n AS DOUBLE) + ${D("1.0")}) AS h
  FROM agg
)
SELECT n, tie_sum, h,
  h / (${D("1.0")} - CAST(tie_sum AS DOUBLE)
    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      - CAST(n AS DOUBLE))) AS h_corrected
FROM h0"""
  }

  // --- KMV (theta) sketch set intersection ----------------------------
  /** Pairwise audience-overlap estimates between the five event types
    * from K-Minimum-Values sketches: |A∩B| without an exact distinct —
    * the sketch algebra HLL can't do (HLL unions; KMV/theta also
    * INTERSECTS, Beyer et al. SIGMOD'07, the Apache DataSketches theta
    * design). Build: [[graft.plans.KMinValuesAgg]] keeps the K smallest
    * distinct 32-bit hashes per type under map-side partial
    * aggregation — each task ships ≤K longs regardless of scan size.
    * Estimate: for each pair, the union sketch is the K smallest of
    * the merged values with θ = h₍K₎/2³², est|A∪B| = (K−1)/θ, and
    * est|A∩B| = (ρ/K)·est|A∪B| where ρ counts union-sketch members
    * present in both sides. When the merged set fits inside K the
    * sketch IS the union and both estimates are exact counts. All
    * estimator arithmetic is double trees over exact longs, shared
    * with the oracle; everything after the sketch build touches
    * ≤ 5·K rows.
    */
  private val KmvK = 256

  private def kmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val sk = Tables.events(s, dir)
      .select(col("event_type").as("t"), h.as("h"))
      .groupBy(col("t"))
      .agg(graft.plans.KMinValuesAgg.kmin(col("h"), KmvK).as("ks"))
      .select(col("t"), explode(col("ks")).as("h"))
    val types = sk.select(col("t")).distinct()
    val pairs = types.select(col("t").as("ta"))
      .crossJoin(types.select(col("t").as("tb")))
      .where(col("ta") < col("tb"))
    val m = broadcast(pairs)
      .join(sk, col("t") === col("ta") || col("t") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("h")).agg(count(lit(1)).as("cnt"))
    val wr = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
    val r = m.withColumn("rk", row_number().over(wr))
    val agg = r.groupBy(col("ta"), col("tb")).agg(
      count(lit(1)).as("n_merged"),
      max(when(col("rk") <= KmvK, col("rk"))).as("ku"),
      max(when(col("rk") <= KmvK, col("h"))).as("kth"),
      sum(when(col("rk") <= KmvK && col("cnt") === 2, 1L).otherwise(0L))
        .as("rho"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    agg
      .withColumn("est_union",
        when(col("n_merged") <= KmvK, d(col("n_merged")))
          .otherwise(lit((KmvK - 1).toLong * 4294967296L).cast("double")
            / d(col("kth"))))
      .select(col("ta"), col("tb"), col("n_merged"), col("ku"), col("kth"),
        col("rho"), col("est_union"),
        (d(col("rho")) / d(col("ku")) * col("est_union")).as("est_inter"))
      .orderBy("ta", "tb")
  }

  private val kmvIntersectOracle: String = s"""WITH ev AS (
  SELECT event_type AS t,
    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
      AS h
  FROM events
), dh AS (
  SELECT DISTINCT t, h FROM ev
), sk AS (
  SELECT t, h FROM (
    SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) AS srk
    FROM dh
  ) WHERE srk <= $KmvK
), ty AS (
  SELECT DISTINCT t FROM sk
), pairs AS (
  SELECT a.t AS ta, b.t AS tb FROM ty a JOIN ty b ON a.t < b.t
), m AS (
  SELECT p.ta, p.tb, s.h, COUNT(*) AS cnt
  FROM pairs p JOIN sk s ON s.t = p.ta OR s.t = p.tb
  GROUP BY 1, 2, 3
), r AS (
  SELECT ta, tb, h, cnt,
    ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
  FROM m
), agg AS (
  SELECT ta, tb, COUNT(*) AS n_merged,
    CAST(MAX(CASE WHEN rk <= $KmvK THEN rk END) AS BIGINT) AS ku,
    CAST(MAX(CASE WHEN rk <= $KmvK THEN h END) AS BIGINT) AS kth,
    CAST(SUM(CASE WHEN rk <= $KmvK AND cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
      AS rho
  FROM r GROUP BY 1, 2
), est AS (
  SELECT ta, tb, n_merged, ku, kth, rho,
    CASE WHEN n_merged <= $KmvK THEN CAST(n_merged AS DOUBLE)
         ELSE CAST(${(KmvK - 1).toLong * 4294967296L} AS DOUBLE)
           / CAST(kth AS DOUBLE) END AS est_union
  FROM agg
)
SELECT ta, tb, n_merged, ku, kth, rho, est_union,
  CAST(rho AS DOUBLE) / CAST(ku AS DOUBLE) * est_union AS est_inter
FROM est ORDER BY ta, tb"""

  // --- one-way ANOVA F (fixed effects, location) ----------------------
  /** One-way ANOVA F over the five order priorities: does line-item
    * QUANTITY differ in mean across priority classes — the parametric
    * location test bracketing q_kruskal_wallis (same 5 groups, ranks)
    * from the normal-theory side. Quantity is a bounded integer
    * (1..50), so every moment is an exact long: per-group n_g and
    * S_g = Σv from pinned conditional aggregates, the global Σv² from
    * one more. SSB = Σ S_g²/n_g − S²/N and SSW = Σv² − Σ S_g²/n_g are
    * then short fixed-order double trees over those longs (the
    * q_kruskal_wallis pinned-column pattern — never a float sum whose
    * order the engine picks), and F = (SSB/(k−1))/(SSW/(N−k)).
    *
    * Scale shape: one shuffle-free map-side-combining aggregate over
    * the fact join; state is 11 longs however large lineitem grows.
    */
  private def anovaF(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_quantity").cast("long").as("v"),
        col("o_orderpriority").as("g"))
    val aggs = KwGroups.zipWithIndex.flatMap { case (p, i) =>
      Seq(sum(when(col("g") === p, 1L).otherwise(0L)).as(s"n_$i"),
        sum(when(col("g") === p, col("v")).otherwise(0L)).as(s"s_$i"))
    } ++ Seq(count(lit(1)).as("n"), sum(col("v")).as("s"),
      sum(col("v") * col("v")).as("ss"))
    val one = li.agg(aggs.head, aggs.tail: _*)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val between = KwGroups.indices.map { i =>
      d(col(s"s_$i")) * d(col(s"s_$i")) / d(col(s"n_$i"))
    }.reduce(_ + _) // fixed left-to-right order over pinned columns
    val k = KwGroups.size
    one.select(col("n"), lit(k.toLong).as("k"),
        (between - d(col("s")) * d(col("s")) / d(col("n"))).as("ss_between"),
        (d(col("ss")) - between).as("ss_within"))
      .select(col("n"), col("k"), col("ss_between"), col("ss_within"),
        ((col("ss_between") / lit((k - 1).toDouble)) /
          (col("ss_within") / (col("n").cast("double") - lit(k.toDouble))))
          .as("f_stat"))
  }

  private val anovaFOracle: String = {
    val gAggs = KwGroups.zipWithIndex.map { case (p, i) =>
      s"CAST(SUM(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n_$i,\n    CAST(SUM(CASE WHEN g = '$p' THEN v ELSE 0 END) AS BIGINT) AS s_$i"
    }.mkString(",\n    ")
    val between = KwGroups.indices.map { i =>
      s"CAST(s_$i AS DOUBLE) * CAST(s_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)"
    }.mkString("\n      + ")
    val k = KwGroups.size
    s"""WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, o_orderpriority AS g
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), agg AS (
  SELECT
    $gAggs,
    COUNT(*) AS n,
    CAST(SUM(v) AS BIGINT) AS s,
    CAST(SUM(v * v) AS BIGINT) AS ss
  FROM li
), parts AS (
  SELECT n, CAST($k AS BIGINT) AS k,
    ($between)
      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      AS ss_between,
    CAST(ss AS DOUBLE) - ($between) AS ss_within
  FROM agg
)
SELECT n, k, ss_between, ss_within,
  (ss_between / ${D((k - 1).toDouble)})
    / (ss_within / (CAST(n AS DOUBLE) - ${D(k.toDouble)})) AS f_stat
FROM parts"""
  }

  // --- Brown–Forsythe / Levene variance-homogeneity test --------------
  /** Brown–Forsythe test over the same five priority groups: do the
    * quantity VARIANCES differ across classes — the spread companion
    * to q_anova_f's location F (ANOVA's own validity rests on
    * homogeneous variances; this is the published robust check, Levene
    * with the group MEDIAN as center). Quantity is a bounded integer,
    * so the whole test runs off the ≤50-row per-value count table:
    * each group's exact median in DOUBLED units comes from cumulative
    * counts (lo = first v with cum ≥ (n+1)÷2, hi = first v with
    * cum ≥ n÷2+1, med2 = lo+hi — midpoint without a fraction), the
    * absolute deviations z = |2v − med2_g| stay integers, and W is the
    * one-way F applied to z via the same pinned fixed-order double
    * tree as q_anova_f. Nothing after the first aggregate touches
    * more than 50 rows.
    */
  private def levene(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_quantity").cast("long").as("v"),
        col("o_orderpriority").as("g"))
    val perVAggs = KwGroups.zipWithIndex.map { case (p, i) =>
      sum(when(col("g") === p, 1L).otherwise(0L)).as(s"c$i")
    }
    val perV = li.groupBy(col("v")).agg(perVAggs.head, perVAggs.tail: _*)
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = KwGroups.indices.foldLeft(perV) { (d0, i) =>
      d0.withColumn(s"cum$i", sum(col(s"c$i")).over(wv))
    }
    // per-group totals (1 tiny row) broadcast back onto the value table
    val totAggs = KwGroups.indices.map(i => max(col(s"cum$i")).as(s"t$i"))
    val tot = cum.agg(totAggs.head, totAggs.tail: _*)
    val withTot = cum.crossJoin(broadcast(tot))
    val medAggs = KwGroups.indices.flatMap { i =>
      Seq(
        min(when(col(s"cum$i") * 2 >= col(s"t$i"), col("v"))).as(s"lo$i"),
        min(when(col(s"cum$i") * 2 >= col(s"t$i") + 1, col("v"))).as(s"hi$i"))
    }
    val med = withTot.agg(medAggs.head, medAggs.tail: _*)
    val med2 = KwGroups.indices.foldLeft(med) { (d0, i) =>
      d0.withColumn(s"med2_$i", col(s"lo$i") + col(s"hi$i"))
    }.select(KwGroups.indices.map(i => col(s"med2_$i")): _*)
    // z-moments per group, still off the count table
    val zBase = perV.crossJoin(broadcast(med2))
    val zAggs = KwGroups.indices.flatMap { i =>
      val z = abs(lit(2L) * col("v") - col(s"med2_$i"))
      Seq(sum(col(s"c$i")).as(s"n_$i"),
        sum(col(s"c$i") * z).as(s"z_$i"),
        sum(col(s"c$i") * z * z).as(s"q_$i"))
    }
    val one = zBase.agg(zAggs.head, zAggs.tail: _*)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val k = KwGroups.size
    val between = KwGroups.indices.map { i =>
      d(col(s"z_$i")) * d(col(s"z_$i")) / d(col(s"n_$i"))
    }.reduce(_ + _)
    val nTot = KwGroups.indices.map(i => col(s"n_$i")).reduce(_ + _)
    val zTot = KwGroups.indices.map(i => col(s"z_$i")).reduce(_ + _)
    val qTot = KwGroups.indices.map(i => col(s"q_$i")).reduce(_ + _)
    one.select(nTot.as("n"), lit(k.toLong).as("k"),
        (between - d(zTot) * d(zTot) / d(nTot)).as("ssb_z"),
        (d(qTot) - between).as("ssw_z"))
      .select(col("n"), col("k"), col("ssb_z"), col("ssw_z"),
        ((col("ssb_z") / lit((k - 1).toDouble)) /
          (col("ssw_z") / (col("n").cast("double") - lit(k.toDouble))))
          .as("w_stat"))
  }

  private val leveneOracle: String = {
    val cSums = KwGroups.zipWithIndex.map { case (p, i) =>
      s"CAST(SUM(CASE WHEN g = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
    }.mkString(",\n    ")
    val cums = KwGroups.indices.map { i =>
      s"CAST(SUM(c$i) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum$i"
    }.mkString(",\n    ")
    val tots = KwGroups.indices.map(i => s"MAX(cum$i) AS t$i").mkString(", ")
    val meds = KwGroups.indices.map { i =>
      s"MIN(CASE WHEN cum$i * 2 >= t$i THEN v END)\n      + MIN(CASE WHEN cum$i * 2 >= t$i + 1 THEN v END) AS med2_$i"
    }.mkString(",\n    ")
    val zAggs = KwGroups.indices.map { i =>
      s"CAST(SUM(c$i) AS BIGINT) AS n_$i,\n    CAST(SUM(c$i * ABS(2 * v - med2_$i)) AS BIGINT) AS z_$i,\n    CAST(SUM(c$i * ABS(2 * v - med2_$i) * ABS(2 * v - med2_$i)) AS BIGINT) AS q_$i"
    }.mkString(",\n    ")
    val between = KwGroups.indices.map { i =>
      s"CAST(z_$i AS DOUBLE) * CAST(z_$i AS DOUBLE) / CAST(n_$i AS DOUBLE)"
    }.mkString("\n      + ")
    val nTot = KwGroups.indices.map(i => s"n_$i").mkString(" + ")
    val zTot = KwGroups.indices.map(i => s"z_$i").mkString(" + ")
    val qTot = KwGroups.indices.map(i => s"q_$i").mkString(" + ")
    val k = KwGroups.size
    s"""WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, o_orderpriority AS g
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), perv AS (
  SELECT v,
    $cSums
  FROM li GROUP BY 1
), cum AS (
  SELECT v,
    ${KwGroups.indices.map(i => s"c$i").mkString(", ")},
    $cums
  FROM perv
), tot AS (
  SELECT $tots FROM cum
), med AS (
  SELECT
    $meds
  FROM cum CROSS JOIN tot
), agg AS (
  SELECT
    $zAggs
  FROM perv CROSS JOIN med
), parts AS (
  SELECT CAST($nTot AS BIGINT) AS n, CAST($k AS BIGINT) AS k,
    ($between)
      - CAST($zTot AS DOUBLE) * CAST($zTot AS DOUBLE)
        / CAST($nTot AS DOUBLE) AS ssb_z,
    CAST($qTot AS DOUBLE) - ($between) AS ssw_z
  FROM agg
)
SELECT n, k, ssb_z, ssw_z,
  (ssb_z / ${D((k - 1).toDouble)})
    / (ssw_z / (CAST(n AS DOUBLE) - ${D(k.toDouble)})) AS w_stat
FROM parts"""
  }

  // --- correlation matrix -------------------------------------------------
  /** Pearson correlation matrix over the four line-item numerics
    * (quantity, price-cents, discount-bps, tax-bps) — the first-look
    * EDA grid beside the rank versions (q_spearman, q_kendall_tau).
    * One pass accumulates every moment as an exact long (all four
    * measures are integers; cross moments peak ~1e18 at sf0.1 —
    * price-cents² is excluded by using dollars for price); each of the
    * 6 pairs is then one fixed double tree over its five longs.
    * Output is the upper triangle as rows — pinned pair order, never
    * an engine-chosen pivot.
    */
  private def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq(
      ("quantity", col("l_quantity").cast("long")),
      ("price_dollars", floor(col("l_extendedprice") + 0.5).cast("long")),
      ("discount_bps", floor(col("l_discount") * 10000 + 0.5).cast("long")),
      ("tax_bps", floor(col("l_tax") * 10000 + 0.5).cast("long")))
    val named = cols.map { case (n, c) => c.as(n) }
    val li = Tables(s, dir, "lineitem").select(named: _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.flatMap { case (n, _) =>
        Seq(sum(col(n)).as(s"s_$n"), sum(col(n) * col(n)).as(s"ss_$n"))
      } ++
      cols.combinations(2).map { case Seq((a, _), (b, _)) =>
        sum(col(a) * col(b)).as(s"sp_${a}_$b")
      }.toSeq
    val m = li.agg(aggs.head, aggs.tail: _*)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val pairs = cols.combinations(2).map { case Seq((a, _), (b, _)) =>
      // cast BEFORE multiplying: n x Sigma-p-squared for the dollar
      // column tops 2^63 as longs; the double-first tree is identical
      // in both engines
      m.select(lit(a).as("x"), lit(b).as("y"),
        ((d(col("n")) * d(col(s"sp_${a}_$b"))
            - d(col(s"s_$a")) * d(col(s"s_$b"))) /
          (sqrt(d(col("n")) * d(col(s"ss_$a"))
              - d(col(s"s_$a")) * d(col(s"s_$a"))) *
           sqrt(d(col("n")) * d(col(s"ss_$b"))
              - d(col(s"s_$b")) * d(col(s"s_$b")))))
          .as("r"))
    }.toSeq
    pairs.reduce(_ union _).orderBy("x", "y")
  }

  private val corrMatrixOracle: String = {
    val defs = Seq(
      ("quantity", "CAST(l_quantity AS BIGINT)"),
      ("price_dollars",
        s"CAST(FLOOR(l_extendedprice + ${D("0.5")}) AS BIGINT)"),
      ("discount_bps",
        s"CAST(FLOOR(l_discount * 10000 + ${D("0.5")}) AS BIGINT)"),
      ("tax_bps", s"CAST(FLOOR(l_tax * 10000 + ${D("0.5")}) AS BIGINT)"))
    val sel = defs.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
    val moments = (Seq("COUNT(*) AS n") ++
      defs.flatMap { case (n, _) =>
        Seq(s"CAST(SUM($n) AS BIGINT) AS s_$n",
          s"CAST(SUM($n * $n) AS BIGINT) AS ss_$n")
      } ++
      defs.map(_._1).combinations(2).map { case Seq(a, b) =>
        s"CAST(SUM($a * $b) AS BIGINT) AS sp_${a}_$b"
      }).mkString(",\n    ")
    val rows = defs.map(_._1).combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS x, '$b' AS y,
  (CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE)
    - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
    / (sqrt(CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
        - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
       * sqrt(CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
        - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))) AS r
FROM m"""
    }.mkString("\nUNION ALL ")
    s"""WITH li AS (
  SELECT
    $sel
  FROM lineitem
), m AS (
  SELECT
    $moments
  FROM li
)
$rows
ORDER BY x, y"""
  }

  // --- ABC (Pareto-class) classification --------------------------------------
  /** ABC classification of parts by revenue: A-parts carry the first
    * 80% of revenue, B the next 15%, C the tail — the inventory-policy
    * cut (count A tightly, C loosely) that generalizes q_pareto80's
    * single 80/20 readout into the full three-class report. Class
    * boundaries test the cumulative revenue BEFORE each part against
    * exact integer cross-multiplications (5·cum_prev < 4·total for A,
    * 20·cum_prev < 19·total for B) so no float compare can reclassify
    * a boundary part; ranking is a total (revenue desc, part) order
    * run through [[graft.operators.Ids.prefixSum]] (range
    * partitions over that order) rather than a part-cardinality
    * partition-less window (r7-verdict sweep).
    */
  private def abcClass(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(cents(col("l_extendedprice"))).as("r"))
    val tot = rev.agg(sum(col("r")).as("total"))
    val classed = graft.operators.Ids.prefixSum(
        rev, Seq(col("r").desc, col("part")), "cum", Some("r"))
      .withColumn("cum_prev", col("cum") - col("r"))
      .drop("cum")
      .crossJoin(broadcast(tot))
      .select(col("part"), col("r"),
        when(col("cum_prev") * 5 < col("total") * 4, "A")
          .when(col("cum_prev") * 20 < col("total") * 19, "B")
          .otherwise("C").as("abc"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    classed.groupBy(col("abc"))
      .agg(count(lit(1)).as("n_parts"), sum(col("r")).as("revenue_cents"))
      .crossJoin(broadcast(tot))
      .select(col("abc"), col("n_parts"), col("revenue_cents"),
        (d(col("revenue_cents")) / d(col("total"))).as("revenue_share"))
      .orderBy("abc")
  }

  private val abcClassOracle: String = s"""WITH rev AS (
  SELECT l_partkey AS part,
    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + ${D("0.5")}) AS BIGINT))
      AS BIGINT) AS r
  FROM lineitem GROUP BY 1
), tot AS (SELECT CAST(SUM(r) AS BIGINT) AS total FROM rev),
classed AS (
  SELECT part, r,
    CASE WHEN cum_prev * 5 < total * 4 THEN 'A'
         WHEN cum_prev * 20 < total * 19 THEN 'B'
         ELSE 'C' END AS abc
  FROM (
    SELECT part, r,
      COALESCE(CAST(SUM(r) OVER (ORDER BY r DESC, part
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        AS cum_prev
    FROM rev
  ) CROSS JOIN tot
)
SELECT abc, COUNT(*) AS n_parts,
  CAST(SUM(r) AS BIGINT) AS revenue_cents,
  CAST(SUM(r) AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE)
    AS revenue_share
FROM classed GROUP BY 1 ORDER BY abc"""

  // --- duplicate-payment detection ------------------------------------------
  /** Duplicate-payment candidates: same customer, order totals within
    * \$500 of each other, order dates within 30 days — the
    * payables-audit screen (double-submitted invoices cluster on
    * near-identical amount + short gap; exact-cent equality is too
    * strict once fees/rounding touch one copy). The self-join is keyed
    * on CUSTOMER alone — per-key fanout is bounded by orders-per-
    * customer (≤ tens, the basket-size bound, same budget as
    * shingling), so the join scales as a hash join with bounded
    * amplification; amount and date gaps are post-filters. Each pair
    * emits once (smaller orderkey first).
    */
  private def duplicatePayments(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey").as("cust"), cents(col("o_totalprice")).as("c"),
        col("o_orderkey").as("ok"),
        expr("unix_millis(o_orderdate) div 86400000").as("d"))
    val a = o.select(col("cust"), col("c").as("c_a"), col("ok").as("ok_a"),
      col("d").as("d_a"))
    val b = o.select(col("cust"), col("c").as("c_b"), col("ok").as("ok_b"),
      col("d").as("d_b"))
    a.join(b, Seq("cust"))
      .where(col("ok_a") < col("ok_b") &&
        abs(col("d_a") - col("d_b")) <= 30 &&
        abs(col("c_a") - col("c_b")) <= 50000)
      .select(col("cust"), col("c_a").as("amount_a_cents"),
        col("c_b").as("amount_b_cents"), col("ok_a"), col("ok_b"),
        abs(col("d_a") - col("d_b")).as("gap_days"))
      .orderBy(col("cust"), col("ok_a"), col("ok_b"))
  }

  private val duplicatePaymentsOracle: String = s"""WITH o AS (
  SELECT o_custkey AS cust,
    CAST(FLOOR(o_totalprice * 100 + ${D("0.5")}) AS BIGINT) AS c,
    o_orderkey AS ok, epoch_ms(o_orderdate) // 86400000 AS d
  FROM orders
)
SELECT a.cust, a.c AS amount_a_cents, b.c AS amount_b_cents,
  a.ok AS ok_a, b.ok AS ok_b, ABS(a.d - b.d) AS gap_days
FROM o a JOIN o b ON a.cust = b.cust AND a.ok < b.ok
WHERE ABS(a.d - b.d) <= 30 AND ABS(a.c - b.c) <= 50000
ORDER BY a.cust, ok_a, ok_b"""

  // --- round-number anomaly (forensic) ---------------------------------------
  /** Round-number share beside q_benford: what fraction of order totals
    * land on exact dollars / exact hundreds, against the ~1% / ~0.01%
    * a smooth price process implies — fabricated or hand-keyed amounts
    * over-index on round numbers long before Benford's first-digit
    * curve bends (the complementary forensic screen). Exact integer
    * modular counts; the excess ratios are two final divisions.
    */
  private def roundNumbers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(cents(col("o_totalprice")).as("c"))
    def dd(c0: org.apache.spark.sql.Column) = c0.cast("double")
    o.agg(count(lit(1)).as("n"),
        sum(when(expr("c % 100") === 0, 1L).otherwise(0L)).as("n_dollar"),
        sum(when(expr("c % 10000") === 0, 1L).otherwise(0L)).as("n_hundred"))
      .select(col("n"), col("n_dollar"), col("n_hundred"),
        (dd(col("n_dollar")) / dd(col("n")) * lit(100.0))
          .as("dollar_exact_x"),
        (dd(col("n_hundred")) / dd(col("n")) * lit(10000.0))
          .as("hundred_exact_x"))
  }

  private val roundNumbersOracle: String = s"""WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + ${D("0.5")}) AS BIGINT) AS c
  FROM orders
)
SELECT COUNT(*) AS n,
  CAST(SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dollar,
  CAST(SUM(CASE WHEN c % 10000 = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hundred,
  CAST(SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) * ${D("100.0")} AS dollar_exact_x,
  CAST(SUM(CASE WHEN c % 10000 = 0 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) * ${D("10000.0")} AS hundred_exact_x
FROM o"""

  // --- heterogeneous treatment effects ------------------------------------
  /** Per-segment treatment effect: the md5-split "treatment" arm's
    * order-value lift within each market segment, each with its own
    * Welch z — the heterogeneity readout after a flat A/B (q_ab_welch)
    * reads neutral: a launch can be +5% for BUILDING and −5% for
    * MACHINERY and net to zero. Per-segment moments are exact longs
    * from one conditional pass; each z is the same fixed double tree
    * as q_ab_welch, evaluated per row of the 5-segment output (never a
    * cross-segment float fold).
    */
  private def hte(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      // WHOLE DOLLARS, not cents: the Sigma c-squared moment of cents
      // overflows int64 at sf0.1 order values (2.5e15 per row)
      .select(col("seg"),
        floor(col("o_totalprice") + 0.5).cast("long").as("c"),
        (conv(substring(md5(col("o_custkey").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("treat"))
    val m = o.groupBy(col("seg")).agg(
      sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("treat"), col("c")).otherwise(0L)).as("s1"),
      sum(when(col("treat"), col("c") * col("c")).otherwise(0L)).as("ss1"),
      sum(when(!col("treat"), 1L).otherwise(0L)).as("n0"),
      sum(when(!col("treat"), col("c")).otherwise(0L)).as("s0"),
      sum(when(!col("treat"), col("c") * col("c")).otherwise(0L)).as("ss0"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    def meanOf(sc: String, nc: String) = d(col(sc)) / d(col(nc))
    def varOf(ssc: String, sc: String, nc: String) =
      (d(col(ssc)) - d(col(sc)) * d(col(sc)) / d(col(nc))) /
        (d(col(nc)) - lit(1.0))
    m.select(col("seg"), col("n1"), col("n0"),
        (meanOf("s1", "n1") - meanOf("s0", "n0")).as("diff_mean_dollars"),
        ((meanOf("s1", "n1") - meanOf("s0", "n0")) /
          sqrt(varOf("ss1", "s1", "n1") / d(col("n1"))
            + varOf("ss0", "s0", "n0") / d(col("n0")))).as("z"))
      .orderBy("seg")
  }

  private val hteOracle: String = s"""WITH o AS (
  SELECT c_mktsegment AS seg,
    CAST(FLOOR(o_totalprice + ${D("0.5")}) AS BIGINT) AS c,
    (strpos('0123456789abcdef',
      substring(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1) < 8 AS treat
  FROM orders JOIN customer ON o_custkey = c_custkey
), m AS (
  SELECT seg,
    CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN treat THEN c ELSE 0 END) AS BIGINT) AS s1,
    CAST(SUM(CASE WHEN treat THEN c * c ELSE 0 END) AS BIGINT) AS ss1,
    CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN NOT treat THEN c ELSE 0 END) AS BIGINT) AS s0,
    CAST(SUM(CASE WHEN NOT treat THEN c * c ELSE 0 END) AS BIGINT) AS ss0
  FROM o GROUP BY 1
)
SELECT seg, n1, n0,
  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS diff_mean_dollars,
  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
  / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - ${D("1.0")}))
      / CAST(n1 AS DOUBLE)
    + ((CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - ${D("1.0")}))
      / CAST(n0 AS DOUBLE)) AS z
FROM m ORDER BY seg"""

  // --- leaderboard rank churn ---------------------------------------------
  /** Top-20 parts by revenue in the 1998+ period, annotated with their
    * pre-1998 rank and a churn verdict (new / up / down / flat) — the
    * leaderboard-stability readout every weekly business review wants
    * beside the raw top-k (is the head STABLE or rotating?). Both
    * period leaderboards are exact-cents aggregates ranked by
    * (revenue desc, partkey) — a total order, so ranks can't tie-break
    * differently across engines; the previous rank joins back by part.
    */
  private def rankChurn(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("part"),
        cents(col("l_extendedprice")).as("c"),
        (col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
          .as("post"))
    def revOf(post: Boolean) =
      li.where(col("post") === post)
        .groupBy(col("part")).agg(sum(col("c")).as("rev"))
    // top-20 via orderBy+limit (map-side top-k merge); rank_now's
    // row_number runs over the 20 survivors only
    val now = revOf(post = true)
      .orderBy(col("rev").desc, col("part")).limit(20)
      .withColumn("rank_now", row_number().over(
        Window.orderBy(col("rev").desc, col("part"))))
      .select(col("part"), col("rank_now"), col("rev").as("rev_cents"))
    // rank_prev only matters for the 20 candidates: count each one's
    // strict predecessors in the (rev desc, part) order with a 20-row
    // broadcast against the prev aggregate — never a part-cardinality
    // global rank window (r7-verdict sweep)
    val prevAgg = revOf(post = false)
    val cand = now.select(col("part").as("cpart"))
      .join(prevAgg.select(col("part").as("cpart"),
        col("rev").as("crev")), Seq("cpart"))
    val earlierCnt = prevAgg.join(broadcast(cand),
        col("rev") > col("crev") ||
          (col("rev") === col("crev") && col("part") < col("cpart")))
      .groupBy(col("cpart")).agg(count(lit(1)).as("n_earlier"))
    val prevRank = cand.select(col("cpart"))
      .join(earlierCnt, Seq("cpart"), "left")
      .select(col("cpart").as("part"),
        (coalesce(col("n_earlier"), lit(0L)) + 1L).cast("int")
          .as("rank_prev"))
    now.join(prevRank, Seq("part"), "left")
      .select(col("part"), col("rank_now"), col("rank_prev"),
        col("rev_cents"),
        when(col("rank_prev").isNull, "new")
          .when(col("rank_prev") > col("rank_now"), "up")
          .when(col("rank_prev") < col("rank_now"), "down")
          .otherwise("flat").as("churn"))
      .orderBy("rank_now")
  }

  private val rankChurnOracle: String = s"""WITH li AS (
  SELECT l_partkey AS part,
    CAST(FLOOR(l_extendedprice * 100 + ${D("0.5")}) AS BIGINT) AS c,
    o_orderdate >= TIMESTAMP '1998-01-01' AS post
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), now_ AS (
  SELECT part, rk AS rank_now, rev AS rev_cents FROM (
    SELECT part, CAST(SUM(c) AS BIGINT) AS rev,
      ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, part) AS rk
    FROM li WHERE post GROUP BY part
  ) WHERE rk <= 20
), prev AS (
  SELECT part, ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, part) AS rank_prev
  FROM li WHERE NOT post GROUP BY part
)
SELECT n.part, CAST(n.rank_now AS BIGINT) AS rank_now,
  CAST(p.rank_prev AS BIGINT) AS rank_prev, n.rev_cents,
  CASE WHEN p.rank_prev IS NULL THEN 'new'
       WHEN p.rank_prev > n.rank_now THEN 'up'
       WHEN p.rank_prev < n.rank_now THEN 'down'
       ELSE 'flat' END AS churn
FROM now_ n LEFT JOIN prev p ON n.part = p.part
ORDER BY rank_now"""

  // --- ROC AUC (rank formulation) ---------------------------------------
  /** ROC AUC of order value as a classifier score for the URGENT/HIGH
    * priority label — by the exact rank identity
    * AUC = (R₁ − n₁(n₁+1)/2) / (n₁n₀) with R₁ the positive ranks
    * (Mann–Whitney's U rescaled), which needs NO threshold sweep and
    * handles ties by midrank. Built off the per-value count table in
    * DOUBLED rank units (the q_kruskal_wallis machinery) so every
    * intermediate is an exact long: 2·AUC·n₁n₀ = R₁₂ − n₁(n₁+1) is an
    * integer identity both engines compute bit-for-bit before the one
    * final division.
    */
  private def auc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(cents(col("o_totalprice")).as("v"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("pos"))
    val perV = o.groupBy(col("v")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("pos"), 1L).otherwise(0L)).as("p"))
    // the per-value table is price-cardinality (grows with scale): the
    // exclusive cumulative count comes from Ids.prefixSum's inclusive
    // scan (cum − cnt), never a partition-less window (r7 sweep)
    val ranked = graft.operators.Ids.prefixSum(perV, Seq(col("v")), "cum", Some("cnt"))
      .withColumn("rank2",
        lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L)
    val agg = ranked.agg(
      sum(col("p")).as("n1"),
      sum(col("cnt") - col("p")).as("n0"),
      sum(col("p") * col("rank2")).as("r12"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    agg.select(col("n1"), col("n0"),
      (d(col("r12") - col("n1") * (col("n1") + 1)) /
        (lit(2.0) * d(col("n1")) * d(col("n0")))).as("auc"))
  }

  private val aucOracle: String = s"""WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + ${D("0.5")}) AS BIGINT) AS v,
    o_orderpriority IN ('1-URGENT', '2-HIGH') AS pos
  FROM orders
), perv AS (
  SELECT v, COUNT(*) AS cnt,
    CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
  FROM o GROUP BY 1
), ranked AS (
  SELECT v, cnt, p,
    2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      + cnt + 1 AS rank2
  FROM perv
), agg AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n1,
    CAST(SUM(cnt - p) AS BIGINT) AS n0,
    CAST(SUM(p * rank2) AS BIGINT) AS r12
  FROM ranked
)
SELECT n1, n0,
  CAST(r12 - n1 * (n1 + 1) AS DOUBLE)
    / (${D("2.0")} * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS auc
FROM agg"""

  // --- categorical mutual information ------------------------------------
  /** Mutual information (and its normalized form) between market
    * segment and order priority — "does WHO you are predict HOW you
    * order", the feature-selection readout beside q_chisq_indep's
    * yes/no and q_cramers_v's effect size (MI is the information-units
    * answer). Each cell term n_ij·ln(n_ij·N / (n_i·n_j)) runs on exact
    * integer ratios, is floored to nano-NATS and integer-summed (the
    * unbounded-float-sum convention; the 25-cell grid is aggregated,
    * never trusted to engine float order), and MI = that sum / (N·1e9).
    * Entropies for the normalization take the same path.
    */
  private def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"), col("o_orderpriority").as("pri"))
    val cells = o.groupBy(col("seg"), col("pri"))
      .agg(count(lit(1)).as("nij"))
    val margI = cells.groupBy(col("seg")).agg(sum(col("nij")).as("ni"))
    val margJ = cells.groupBy(col("pri")).agg(sum(col("nij")).as("nj"))
    val tot = cells.agg(sum(col("nij")).as("nn"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val terms = cells
      .join(broadcast(margI), Seq("seg"))
      .join(broadcast(margJ), Seq("pri"))
      .crossJoin(broadcast(tot))
      .select(col("nij"), col("ni"), col("nj"), col("nn"),
        floor(d(col("nij")) *
          log(d(col("nij")) * d(col("nn")) / (d(col("ni")) * d(col("nj"))))
          * 1e9).cast("long").as("mi_nano"),
        floor(d(col("nij")) * log(d(col("nij")) / d(col("nn"))) * 1e9)
          .cast("long").as("hij_nano"))
    terms.agg(max(col("nn")).as("n"),
        sum(col("mi_nano")).as("mi_sum"), sum(col("hij_nano")).as("hj_sum"))
      .select(col("n"),
        (d(col("mi_sum")) / lit(1e9) / d(col("n"))).as("mi_nats"),
        (d(col("mi_sum")) / -col("hj_sum").cast("double")).as("nmi_joint"))
  }

  private val mutualInfoOracle: String = s"""WITH o AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri
  FROM orders JOIN customer ON o_custkey = c_custkey
), cells AS (
  SELECT seg, pri, COUNT(*) AS nij FROM o GROUP BY 1, 2
), mi_ AS (SELECT seg, CAST(SUM(nij) AS BIGINT) AS ni FROM cells GROUP BY 1),
mj AS (SELECT pri, CAST(SUM(nij) AS BIGINT) AS nj FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM cells),
terms AS (
  SELECT c.nij, t.nn,
    CAST(FLOOR(CAST(c.nij AS DOUBLE)
      * ln(CAST(c.nij AS DOUBLE) * CAST(t.nn AS DOUBLE)
        / (CAST(i.ni AS DOUBLE) * CAST(j.nj AS DOUBLE))) * ${D("1e9")})
      AS BIGINT) AS mi_nano,
    CAST(FLOOR(CAST(c.nij AS DOUBLE)
      * ln(CAST(c.nij AS DOUBLE) / CAST(t.nn AS DOUBLE)) * ${D("1e9")})
      AS BIGINT) AS hij_nano
  FROM cells c JOIN mi_ i ON c.seg = i.seg JOIN mj j ON c.pri = j.pri
  CROSS JOIN tot t
)
SELECT CAST(MAX(nn) AS BIGINT) AS n,
  CAST(SUM(mi_nano) AS DOUBLE) / ${D("1e9")} / CAST(MAX(nn) AS DOUBLE)
    AS mi_nats,
  CAST(SUM(mi_nano) AS DOUBLE) / -CAST(SUM(hij_nano) AS DOUBLE) AS nmi_joint
FROM terms"""

  // --- log-log discount elasticity --------------------------------------
  /** Price (discount) elasticity of demand: OLS of ln(quantity) on
    * ln(1−discount) over line items — the log-log regression whose
    * slope IS the elasticity (a 1% effective-price cut moves quantity
    * by slope %; the standard revenue-management readout). Both
    * regressors are floored to MICRO units per row (the repo's log
    * convention — MILLI units here, not micro: the n·Σxy cross moment
    * of micro-scaled logs overflows int64 past ~50k rows; milli keeps
    * exactness to sf1 volumes, and DECIMAL(38) sums are the documented
    * upgrade past that), so every OLS moment is an exact long and the
    * slope is one double division; rows at zero discount contribute
    * x = 0 exactly. Elasticity is unitless, so the scales cancel.
    */
  private def elasticity(s: SparkSession, dir: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val pts = Tables(s, dir, "lineitem")
      .select(
        floor(log(lit(1.0) - col("l_discount")) * 1e3).cast("long").as("x"),
        floor(log(col("l_quantity")) * 1e3).cast("long").as("y"))
    val m = pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    m.select(col("n"),
      (d(col("n") * col("sxy") - col("sx") * col("sy")) /
        d(col("n") * col("sxx") - col("sx") * col("sx")))
        .as("elasticity"))
  }

  private val elasticityOracle: String = s"""WITH pts AS (
  SELECT
    CAST(FLOOR(ln(${D("1.0")} - CAST(l_discount AS DOUBLE)) * ${D("1e3")})
      AS BIGINT) AS x,
    CAST(FLOOR(ln(CAST(l_quantity AS DOUBLE)) * ${D("1e3")}) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts
)
SELECT n,
  CAST(n * sxy - sx * sy AS DOUBLE)
    / CAST(n * sxx - sx * sx AS DOUBLE) AS elasticity
FROM m"""

  // --- sample-ratio mismatch (SRM) guard --------------------------------
  /** Sample-ratio-mismatch check for the experiment split every A/B
    * query in this repo hashes on (user_id parity): χ² of the observed
    * arm sizes against the designed 50/50 — the FIRST gate a trustworthy
    * experimentation platform runs, because a biased splitter silently
    * invalidates every downstream p-value (Fabijan et al., "Diagnosing
    * SRM", KDD'19: ~6% of real experiments fail it). χ² = (n₁−n₂)²/N
    * for equal design weights; flag at the 3.84 (α=0.05, df=1) cut,
    * cross-multiplied to exact integers so the verdict can't float-flip:
    * (n₁−n₂)²·100 > 384·N.
    */
  private def srm(s: SparkSession, dir: String): DataFrame = {
    val one = Tables.events(s, dir)
      .select(pmod(col("user_id"), lit(2L)).as("arm"), col("user_id"))
      .groupBy(col("arm")).agg(countDistinct(col("user_id")).as("n"))
      .agg(sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    one.select(col("n1"), col("n2"),
      ((d(col("n1")) - d(col("n2"))) * (d(col("n1")) - d(col("n2"))) /
        (d(col("n1")) + d(col("n2")))).as("chi2"),
      ((col("n1") - col("n2")) * (col("n1") - col("n2")) * lit(100L) >
        lit(384L) * (col("n1") + col("n2"))).as("srm_flag"))
  }

  private val srmOracle: String = """WITH arms AS (
  SELECT user_id % 2 AS arm, COUNT(DISTINCT user_id) AS n
  FROM events GROUP BY 1
), agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n2
  FROM arms
)
SELECT n1, n2,
  (CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
    * (CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS chi2,
  (n1 - n2) * (n1 - n2) * 100 > 384 * (n1 + n2) AS srm_flag
FROM agg"""

  // --- Cochran's Q (k paired binary treatments) ------------------------
  /** Cochran's Q across three paired binary "treatments": did each
    * customer order in 1995, 1997, and 1999 — the k-sample
    * generalization of McNemar over the SAME subjects (panel retention:
    * is activity propensity stable across years, judged within
    * customer so cohort mix can't confound). Q = k(k−1)·Σ(C_j − T/k)²
    * / (k·T − ΣR_i²) with C_j the per-year totals, R_i the per-customer
    * row sums, T the grand total. Every statistic is an exact long from
    * one conditional aggregate pass (R_i² sums via Σ over the bounded
    * 0..3 row-sum domain), and Q is one fixed double tree over pinned
    * per-year columns — the q_kruskal_wallis convention.
    */
  private val CochranYears = Seq(1995, 1997, 1999)

  private def cochranQ(s: SparkSession, dir: String): DataFrame = {
    val k = CochranYears.size
    val flagAggs = CochranYears.zipWithIndex.map { case (y, i) =>
      max(when(year(col("o_orderdate")) === y, 1L).otherwise(0L)).as(s"x$i")
    }
    val perCust = Tables(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(flagAggs.head, flagAggs.tail: _*)
    val rowSum = CochranYears.indices.map(i => col(s"x$i")).reduce(_ + _)
    val aggs = CochranYears.indices.map { i =>
      sum(col(s"x$i")).as(s"c$i")
    } ++ Seq(count(lit(1)).as("n"), sum(rowSum * rowSum).as("r2"))
    val one = perCust.agg(aggs.head, aggs.tail: _*)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val t = CochranYears.indices.map(i => col(s"c$i")).reduce(_ + _)
    val dev = CochranYears.indices.map { i =>
      (d(col(s"c$i")) - d(t) / lit(k.toDouble)) *
        (d(col(s"c$i")) - d(t) / lit(k.toDouble))
    }.reduce(_ + _) // fixed order over pinned year columns
    one.select(col("n"), t.as("t_total"), col("r2"),
        (lit((k * (k - 1)).toDouble) * dev /
          (lit(k.toDouble) * d(t) - d(col("r2")))).as("q_stat"))
  }

  private val cochranQOracle: String = {
    val k = CochranYears.size
    val flags = CochranYears.zipWithIndex.map { case (y, i) =>
      s"CAST(MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = $y THEN 1 ELSE 0 END) AS BIGINT) AS x$i"
    }.mkString(",\n    ")
    val cs = CochranYears.indices.map(i =>
      s"CAST(SUM(x$i) AS BIGINT) AS c$i").mkString(", ")
    val rowSum = CochranYears.indices.map(i => s"x$i").mkString(" + ")
    val t = CochranYears.indices.map(i => s"c$i").mkString(" + ")
    val dev = CochranYears.indices.map { i =>
      s"(CAST(c$i AS DOUBLE) - CAST($t AS DOUBLE) / ${D(k.toDouble)})\n      * (CAST(c$i AS DOUBLE) - CAST($t AS DOUBLE) / ${D(k.toDouble)})"
    }.mkString("\n      + ")
    s"""WITH perc AS (
  SELECT o_custkey,
    $flags
  FROM orders GROUP BY 1
), agg AS (
  SELECT $cs, COUNT(*) AS n,
    CAST(SUM(($rowSum) * ($rowSum)) AS BIGINT) AS r2
  FROM perc
)
SELECT n, CAST($t AS BIGINT) AS t_total, r2,
  ${D((k * (k - 1)).toDouble)} * ($dev)
    / (${D(k.toDouble)} * CAST($t AS DOUBLE) - CAST(r2 AS DOUBLE)) AS q_stat
FROM agg"""
  }

  // --- McNemar (2 paired binary periods) -------------------------------
  /** McNemar's test on the same panel, two periods: customers active in
    * 1996 vs 2000. Only the DISCORDANT pairs carry information —
    * b = active-then-quiet, c = quiet-then-active — and the
    * continuity-corrected statistic is (|b−c|−1)²/(b+c). Exact longs
    * from one aggregate; one double tree.
    */
  private def mcnemar(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(
        max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L))
          .as("p1"),
        max(when(year(col("o_orderdate")) === 2000, 1L).otherwise(0L))
          .as("p2"))
    val one = perCust.agg(
      count(lit(1)).as("n"),
      sum(when(col("p1") === 1 && col("p2") === 0, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("p1") === 0 && col("p2") === 1, 1L).otherwise(0L))
        .as("c"))
    def d(c0: org.apache.spark.sql.Column) = c0.cast("double")
    one.select(col("n"), col("b"), col("c"),
      ((abs(d(col("b")) - d(col("c"))) - lit(1.0)) *
        (abs(d(col("b")) - d(col("c"))) - lit(1.0)) /
        (d(col("b")) + d(col("c")))).as("chi2"))
  }

  private val mcnemarOracle: String = s"""WITH perc AS (
  SELECT o_custkey,
    CAST(MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
      THEN 1 ELSE 0 END) AS BIGINT) AS p1,
    CAST(MAX(CASE WHEN EXTRACT(year FROM o_orderdate) = 2000
      THEN 1 ELSE 0 END) AS BIGINT) AS p2
  FROM orders GROUP BY 1
), agg AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM perc
)
SELECT n, b, c,
  (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - ${D("1.0")})
    * (ABS(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - ${D("1.0")})
    / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) AS chi2
FROM agg"""

  // --- Durbin–Watson residual autocorrelation --------------------------
  /** Durbin–Watson statistic on q_ols_trend's monthly-revenue
    * residuals, per return flag — the diagnostic that says whether the
    * OLS slope's standard errors can be believed (DW ≈ 2 independent
    * residuals; → 0 positive serial correlation, the usual failure of
    * trend fits on autocorrelated revenue). Residuals are one
    * deterministic double tree per month over the EXACT moment longs
    * (ŷ's common denominator n·den is shared within a flag, but the
    * integer numerator overflows at cents scale, so the division
    * happens per-row in doubles — same tree both engines); the two
    * quadratic forms are floored to integer UNITS before summing
    * (cents² at 1e18 leaves no nano headroom), and DW is one final
    * division. Scale-invariant up to that floor.
    */
  private def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        ((year(col("l_shipdate")) - 1992) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("x"))
      .agg(sum(cents(col("l_extendedprice"))).as("y"))
    val fit = monthly.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("n"), col("sx"), col("sy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val resid = monthly.join(fit, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("x"),
        (d(col("y"))
          - (d(col("sy")) - d(col("num")) / d(col("den")) * d(col("sx")))
            / d(col("n"))
          - d(col("num")) / d(col("den")) * d(col("x"))).as("e"))
    val wl = Window.partitionBy(col("l_returnflag")).orderBy(col("x"))
    val terms = resid
      // quadratic forms in DOLLARS: cents-squared overflows the
      // integer floor at sf0.1 (e ~ 1e9.5 cents, e² past 2^63)
      .withColumn("ed", col("e") / lit(100.0))
      .withColumn("ep", lag(col("ed"), 1).over(wl))
      .select(col("l_returnflag"),
        floor(col("ed") * col("ed")).cast("long").as("e2"),
        when(col("ep").isNotNull,
          floor((col("ed") - col("ep")) * (col("ed") - col("ep"))))
          .otherwise(lit(0L)).cast("long").as("de2"))
    terms.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("de2")).as("dw_num"), sum(col("e2")).as("dw_den"))
      .select(col("l_returnflag"), col("n_months"),
        (d(col("dw_num")) / d(col("dw_den"))).as("dw"))
      .orderBy("l_returnflag")
  }

  private val durbinWatsonOracle: String = s"""WITH monthly AS (
  SELECT l_returnflag,
    CAST((EXTRACT(year FROM l_shipdate) - 1992) * 12
      + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS x,
    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + ${D("0.5")}) AS BIGINT))
      AS BIGINT) AS y
  FROM lineitem GROUP BY 1, 2
), fit AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM monthly GROUP BY 1
), f2 AS (
  SELECT l_returnflag, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
    n, sx, sy
  FROM fit
), resid AS (
  SELECT m.l_returnflag, m.x,
    CAST(m.y AS DOUBLE)
      - (CAST(f.sy AS DOUBLE) - CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE)
          * CAST(f.sx AS DOUBLE)) / CAST(f.n AS DOUBLE)
      - CAST(f.num AS DOUBLE) / CAST(f.den AS DOUBLE) * CAST(m.x AS DOUBLE)
      AS e
  FROM monthly m JOIN f2 f ON m.l_returnflag = f.l_returnflag
), rd AS (
  SELECT l_returnflag, x, e / CAST(100 AS DOUBLE) AS ed FROM resid
), terms AS (
  SELECT l_returnflag,
    CAST(FLOOR(ed * ed) AS BIGINT) AS e2,
    CAST(COALESCE(FLOOR((ed - LAG(ed) OVER (PARTITION BY l_returnflag
      ORDER BY x)) * (ed - LAG(ed) OVER (PARTITION BY l_returnflag
      ORDER BY x))), 0) AS BIGINT) AS de2
  FROM rd
)
SELECT l_returnflag, COUNT(*) AS n_months,
  CAST(SUM(de2) AS DOUBLE) / CAST(SUM(e2) AS DOUBLE) AS dw
FROM terms GROUP BY 1 ORDER BY l_returnflag"""

  // --- split-conformal prediction interval ----------------------------
  /** Split-conformal interval for order value predicted from the
    * customer's market segment (Vovk's inductive conformal recipe, the
    * distribution-free coverage guarantee ML-ops now ships around any
    * point model): hash-split orders into train/calibration/test
    * (8/4/4 of 16 md5 nibbles — the same deterministic splitter as
    * t_train_val_split), fit the model on train (per-segment mean in
    * integer cents, `sum div n`), take q̂ = the ⌈(n_cal+1)(1−α)⌉-th
    * smallest absolute calibration residual (exact integer order
    * statistic — ceil in integer math), and report the guaranteed
    * ≥ 1−α empirical coverage on test. α = 0.1. Residual selection is
    * a cumulative count over the residual-value table (the
    * q_weighted_median shape), never a global row sort.
    */
  private def conformal(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"), cents(col("o_totalprice")).as("c"),
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 1), 16, 10)
          .cast("int").as("nib"))
    val train = o.where(col("nib") < 8)
    val cal = o.where(col("nib") >= 8 && col("nib") < 12)
    val test = o.where(col("nib") >= 12)
    val model = train.groupBy(col("seg"))
      .agg(expr("sum(c) div count(1)").as("pred"))
    val calRes = cal.join(broadcast(model), Seq("seg"))
      .select(abs(col("c") - col("pred")).as("r"))
    val perR = calRes.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
    // residual-cardinality scan: inclusive cumulative count via
    // Ids.prefixSum, never a partition-less window (r7 sweep)
    val cum = graft.operators.Ids.prefixSum(perR, Seq(col("r")), "cum", Some("cnt"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // k = ceil((n_cal + 1) * 0.9) in integer math
    val qhat = cum.crossJoin(broadcast(nCal))
      .where(col("cum") >= expr("((n_cal + 1) * 9 + 9) div 10"))
      .agg(min(col("r")).as("q_hat"))
    val cov = test.join(broadcast(model), Seq("seg"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("c") - col("pred")) <= col("q_hat"), 1L)
          .otherwise(0L)).as("n_covered"),
        max(col("q_hat")).as("q_hat_cents"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    cov.crossJoin(broadcast(nTrain)).crossJoin(broadcast(nCal))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        col("q_hat_cents"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
  }

  private val conformalOracle: String = s"""WITH o AS (
  SELECT c_mktsegment AS seg,
    CAST(FLOOR(o_totalprice * 100 + ${D("0.5")}) AS BIGINT) AS c,
    (strpos('0123456789abcdef',
      substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) AS nib
  FROM orders JOIN customer ON o_custkey = c_custkey
), train AS (SELECT * FROM o WHERE nib < 8),
cal AS (SELECT * FROM o WHERE nib >= 8 AND nib < 12),
test AS (SELECT * FROM o WHERE nib >= 12),
model AS (
  SELECT seg, CAST(SUM(c) // COUNT(*) AS BIGINT) AS pred
  FROM train GROUP BY 1
), calres AS (
  SELECT ABS(cal.c - model.pred) AS r FROM cal JOIN model USING (seg)
), perr AS (SELECT r, COUNT(*) AS cnt FROM calres GROUP BY 1),
cum AS (
  SELECT r, CAST(SUM(cnt) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING)
    AS BIGINT) AS cum
  FROM perr
), ncal AS (SELECT COUNT(*) AS n_cal FROM cal),
qhat AS (
  SELECT CAST(MIN(r) AS BIGINT) AS q_hat FROM cum, ncal
  WHERE cum >= ((n_cal + 1) * 9 + 9) // 10
), cov AS (
  SELECT COUNT(*) AS n_test,
    CAST(SUM(CASE WHEN ABS(test.c - model.pred) <= qhat.q_hat
      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
    CAST(MAX(qhat.q_hat) AS BIGINT) AS q_hat_cents
  FROM test JOIN model USING (seg) CROSS JOIN qhat
)
SELECT (SELECT COUNT(*) FROM train) AS n_train,
  (SELECT n_cal FROM ncal) AS n_cal,
  n_test, q_hat_cents,
  CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE) AS coverage
FROM cov"""

  // --- Wilcoxon signed-rank (paired) ----------------------------------
  /** Wilcoxon signed-rank on the 25 per-nation PAIRED revenue
    * differences between the pre-1998 and 1998+ halves of the order
    * history — the paired companion to q_mann_whitney (same customers'
    * nations, before vs after; signs and ranks of |d|, so one outlier
    * nation can't buy significance). Midranks in DOUBLED units from
    * the |d| count table (the q_kruskal_wallis tie trick, exact
    * integers even under ties); W⁺/W⁻ are exact; the normal
    * approximation z = (W⁺−n(n+1)/4)/√(n(n+1)(2n+1)/24) is one double
    * tree. Zero differences are dropped (the standard treatment).
    */
  private def wilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("nk")),
        col("o_custkey") === col("c_custkey"))
      .select(col("nk"), cents(col("o_totalprice")).as("c"),
        (col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
          .as("post"))
    val d = o.groupBy(col("nk")).agg(
        (sum(when(col("post"), col("c")).otherwise(0L)) -
          sum(when(!col("post"), col("c")).otherwise(0L))).as("d"))
      .where(col("d") =!= 0)
      .select(col("nk"), col("d"), abs(col("d")).as("ad"))
    val perV = d.groupBy(col("ad")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
    val wv = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("cumb", coalesce(sum(col("cnt")).over(wv), lit(0L)))
      .withColumn("rank2", lit(2L) * col("cumb") + col("cnt") + 1L)
    val agg = ranked.agg(
      sum(col("cnt")).as("n"),
      sum(col("pos") * col("rank2")).as("wp2"),
      sum((col("cnt") - col("pos")) * col("rank2")).as("wm2"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    agg.select(col("n"), col("wp2"), col("wm2"),
      ((dd(col("wp2")) / lit(2.0) -
        dd(col("n")) * (dd(col("n")) + 1.0) / lit(4.0)) /
        sqrt(dd(col("n")) * (dd(col("n")) + 1.0) *
          (lit(2.0) * dd(col("n")) + 1.0) / lit(24.0))).as("z"))
  }

  private val wilcoxonSignedOracle: String = s"""WITH o AS (
  SELECT c_nationkey AS nk,
    CAST(FLOOR(o_totalprice * 100 + ${D("0.5")}) AS BIGINT) AS c,
    o_orderdate >= TIMESTAMP '1998-01-01' AS post
  FROM orders JOIN customer ON o_custkey = c_custkey
), d AS (
  SELECT nk,
    CAST(SUM(CASE WHEN post THEN c ELSE 0 END)
      - SUM(CASE WHEN NOT post THEN c ELSE 0 END) AS BIGINT) AS d
  FROM o GROUP BY 1
), dd AS (SELECT nk, d, ABS(d) AS ad FROM d WHERE d <> 0),
perv AS (
  SELECT ad, COUNT(*) AS cnt,
    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM dd GROUP BY 1
), ranked AS (
  SELECT ad, cnt, pos,
    2 * COALESCE(CAST(SUM(cnt) OVER (ORDER BY ad
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
      + cnt + 1 AS rank2
  FROM perv
), agg AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
    CAST(SUM(pos * rank2) AS BIGINT) AS wp2,
    CAST(SUM((cnt - pos) * rank2) AS BIGINT) AS wm2
  FROM ranked
)
SELECT n, wp2, wm2,
  (CAST(wp2 AS DOUBLE) / ${D("2.0")}
    - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + ${D("1.0")}) / ${D("4.0")})
  / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + ${D("1.0")})
    * (${D("2.0")} * CAST(n AS DOUBLE) + ${D("1.0")}) / ${D("24.0")}) AS z
FROM agg"""

  // --- two-proportion z-test ------------------------------------------
  /** Two-proportion z-test on conversion: do odd- and even-id users
    * purchase at different rates? The pooled-variance z
    * (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) — the textbook conversion A/B
    * readout that q_ab_welch (means) and q_sprt (sequential) bracket.
    * Counts are 4 exact integers from one conditional aggregate; z is
    * one double tree over them. */
  private def twoPropZ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      pmod(col("user_id"), lit(2L)).as("arm"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("x"))
    val m = e.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("x1"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
      sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("x2"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    m.select(col("n1"), col("x1"), col("n2"), col("x2"),
      (d(col("x1")) / d(col("n1")) - d(col("x2")) / d(col("n2"))).as("diff"),
      ((d(col("x1")) / d(col("n1")) - d(col("x2")) / d(col("n2"))) /
        sqrt((d(col("x1") + col("x2")) / d(col("n1") + col("n2"))) *
          (lit(1.0) - d(col("x1") + col("x2")) / d(col("n1") + col("n2"))) *
          (lit(1.0) / d(col("n1")) + lit(1.0) / d(col("n2"))))).as("z"))
  }

  private val twoPropZOracle: String = {
    val p1 = "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    val p2 = "(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    val pp = "(CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    s"""WITH e AS (
  SELECT user_id % 2 AS arm,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
), m AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS x1,
    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS x2
  FROM e
)
SELECT n1, x1, n2, x2,
  $p1 - $p2 AS diff,
  ($p1 - $p2) / sqrt($pp * (${D("1.0")} - $pp)
    * (${D("1.0")} / CAST(n1 AS DOUBLE) + ${D("1.0")} / CAST(n2 AS DOUBLE)))
    AS z
FROM m"""
  }

  // --- two-sample Kolmogorov–Smirnov test -----------------------------
  /** Two-sample KS test: does fulfillment latency (ship − order date,
    * integer days) differ in distribution between urgent/high-priority
    * orders and the rest? The D statistic is computed
    * as an EXACT integer: at each distinct latency v,
    * |F₁(v) − F₂(v)| = |cum₁·n₂ − cum₂·n₁| / (n₁·n₂), and the max of
    * the integer numerator is found before the single closing
    * division — no float comparison ever decides the argmax. The
    * latency domain is a few hundred distinct day-counts, so the
    * row-level scan collapses to a tiny per-value table BEFORE the
    * ECDF window runs (the window is over the bounded value domain,
    * never over rows — the scale-safe ECDF shape). Also emits the
    * scaled KS statistic √(n₁n₂/(n₁+n₂))·D used for p-value lookup.
    */
  private def ksTest(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("v"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("g"))
    val perV = li.groupBy(col("v")).agg(
      sum(col("g")).as("c1"),
      sum(lit(1L) - col("g")).as("c2"))
    val wv = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perV
      .withColumn("cum1", sum(col("c1")).over(wv))
      .withColumn("cum2", sum(col("c2")).over(wv))
    val tot = perV.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dn"))
      .groupBy(col("n1"), col("n2")).agg(max(col("dn")).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))).as("d"),
        (col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")) *
          sqrt(col("n1").cast("double") * col("n2").cast("double") /
            (col("n1") + col("n2")).cast("double"))).as("ks_stat"))
  }

  private val ksTestOracle: String = s"""WITH li AS (
  SELECT CAST(datediff('day', CAST(o_orderdate AS DATE),
      CAST(l_shipdate AS DATE)) AS BIGINT) AS v,
    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS g
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), perv AS (
  SELECT v, CAST(SUM(g) AS BIGINT) AS c1,
    CAST(SUM(1 - g) AS BIGINT) AS c2
  FROM li GROUP BY 1
), cum AS (
  SELECT v,
    CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
    CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2
  FROM perv
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM perv
), agg AS (
  SELECT n1, n2,
    CAST(MAX(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
  FROM cum, tot GROUP BY 1, 2
)
SELECT n1, n2, d_num,
  CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
  CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
    * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
           / CAST(n1 + n2 AS DOUBLE)) AS ks_stat
FROM agg"""

  // --- distributed weighted median ------------------------------------
  /** Weighted (lower) median of the line price, weighted by quantity,
    * per return flag: the smallest price p with 2·Σ_{x≤p} w(x) ≥ W.
    * Exact, in TWO bounded phases — the distributed shape that survives
    * any scale where a per-group sort cannot:
    *   1. prices collapse to $1000 buckets (one map-side-combined agg);
    *      a per-flag window over the ~hundreds of buckets finds the
    *      bucket where the cumulative weight crosses W/2, carrying the
    *      exact cumulative weight BELOW it;
    *   2. only rows inside that one crossing bucket per flag are
    *      re-aggregated at full price resolution (a broadcast semi-join
    *      keeps the scan pruned), and the crossing price is read off a
    *      window over that single bucket's distinct prices.
    * No window ever sees more than (buckets) or (prices-in-one-bucket)
    * rows. Prices are exact integer cents and weights exact longs, so
    * the ≥ comparisons are integer — engine-independent. The oracle
    * computes the same median in one flat cumulative pass; the
    * two-phase refinement is the scale path, not a different answer.
    */
  private def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables(s, dir, "lineitem").select(
      col("l_returnflag").as("flag"),
      cents(col("l_extendedprice")).as("c"),
      col("l_quantity").cast("long").as("q"))
    val bw = rows.withColumn("b", expr("c div 100000"))
      .groupBy(col("flag"), col("b")).agg(sum(col("q")).as("w"))
    val wTot = bw.groupBy("flag").agg(sum(col("w")).as("wt"))
    val wb = Window.partitionBy("flag").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bw.join(wTot, "flag")
      .withColumn("cum", sum(col("w")).over(wb))
    val crossing = cum.where(col("cum") * 2 >= col("wt"))
      .groupBy(col("flag"))
      .agg(min(col("b")).as("b"))
      .join(cum, Seq("flag", "b"))
      .select(col("flag"), col("b"), (col("cum") - col("w")).as("below"),
        col("wt"))
    val inBucket = rows.withColumn("b", expr("c div 100000"))
      .join(broadcast(crossing), Seq("flag", "b"))
    val wc = Window.partitionBy("flag").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBucket.groupBy(col("flag"), col("c"), col("below"), col("wt"))
      .agg(sum(col("q")).as("wq"))
      .withColumn("cumin", sum(col("wq")).over(wc))
      .where((col("below") + col("cumin")) * 2 >= col("wt"))
      .groupBy(col("flag"))
      .agg(max(col("wt")).as("total_weight"), min(col("c")).as("median_cents"))
      .select(col("flag"), col("total_weight"), col("median_cents"),
        (col("median_cents").cast("double") / lit(100.0)).as("median"))
      .orderBy("flag")
  }

  private val weightedMedianOracle: String = s"""WITH r AS (
  SELECT l_returnflag AS flag,
    CAST(FLOOR(l_extendedprice * 100 + ${D("0.5")}) AS BIGINT) AS c,
    CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
), perc AS (
  SELECT flag, c, CAST(SUM(q) AS BIGINT) AS wq FROM r GROUP BY 1, 2
), cum AS (
  SELECT flag, c, wq,
    CAST(SUM(wq) OVER (PARTITION BY flag ORDER BY c) AS BIGINT) AS cw,
    CAST(SUM(wq) OVER (PARTITION BY flag) AS BIGINT) AS wt
  FROM perc
)
SELECT flag, MAX(wt) AS total_weight,
  CAST(MIN(c) AS BIGINT) AS median_cents,
  CAST(MIN(c) AS DOUBLE) / ${D("100")} AS median
FROM cum WHERE 2 * cw >= wt GROUP BY flag ORDER BY flag"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_sprt", sprt, Some(sprtOracle)),
    QueryDef("q_kruskal_wallis", kruskalWallis, Some(kruskalWallisOracle)),
    QueryDef("q_anova_f", anovaF, Some(anovaFOracle)),
    QueryDef("q_kmv_intersect", kmvIntersect, Some(kmvIntersectOracle)),
    QueryDef("q_levene_bf", levene, Some(leveneOracle)),
    QueryDef("q_conformal", conformal, Some(conformalOracle)),
    QueryDef("q_durbin_watson", durbinWatson, Some(durbinWatsonOracle)),
    QueryDef("q_cochran_q", cochranQ, Some(cochranQOracle)),
    QueryDef("q_srm", srm, Some(srmOracle)),
    QueryDef("q_elasticity", elasticity, Some(elasticityOracle)),
    QueryDef("q_auc", auc, Some(aucOracle)),
    QueryDef("q_rank_churn", rankChurn, Some(rankChurnOracle)),
    QueryDef("q_hte", hte, Some(hteOracle)),
    QueryDef("q_duplicate_payments", duplicatePayments,
      Some(duplicatePaymentsOracle)),
    QueryDef("q_round_numbers", roundNumbers, Some(roundNumbersOracle)),
    QueryDef("q_abc_class", abcClass, Some(abcClassOracle)),
    QueryDef("q_corr_matrix", corrMatrix, Some(corrMatrixOracle)),
    QueryDef("q_mutual_info", mutualInfo, Some(mutualInfoOracle)),
    QueryDef("q_mcnemar", mcnemar, Some(mcnemarOracle)),
    QueryDef("q_wilcoxon_signed", wilcoxonSigned, Some(wilcoxonSignedOracle)),
    QueryDef("q_two_proportion_z", twoPropZ, Some(twoPropZOracle)),
    QueryDef("q_ks_test", ksTest, Some(ksTestOracle)),
    QueryDef("q_weighted_median", weightedMedian, Some(weightedMedianOracle)),
    QueryDef("q_fdr_bh", fdrBh, Some(fdrBhOracle)),
    QueryDef("q_isotonic", isotonic, Some(isotonicOracle)),
    QueryDef("q_ab_bootstrap", abBootstrap, Some(abBootstrapOracle)),
    QueryDef("q_kendall_tau", kendallTau, Some(kendallTauOracle)),
    QueryDef("q_mann_whitney", mannWhitney, Some(mannWhitneyOracle)),
    QueryDef("q_yoy_growth", yoyGrowth, Some(yoyGrowthOracle)),
    QueryDef("q_listagg", listaggQ, Some(listaggOracle)),
    QueryDef("q_spearman", spearman, Some(spearmanOracle)),
    QueryDef("q_did", did, Some(didOracle)),
    QueryDef("q_cuped", cuped, Some(cupedOracle)),
    QueryDef("q_multi_ols", multiOls, Some(multiOlsOracle)),
    QueryDef("q_ab_welch", abWelch, Some(abWelchOracle)),
    QueryDef("q_ship_latency", shipLatency, Some(shipLatencyOracle)),
    QueryDef("q_ols_trend", olsTrend, Some(olsTrendOracle)),
    QueryDef("q_equidepth_hist", equidepthHist, Some(equidepthOracle)),
    QueryDef("q_hll_rollup", hllRollup, Some(hllRollupOracle)),
    QueryDef("q_quantile_rollup", quantileRollup, Some(quantileRollupOracle)),
    QueryDef("q_quantile_rollup_sql", quantileRollupSql,
      Some(quantileRollupOracle)),
    QueryDef("q_kll_ladder", kllLadder, Some(kllLadderOracle)),
    QueryDef("q_dq_expectations", dqExpectations, Some(dqExpectationsOracle)),
    QueryDef("q_skyline", skyline, Some(skylineOracle)),
    QueryDef("q_incremental_agg", incrementalAgg, Some(incrementalAggOracle)),
    QueryDef("q_approx_distinct", approxDistinct, Some(approxDistinctOracle)),
    QueryDef("q_approx_median", approxMedian, Some(approxMedianOracle)),
    QueryDef("q_unpivot", unpivotQ, Some(unpivotOracle)),
    QueryDef("q_mom_growth", momGrowth, Some(momGrowthOracle)),
    QueryDef("q_date_spine", dateSpine, Some(dateSpineOracle)),
    QueryDef("ev_interpolate", interpolate, Some(interpolateOracle)),
    QueryDef("q_profile_stats", profileStats, Some(profileStatsOracle)),
    QueryDef("q_window_firstlast", windowFirstLast, Some(windowFirstLastOracle)),
    QueryDef("q_pivot", pivot, Some(pivotOracle)),
    QueryDef("q_cube", cube, Some(cubeOracle)),
    QueryDef("q_quantiles", quantiles, Some(quantilesOracle)),
    QueryDef("q_grouping_sets", groupingSetsQ, Some(groupingSetsOracle)),
    QueryDef("ev_session_window", sessionWindow, Some(sessionWindowOracle)),
    QueryDef("t_quality_filter", qualityFilter, Some(qualityFilterOracle)))
}
