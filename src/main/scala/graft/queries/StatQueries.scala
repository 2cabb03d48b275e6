package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-QC wave (round 7): market-concentration (HHI), Lorenz
  * curve, Tukey HSD post-hoc, Wald–Wolfowitz runs test, Grubbs outlier
  * screen, process capability (Cp/Cpk), negative-binomial dispersion
  * fit, and a two-sample Poisson rate test. All follow the package's
  * oracle-parity ground rules (QueryDef scaladoc): exact integer
  * aggregates first; where a statistic sums an UNBOUNDED set of float
  * terms (HHI shares²) each term is floored to 1e-12 units and
  * integer-summed; where the set is SMALL and FIXED (Tukey's 5
  * priority groups) the terms are pivoted into pinned columns of one
  * row and added in explicit left-to-right order on both sides.
  */
object StatQueries {

  private def cents(c: Column): Column =
    floor(c * 100 + 0.5).cast("long")
  private def dollars(c: Column): Column =
    floor(c).cast("long")
  private def dd(c: Column): Column = c.cast("double")

  // --- Herfindahl–Hirschman index --------------------------------------
  /** Supplier concentration per nation as an HHI (0..10000 points):
    * HHI = 10000·Σᵢ sᵢ² over supplier revenue shares within the
    * nation. The share² terms form an unbounded per-nation set, so
    * each is floored to 1e-12 units (share ≤ 1 ⇒ term ≤ 1e12, no
    * overflow) and integer-summed — float-order-free. One shuffle to
    * (nation, supplier) revenue, one supplier-cardinality window, one
    * nation-cardinality aggregate; the nation dim joins broadcast.
    */
  private def hhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nk"), col("l_suppkey").as("sk"))
      .agg(sum(cents(col("l_extendedprice"))).as("c"))
    val withTotal = rev.withColumn("total",
      sum(col("c")).over(Window.partitionBy(col("nk"))))
    val share = dd(col("c")) / dd(col("total"))
    val terms = withTotal
      .withColumn("term", floor(share * share * lit(1000000000000L)))
    terms.join(broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("nk") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("term")).as("t"))
      .select(col("nation"), col("n_suppliers"),
        (dd(col("t")) / lit(100000000L)).as("hhi"))
      .orderBy("nation")
  }

  private val hhiOracle = """WITH rev AS (
  SELECT s_nationkey AS nk, l_suppkey AS sk,
    SUM(CAST(FLOOR(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS c
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
), t AS (
  SELECT nk, c, SUM(c) OVER (PARTITION BY nk) AS total FROM rev
), terms AS (
  SELECT nk,
    CAST(FLOOR((CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
      * (CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000000000) AS BIGINT) AS term
  FROM t
)
SELECT n_name AS nation, COUNT(*) AS n_suppliers,
  CAST(SUM(term) AS DOUBLE) / 100000000 AS hhi
FROM terms JOIN nation ON nk = n_nationkey
GROUP BY 1 ORDER BY nation"""

  // --- Lorenz curve ----------------------------------------------------
  /** Lorenz curve of customer revenue per market segment: for each
    * decile d, the revenue share held by the poorest d/10 of the
    * segment's customers (the curve q_gini integrates). Decile
    * assignment is the exact integer ceil(10·i/n) off a deterministic
    * (rev, custkey) rank; cumulative shares are BIGINT window sums
    * over ≤10 rows per segment with ONE final float division.
    */
  private def lorenz(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "orders")
      .select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("rev"))
      .join(Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("rev"), col("o_custkey"))
    val d = rev
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
      .withColumn("decile", expr("(i * 10 + n - 1) div n"))
      .groupBy(col("c_mktsegment").as("segment"), col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("drev"))
    val ws = Window.partitionBy(col("segment")).orderBy(col("decile"))
    d.withColumn("cum", sum(col("drev")).over(ws))
      .withColumn("total", sum(col("drev")).over(Window.partitionBy(col("segment"))))
      .select(col("segment"), col("decile"), col("n_customers"),
        (dd(col("cum")) / dd(col("total"))).as("cum_share"))
      .orderBy("segment", "decile")
  }

  private val lorenzOracle = """WITH rev AS (
  SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
), j AS (
  SELECT o_custkey, rev, c_mktsegment
  FROM rev JOIN customer ON o_custkey = c_custkey
), r AS (
  SELECT c_mktsegment, rev,
    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY rev, o_custkey) AS BIGINT) AS i,
    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM j
), d AS (
  SELECT c_mktsegment AS segment, (i * 10 + n - 1) // n AS decile,
    COUNT(*) AS n_customers, SUM(rev) AS drev
  FROM r GROUP BY 1, 2
)
SELECT segment, decile, n_customers,
  CAST(SUM(drev) OVER (PARTITION BY segment ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
    / CAST(SUM(drev) OVER (PARTITION BY segment) AS DOUBLE) AS cum_share
FROM d ORDER BY segment, decile"""

  // --- Tukey HSD post-hoc ----------------------------------------------
  /** Tukey's honestly-significant-difference statistic for every pair
    * of order priorities over whole-dollar order totals: the studentized
    * range q = |μ̂ᵢ − μ̂ⱼ| / √((MSE/2)·(1/nᵢ + 1/nⱼ)) — the post-hoc
    * that follows q_anova_f. Per-group n/Σx/Σx² are exact BIGINTs; the
    * five within-group SS terms are pivoted into pinned columns of ONE
    * row and added left-to-right (the q_kruskal_wallis float-order
    * pattern), so MSE is bit-identical in both engines. 5 groups → 10
    * output pairs via a broadcast self-join.
    */
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val g = Tables(s, dir, "orders")
      .select(col("o_orderpriority").as("pri"), dollars(col("o_totalprice")).as("d"))
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sx"),
        sum(col("d") * col("d")).as("qx"))
    val ss = dd(col("qx")) - dd(col("sx")) * dd(col("sx")) / dd(col("n"))
    val wide = g.groupBy()
      .agg(
        Priorities.zipWithIndex.map { case (p, i) =>
          sum(when(col("pri") === p, ss)).as(s"ss$i") }.head,
        Priorities.zipWithIndex.drop(1).map { case (p, i) =>
          sum(when(col("pri") === p, ss)).as(s"ss$i") } ++
          Seq(sum(col("n")).as("nn")): _*)
      .select(((col("ss0") + col("ss1") + col("ss2") + col("ss3") + col("ss4"))
        / dd(col("nn") - lit(5L))).as("mse"))
    val a = g.select(col("pri").as("p1"), col("n").as("n1"), col("sx").as("s1"))
    val b = g.select(col("pri").as("p2"), col("n").as("n2"), col("sx").as("s2"))
    a.join(broadcast(b), col("p1") < col("p2"))
      .crossJoin(broadcast(wide))
      .select(col("p1"), col("p2"), col("n1"), col("n2"),
        abs(dd(col("s1")) / dd(col("n1")) - dd(col("s2")) / dd(col("n2"))).as("mean_diff"),
        (abs(dd(col("s1")) / dd(col("n1")) - dd(col("s2")) / dd(col("n2")))
          / sqrt(col("mse") / lit(2L)
            * (lit(1L) / dd(col("n1")) + lit(1L) / dd(col("n2"))))).as("q_stat"))
      .orderBy("p1", "p2")
  }

  private val tukeyHsdOracle = {
    val ssCase = Priorities.zipWithIndex.map { case (p, i) =>
      s"SUM(CASE WHEN pri = '$p' THEN ss END) AS ss$i" }.mkString(",\n    ")
    s"""WITH g AS (
  SELECT o_orderpriority AS pri, COUNT(*) AS n,
    SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS sx,
    SUM(CAST(FLOOR(o_totalprice) AS BIGINT) * CAST(FLOOR(o_totalprice) AS BIGINT)) AS qx
  FROM orders GROUP BY 1
), gss AS (
  SELECT pri, n, sx,
    CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS ss
  FROM g
), wide AS (
  SELECT
    $ssCase,
    SUM(n) AS nn
  FROM gss
), mse AS (
  SELECT (ss0 + ss1 + ss2 + ss3 + ss4) / CAST(nn - 5 AS DOUBLE) AS mse FROM wide
)
SELECT a.pri AS p1, b.pri AS p2, a.n AS n1, b.n AS n2,
  ABS(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
    - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE)) AS mean_diff,
  ABS(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE)
    - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE))
    / SQRT(mse / 2 * (1 / CAST(a.n AS DOUBLE) + 1 / CAST(b.n AS DOUBLE))) AS q_stat
FROM gss a JOIN gss b ON a.pri < b.pri, mse
ORDER BY p1, p2"""
  }

  // --- Wald–Wolfowitz runs test ----------------------------------------
  /** Runs test for randomness of the daily-revenue sign sequence
    * around its median: too few runs = trending, too many =
    * oscillating. The series is the day-cardinality aggregate (not raw
    * rows), so the single global window is bounded; counts and the
    * run-boundary sum are exact integers, and μ_R / σ_R / z are the
    * same literal float expression on both sides (n₁n₂ products stay
    * well under 2⁶³).
    */
  private def runsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val med = daily.agg(expr("percentile(rev, 0.5D)").as("med"))
    val w = Window.orderBy(col("d"))
    val sg = daily.crossJoin(broadcast(med))
      .withColumn("sgn", when(col("rev") > col("med"), 1L).otherwise(0L))
      .withColumn("brk",
        when(lag(col("sgn"), 1).over(w).isNull
          || lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L))
    sg.agg(count(lit(1)).as("n_days"), sum(col("sgn")).as("n_above"),
        (count(lit(1)) - sum(col("sgn"))).as("n_below"), sum(col("brk")).as("runs"))
      .select(col("n_days"), col("n_above"), col("n_below"), col("runs"),
        (dd(lit(2L) * col("n_above") * col("n_below")) / dd(col("n_days")) + lit(1L))
          .as("mu_runs"),
        ((dd(col("runs")) - (dd(lit(2L) * col("n_above") * col("n_below"))
            / dd(col("n_days")) + lit(1L)))
          / sqrt(dd(lit(2L) * col("n_above") * col("n_below")
              * (lit(2L) * col("n_above") * col("n_below") - col("n_days")))
            / dd(col("n_days") * col("n_days") * (col("n_days") - lit(1L)))))
          .as("z"))
  }

  private val runsTestOracle = """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
), med AS (
  SELECT quantile_cont(rev, 0.5) AS med FROM daily
), sg AS (
  SELECT d, CASE WHEN rev > med THEN 1 ELSE 0 END AS sgn
  FROM daily, med
), b AS (
  SELECT sgn, CASE WHEN LAG(sgn) OVER (ORDER BY d) IS NULL
      OR LAG(sgn) OVER (ORDER BY d) <> sgn THEN 1 ELSE 0 END AS brk
  FROM sg
), a AS (
  SELECT COUNT(*) AS n_days, CAST(SUM(sgn) AS BIGINT) AS n_above,
    COUNT(*) - CAST(SUM(sgn) AS BIGINT) AS n_below,
    CAST(SUM(brk) AS BIGINT) AS runs
  FROM b
)
SELECT n_days, n_above, n_below, runs,
  CAST(2 * n_above * n_below AS DOUBLE) / CAST(n_days AS DOUBLE)
    + CAST(1 AS DOUBLE) AS mu_runs,
  (CAST(runs AS DOUBLE) - (CAST(2 * n_above * n_below AS DOUBLE)
      / CAST(n_days AS DOUBLE) + CAST(1 AS DOUBLE)))
    / SQRT(CAST(2 * n_above * n_below
        * (2 * n_above * n_below - n_days) AS DOUBLE)
      / CAST(n_days * n_days * (n_days - 1) AS DOUBLE)) AS z
FROM a"""

  // --- Grubbs max-outlier screen ---------------------------------------
  /** Grubbs' statistic for the most extreme daily whole-dollar revenue:
    * G = max|xᵢ − x̄| / s, with the offending day reported
    * (|dev| ties broken by earliest day). n/Σx/Σx² are exact BIGINTs;
    * x̄, s, and the per-day deviation are the same literal double
    * expression on both sides, so the argmax ordering is identical.
    */
  private def grubbs(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(dollars(col("o_totalprice"))).as("x"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("qx"))
    val mean = dd(col("sx")) / dd(col("n"))
    val sd = sqrt((dd(col("qx")) - dd(col("sx")) * dd(col("sx")) / dd(col("n")))
      / dd(col("n") - lit(1L)))
    daily.crossJoin(broadcast(st))
      .select(col("d").as("peak_day"), col("n"), mean.as("mean_rev"),
        sd.as("sd_rev"), (abs(dd(col("x")) - mean) / sd).as("g_stat"))
      .orderBy(col("g_stat").desc, col("peak_day")).limit(1)
  }

  private val grubbsOracle = """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
  FROM orders GROUP BY 1
), st AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS qx FROM daily
)
SELECT d AS peak_day, n,
  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_rev,
  SQRT((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS sd_rev,
  ABS(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
    / SQRT((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS g_stat
FROM daily, st
ORDER BY g_stat DESC, peak_day LIMIT 1"""

  // --- Process capability (Cp / Cpk) ------------------------------------
  /** Ship-latency process capability per order priority against spec
    * limits [LSL=7, USL=120] days: Cp = (USL−LSL)/6s (potential),
    * Cpk = min(USL−μ, μ−LSL)/3s (actual, penalizing off-center), plus
    * the exact out-of-spec share. Latencies are small integers so
    * Σx/Σx² stay far from overflow; one orderkey-shuffle join then a
    * 5-group aggregate.
    */
  private val CpkLsl = 7L
  private val CpkUsl = 120L

  private def cpk(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("pri"),
        datediff(col("sd"), col("od")).cast("long").as("lat"))
    val g = li.groupBy(col("pri"))
      .agg(count(lit(1)).as("n"), sum(col("lat")).as("sx"),
        sum(col("lat") * col("lat")).as("qx"),
        sum(when(col("lat") < CpkLsl || col("lat") > CpkUsl, 1L).otherwise(0L))
          .as("n_out"))
    val mu = dd(col("sx")) / dd(col("n"))
    val sd = sqrt((dd(col("qx")) - dd(col("sx")) * dd(col("sx")) / dd(col("n")))
      / dd(col("n") - lit(1L)))
    g.select(col("pri"), col("n"), mu.as("mean_lat"), sd.as("sd_lat"),
        (dd(lit(CpkUsl - CpkLsl)) / (lit(6L) * sd)).as("cp"),
        (least(dd(lit(CpkUsl)) - mu, mu - dd(lit(CpkLsl))) / (lit(3L) * sd)).as("cpk"),
        (dd(col("n_out")) / dd(col("n"))).as("out_of_spec_share"))
      .orderBy("pri")
  }

  private val cpkOracle = s"""WITH li AS (
  SELECT o_orderpriority AS pri,
    CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS lat
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), g AS (
  SELECT pri, COUNT(*) AS n, SUM(lat) AS sx, SUM(lat * lat) AS qx,
    CAST(SUM(CASE WHEN lat < $CpkLsl OR lat > $CpkUsl THEN 1 ELSE 0 END) AS BIGINT) AS n_out
  FROM li GROUP BY 1
)
SELECT pri, n,
  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_lat,
  SQRT((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS sd_lat,
  CAST(${CpkUsl - CpkLsl} AS DOUBLE) / (6 * SQRT((CAST(qx AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
    / CAST(n - 1 AS DOUBLE))) AS cp,
  LEAST(CAST($CpkUsl AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE),
      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - CAST($CpkLsl AS DOUBLE))
    / (3 * SQRT((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))) AS cpk,
  CAST(n_out AS DOUBLE) / CAST(n AS DOUBLE) AS out_of_spec_share
FROM g ORDER BY pri"""

  // --- Negative-binomial dispersion fit ----------------------------------
  /** Method-of-moments negative-binomial fit of per-customer order
    * counts per market segment: r̂ = m²/(v−m), p̂ = m/v — the standard
    * overdispersion readout (v ≤ m ⇒ Poisson or under-dispersed, r̂
    * NULL). Counts are small exact integers; m and v are the same
    * two-float-op expressions on both sides.
    */
  private def negbinFit(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
      .join(Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val g = perCust.groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
        sum(col("k") * col("k")).as("qk"))
    val m = dd(col("sk")) / dd(col("n"))
    val v = (dd(col("qk")) - dd(col("sk")) * dd(col("sk")) / dd(col("n"))) /
      dd(col("n") - lit(1L))
    g.select(col("segment"), col("n"), m.as("mean_orders"), v.as("var_orders"),
        when(v > m, m * m / (v - m)).as("r_hat"),
        when(v > m, m / v).as("p_hat"))
      .orderBy("segment")
  }

  private val negbinFitOracle = """WITH pc AS (
  SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY 1
), j AS (
  SELECT k, c_mktsegment FROM pc JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT c_mktsegment AS segment, COUNT(*) AS n, SUM(k) AS sk, SUM(k * k) AS qk
  FROM j GROUP BY 1
), mv AS (
  SELECT segment, n,
    CAST(sk AS DOUBLE) / CAST(n AS DOUBLE) AS m,
    (CAST(qk AS DOUBLE) - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)
      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS v
  FROM g
)
SELECT segment, n, m AS mean_orders, v AS var_orders,
  CASE WHEN v > m THEN m * m / (v - m) END AS r_hat,
  CASE WHEN v > m THEN m / v END AS p_hat
FROM mv ORDER BY segment"""

  // --- Two-sample Poisson rate test --------------------------------------
  /** Wald z-test comparing the purchase rate (events/day) between the
    * first and second half of the event window (fixed split at
    * 2024-01-16): z = (λ̂₁ − λ̂₂)/√(λ̂₁/d₁ + λ̂₂/d₂). Counts and
    * active-day counts are exact; the statistic is four float ops.
    * One pass over the scan, no join.
    */
  private def poissonRate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).where(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("d"))
      .withColumn("h", when(col("d") < lit("2024-01-16").cast("date"), 1L).otherwise(2L))
    val g = ev.groupBy()
      .agg(
        sum(when(col("h") === 1L, 1L).otherwise(0L)).as("c1"),
        countDistinct(when(col("h") === 1L, col("d"))).as("d1"),
        sum(when(col("h") === 2L, 1L).otherwise(0L)).as("c2"),
        countDistinct(when(col("h") === 2L, col("d"))).as("d2"))
    val r1 = dd(col("c1")) / dd(col("d1"))
    val r2 = dd(col("c2")) / dd(col("d2"))
    g.select(col("c1"), col("d1"), col("c2"), col("d2"),
      r1.as("rate1"), r2.as("rate2"),
      ((r1 - r2) / sqrt(r1 / dd(col("d1")) + r2 / dd(col("d2")))).as("z"))
  }

  private val poissonRateOracle = """WITH ev AS (
  SELECT CAST(ts AS DATE) AS d,
    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 1 ELSE 2 END AS h
  FROM events WHERE event_type = 'purchase'
), g AS (
  SELECT
    CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    COUNT(DISTINCT CASE WHEN h = 1 THEN d END) AS d1,
    CAST(SUM(CASE WHEN h = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
    COUNT(DISTINCT CASE WHEN h = 2 THEN d END) AS d2
  FROM ev
)
SELECT c1, d1, c2, d2,
  CAST(c1 AS DOUBLE) / CAST(d1 AS DOUBLE) AS rate1,
  CAST(c2 AS DOUBLE) / CAST(d2 AS DOUBLE) AS rate2,
  (CAST(c1 AS DOUBLE) / CAST(d1 AS DOUBLE) - CAST(c2 AS DOUBLE) / CAST(d2 AS DOUBLE))
    / SQRT(CAST(c1 AS DOUBLE) / CAST(d1 AS DOUBLE) / CAST(d1 AS DOUBLE)
      + CAST(c2 AS DOUBLE) / CAST(d2 AS DOUBLE) / CAST(d2 AS DOUBLE)) AS z
FROM g"""

  // --- Delete-one-group jackknife ----------------------------------------
  /** Jackknife uncertainty of the revenue-per-unit ratio estimator
    * R = Σrev/Σqty, deleting one supplier nation at a time (g = 25
    * groups): per-nation leave-one-out ratio, Tukey pseudo-value
    * g·R − (g−1)·R₍ᵢ₎, and the jackknife SE. The LOO ratios are single
    * float divisions off exact BIGINT totals; their mean and the
    * squared deviations (unbounded-order sums over the 25 groups) are
    * floored to 1e-9 / 1e-12 fixed-point units and integer-summed, so
    * no float aggregation order can flip the hash. Two broadcast
    * 1-row joins; everything else is nation-cardinality.
    */
  private def jackknifeRatio(s: SparkSession, dir: String): DataFrame = {
    val byNation = Tables(s, dir, "lineitem")
      .join(broadcast(Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nk"))
      .agg(sum(cents(col("l_extendedprice"))).as("r"),
        sum(col("l_quantity").cast("long")).as("q"))
    val tot = byNation.agg(count(lit(1)).as("g"), sum(col("r")).as("sr"),
      sum(col("q")).as("sq"))
    val loo = byNation.crossJoin(broadcast(tot))
      .withColumn("loo_ratio", dd(col("sr") - col("r")) / dd(col("sq") - col("q")))
      .withColumn("fix", floor(col("loo_ratio") * lit(1000000000L)))
    val mean = loo.agg(sum(col("fix")).as("sfix"), count(lit(1)).as("g2"))
    val dev = loo.crossJoin(broadcast(mean))
      .withColumn("rbar", dd(col("sfix")) / lit(1000000000L) / dd(col("g2")))
      .withColumn("t",
        floor((col("loo_ratio") - col("rbar")) * (col("loo_ratio") - col("rbar"))
          * lit(1000000000000L)))
    val se = dev.agg(sum(col("t")).as("st"), count(lit(1)).as("g3"))
      .select(sqrt(dd(col("g3") - lit(1L)) / dd(col("g3"))
        * (dd(col("st")) / lit(1000000000000L))).as("jk_se"))
    dev.crossJoin(broadcast(se))
      .join(broadcast(Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("nk") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("r").as("rev_cents"),
        col("q").as("qty"), col("loo_ratio"),
        (dd(col("g")) * (dd(col("sr")) / dd(col("sq")))
          - dd(col("g") - lit(1L)) * col("loo_ratio")).as("pseudo_value"),
        col("jk_se"))
      .orderBy("nation")
  }

  private val jackknifeRatioOracle = """WITH bn AS (
  SELECT s_nationkey AS nk,
    SUM(CAST(FLOOR(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS r,
    SUM(CAST(l_quantity AS BIGINT)) AS q
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS g, SUM(r) AS sr, SUM(q) AS sq FROM bn
), loo AS (
  SELECT nk, r, q, g, sr, sq,
    CAST(sr - r AS DOUBLE) / CAST(sq - q AS DOUBLE) AS loo_ratio,
    CAST(FLOOR(CAST(sr - r AS DOUBLE) / CAST(sq - q AS DOUBLE)
      * 1000000000) AS BIGINT) AS fix
  FROM bn, tot
), mn AS (
  SELECT SUM(fix) AS sfix, COUNT(*) AS g2 FROM loo
), dev AS (
  SELECT loo.*,
    CAST(FLOOR((loo_ratio - CAST(sfix AS DOUBLE) / 1000000000 / CAST(g2 AS DOUBLE))
      * (loo_ratio - CAST(sfix AS DOUBLE) / 1000000000 / CAST(g2 AS DOUBLE))
      * 1000000000000) AS BIGINT) AS t
  FROM loo, mn
), se AS (
  SELECT SQRT(CAST(COUNT(*) - 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
    * (CAST(SUM(t) AS DOUBLE) / 1000000000000)) AS jk_se
  FROM dev
)
SELECT n_name AS nation, CAST(r AS BIGINT) AS rev_cents,
  CAST(q AS BIGINT) AS qty, loo_ratio,
  CAST(g AS DOUBLE) * (CAST(sr AS DOUBLE) / CAST(sq AS DOUBLE))
    - CAST(g - 1 AS DOUBLE) * loo_ratio AS pseudo_value,
  jk_se
FROM dev, se JOIN nation ON nk = n_nationkey
ORDER BY nation"""

  // --- Gumbel extreme-value fit --------------------------------------------
  /** Method-of-moments Gumbel fit of monthly maxima of daily
    * whole-dollar revenue (the block-maxima EVT recipe): β̂ = s·√6/π,
    * μ̂ = x̄ − γ·β̂ with the Euler–Mascheroni constant. Block maxima
    * and their Σx/Σx² are exact BIGINTs; √6/π and γ are full-precision
    * Scala constants injected shortest-round-trip on both sides, so
    * the four final float ops are bit-identical.
    */
  private val GumbelC = math.sqrt(6.0) / math.Pi
  private val EulerGamma = 0.5772156649015329

  private def gumbelFit(s: SparkSession, dir: String): DataFrame = {
    val monthlyMax = Tables(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(dollars(col("o_totalprice"))).as("x"))
      .groupBy(trunc(col("d"), "month").as("m"))
      .agg(max(col("x")).as("mx"))
    val st = monthlyMax.agg(count(lit(1)).as("n"), sum(col("mx")).as("sx"),
      sum(col("mx") * col("mx")).as("qx"))
    val mean = dd(col("sx")) / dd(col("n"))
    val sd = sqrt((dd(col("qx")) - dd(col("sx")) * dd(col("sx")) / dd(col("n")))
      / dd(col("n") - lit(1L)))
    st.select(col("n").as("n_months"), mean.as("mean_max"), sd.as("sd_max"),
      (sd * lit(GumbelC)).as("beta_hat"),
      (mean - lit(EulerGamma) * (sd * lit(GumbelC))).as("mu_hat"))
  }

  private val gumbelFitOracle = s"""WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS x
  FROM orders GROUP BY 1
), mm AS (
  SELECT date_trunc('month', d) AS m, MAX(x) AS mx FROM daily GROUP BY 1
), st AS (
  SELECT COUNT(*) AS n, SUM(mx) AS sx, SUM(mx * mx) AS qx FROM mm
)
SELECT n AS n_months,
  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_max,
  SQRT((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS sd_max,
  SQRT((CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) * ${Sql.Dlit(GumbelC)} AS beta_hat,
  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
    - ${Sql.Dlit(EulerGamma)} * (SQRT((CAST(qx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      / CAST(n - 1 AS DOUBLE)) * ${Sql.Dlit(GumbelC)}) AS mu_hat
FROM st"""

  // --- Mantel–Haenszel stratified odds ratio -------------------------------
  /** Mantel–Haenszel common odds ratio and CMH χ² (no continuity
    * correction) for exposure = order total > $150k vs outcome =
    * urgent/high priority, stratified by market segment — the
    * confounding-adjusted 2×2 analysis. Per-stratum cells are exact
    * integers; the four per-stratum float terms (ad/n, bc/n, E[a],
    * Var[a]) are floored to 1e-6 fixed-point units and integer-summed,
    * and the 1e-6 scale CANCELS in the OR ratio. One segment-grouped
    * aggregate then a 5-row fold — nothing wider than the strata.
    */
  private def mantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        (col("o_totalprice") > 150000.0).as("exp"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("out"))
    val g = o.groupBy(col("seg")).agg(
      sum(when(col("exp") && col("out"), 1L).otherwise(0L)).as("a"),
      sum(when(col("exp") && !col("out"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("exp") && col("out"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("exp") && !col("out"), 1L).otherwise(0L)).as("d"))
    val n = col("a") + col("b") + col("c") + col("d")
    val t = g.select(col("a"),
      floor(dd(col("a") * col("d")) / dd(n) * lit(1000000L)).as("fad"),
      floor(dd(col("b") * col("c")) / dd(n) * lit(1000000L)).as("fbc"),
      floor(dd((col("a") + col("b")) * (col("a") + col("c"))) / dd(n)
        * lit(1000000L)).as("fe"),
      floor(dd((col("a") + col("b")) * (col("c") + col("d")))
        * dd((col("a") + col("c")) * (col("b") + col("d")))
        / dd(n * n * (n - lit(1L))) * lit(1000000L)).as("fv"))
    val agg = t.agg(count(lit(1)).as("n_strata"), sum(col("a")).as("sum_a"),
      sum(col("fad")).as("sfad"), sum(col("fbc")).as("sfbc"),
      sum(col("fe")).as("sfe"), sum(col("fv")).as("sfv"))
    val dlt = dd(col("sum_a")) - dd(col("sfe")) / lit(1000000L)
    agg.select(col("n_strata"), col("sum_a"),
      (dd(col("sfad")) / dd(col("sfbc"))).as("or_mh"),
      (dlt * dlt / (dd(col("sfv")) / lit(1000000L))).as("cmh_chi2"))
  }

  private val mantelHaenszelOracle = """WITH o AS (
  SELECT c_mktsegment AS seg,
    o_totalprice > 150000 AS expo,
    o_orderpriority IN ('1-URGENT', '2-HIGH') AS outc
  FROM orders JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT seg,
    CAST(SUM(CASE WHEN expo AND outc THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN expo AND NOT outc THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN NOT expo AND outc THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN NOT expo AND NOT outc THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM o GROUP BY 1
), t AS (
  SELECT a,
    CAST(FLOOR(CAST(a * d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)
      * 1000000) AS BIGINT) AS fad,
    CAST(FLOOR(CAST(b * c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)
      * 1000000) AS BIGINT) AS fbc,
    CAST(FLOOR(CAST((a + b) * (a + c) AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)
      * 1000000) AS BIGINT) AS fe,
    CAST(FLOOR(CAST((a + b) * (c + d) AS DOUBLE) * CAST((a + c) * (b + d) AS DOUBLE)
      / CAST((a + b + c + d) * (a + b + c + d) * (a + b + c + d - 1) AS DOUBLE)
      * 1000000) AS BIGINT) AS fv
  FROM g
), agg AS (
  SELECT COUNT(*) AS n_strata, CAST(SUM(a) AS BIGINT) AS sum_a,
    CAST(SUM(fad) AS BIGINT) AS sfad, CAST(SUM(fbc) AS BIGINT) AS sfbc,
    CAST(SUM(fe) AS BIGINT) AS sfe, CAST(SUM(fv) AS BIGINT) AS sfv
  FROM t
)
SELECT n_strata, sum_a,
  CAST(sfad AS DOUBLE) / CAST(sfbc AS DOUBLE) AS or_mh,
  (CAST(sum_a AS DOUBLE) - CAST(sfe AS DOUBLE) / 1000000)
    * (CAST(sum_a AS DOUBLE) - CAST(sfe AS DOUBLE) / 1000000)
    / (CAST(sfv AS DOUBLE) / 1000000) AS cmh_chi2
FROM agg"""

  // --- Cochran–Armitage trend test ----------------------------------------
  /** Cochran–Armitage test for a monotone trend in the high-value-order
    * share across the ORDERED priority levels (scores w = 1..5 from the
    * priority prefix digit): T = Σwₖaₖ − p̂·Σwₖnₖ,
    * Var = p̂(1−p̂)(Σwₖ²nₖ − (Σwₖnₖ)²/N). Every Σ is an exact BIGINT
    * (scores and counts are integers), so the statistic is six float
    * ops at the very end — no per-group float terms at all.
    */
  private def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(
      substring(col("o_orderpriority"), 1, 1).cast("long").as("w"),
      when(col("o_totalprice") > 150000.0, 1L).otherwise(0L).as("y"))
    val agg = o.agg(count(lit(1)).as("n"), sum(col("y")).as("a"),
      sum(col("w") * col("y")).as("swa"), sum(col("w")).as("swn"),
      sum(col("w") * col("w")).as("sw2n"))
    val p = dd(col("a")) / dd(col("n"))
    val tStat = dd(col("swa")) - p * dd(col("swn"))
    val v = (p * (lit(1.0) - p)) *
      (dd(col("sw2n")) - dd(col("swn")) * dd(col("swn")) / dd(col("n")))
    agg.select(col("n").as("n_orders"), col("a").as("n_high"),
      tStat.as("t_stat"), v.as("var_t"), (tStat / sqrt(v)).as("z"))
  }

  private val cochranArmitageOracle = """WITH o AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
    CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
  FROM orders
), agg AS (
  SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS a,
    CAST(SUM(w * y) AS BIGINT) AS swa, CAST(SUM(w) AS BIGINT) AS swn,
    CAST(SUM(w * w) AS BIGINT) AS sw2n
  FROM o
)
SELECT n AS n_orders, a AS n_high,
  CAST(swa AS DOUBLE) - CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
    * CAST(swn AS DOUBLE) AS t_stat,
  CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
    * (CAST(1 AS DOUBLE) - CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
    * (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
      / CAST(n AS DOUBLE)) AS var_t,
  (CAST(swa AS DOUBLE) - CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
    * CAST(swn AS DOUBLE))
    / SQRT(CAST(a AS DOUBLE) / CAST(n AS DOUBLE)
      * (CAST(1 AS DOUBLE) - CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
      * (CAST(sw2n AS DOUBLE) - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
        / CAST(n AS DOUBLE))) AS z
FROM agg"""

  // --- Bartlett equal-variance test ----------------------------------------
  /** Bartlett's test that the five priority groups share one variance
    * of whole-dollar order totals — the homoscedasticity gate before
    * q_anova_f/q_tukey_hsd (Levene's rank-based cousin q_levene_bf
    * already covers the robust path). Per-group (nᵢ−1)s²ᵢ come off
    * exact BIGINT Σx/Σx²; the k=5 ln/reciprocal terms are pivoted into
    * pinned per-priority columns and folded left-to-right on both
    * sides (the q_kruskal_wallis pattern), so the only engine-shared
    * assumption is ln itself, which every passing entropy query
    * already leans on.
    */
  private def bartlett(s: SparkSession, dir: String): DataFrame = {
    val g = Tables(s, dir, "orders")
      .select(col("o_orderpriority").as("pri"), dollars(col("o_totalprice")).as("x"))
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("qx"))
    val ssg = dd(col("qx")) - dd(col("sx")) * dd(col("sx")) / dd(col("n"))
    val wide = g.groupBy().agg(
      Priorities.zipWithIndex.map { case (p, i) =>
        sum(when(col("pri") === p, ssg)).as(s"ss$i") }.head,
      (Priorities.zipWithIndex.drop(1).map { case (p, i) =>
        sum(when(col("pri") === p, ssg)).as(s"ss$i") } ++
        Priorities.zipWithIndex.map { case (p, i) =>
          sum(when(col("pri") === p, col("n"))).as(s"n$i") } ++
        Seq(sum(col("n")).as("nn"))): _*)
    val k = Priorities.size
    val nTot = col("nn")
    val sp2 = (0 until k).map(i => col(s"ss$i")).reduce(_ + _) / dd(nTot - lit(k.toLong))
    val sumLn = (0 until k).map(i =>
      dd(col(s"n$i") - lit(1L)) * log(col(s"ss$i") / dd(col(s"n$i") - lit(1L))))
      .reduce(_ + _)
    val sumInv = (0 until k).map(i => lit(1.0) / dd(col(s"n$i") - lit(1L))).reduce(_ + _)
    val cFac = lit(1.0) + (sumInv - lit(1.0) / dd(nTot - lit(k.toLong)))
      ./(lit(3.0 * (k - 1)))
    wide.select(nTot.as("n_total"), sp2.as("pooled_var"), cFac.as("c_factor"),
      ((dd(nTot - lit(k.toLong)) * log(sp2) - sumLn) / cFac).as("bartlett_chi2"))
  }

  private val bartlettOracle: String = {
    val k = Priorities.size
    val ssCase = Priorities.zipWithIndex.map { case (p, i) =>
      s"SUM(CASE WHEN pri = '$p' THEN ss END) AS ss$i" }.mkString(",\n    ")
    val nCase = Priorities.zipWithIndex.map { case (p, i) =>
      s"CAST(SUM(CASE WHEN pri = '$p' THEN n END) AS BIGINT) AS n$i" }.mkString(",\n    ")
    val sp2p = "(" + (0 until k).map(i => s"ss$i").mkString(" + ") +
      s") / CAST(nn - $k AS DOUBLE)"
    val sumLn = (0 until k).map(i =>
      s"CAST(n$i - 1 AS DOUBLE) * LN(ss$i / CAST(n$i - 1 AS DOUBLE))")
      .mkString(" + ")
    val sumInv = (0 until k).map(i =>
      s"CAST(1 AS DOUBLE) / CAST(n$i - 1 AS DOUBLE)").mkString(" + ")
    val cFac = s"CAST(1 AS DOUBLE) + ($sumInv - CAST(1 AS DOUBLE) / CAST(nn - $k AS DOUBLE)) / CAST(${3.0 * (k - 1)} AS DOUBLE)"
    s"""WITH g AS (
  SELECT o_orderpriority AS pri, COUNT(*) AS n,
    SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS sx,
    SUM(CAST(FLOOR(o_totalprice) AS BIGINT) * CAST(FLOOR(o_totalprice) AS BIGINT)) AS qx
  FROM orders GROUP BY 1
), gss AS (
  SELECT pri, n,
    CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS ss
  FROM g
), wide AS (
  SELECT
    $ssCase,
    $nCase,
    CAST(SUM(n) AS BIGINT) AS nn
  FROM gss
)
SELECT nn AS n_total, $sp2p AS pooled_var, $cFac AS c_factor,
  (CAST(nn - $k AS DOUBLE) * LN($sp2p) - ($sumLn)) / ($cFac) AS bartlett_chi2
FROM wide"""
  }

  // --- 1-D Wasserstein (earth mover's) distance ----------------------------
  /** Wasserstein-1 distance between the order-price distributions of
    * the first and last calendar year, over fixed $6000 bins:
    * W₁ = Δ·Σ_b |F₁(b) − F₂(b)| with the sum running over OBSERVED
    * bins only — a gap bin empty in BOTH years contributes nothing
    * even where the CDFs differ there, so this is a lower bound on the
    * densified (every-bin-on-the-spine) form; the oracle replicates
    * the same observed-bins convention, so engine parity is exact.
    * Unlike q_ks_test's sup-norm this weighs HOW FAR mass must move.
    * The CDF
    * difference is kept as the exact integer cross-product
    * |cum₁·N₂ − cum₂·N₁| (common denominator N₁N₂ factored out), so
    * the entire sum is BIGINT and the distance is one final scaled
    * division. Bin histogram → one bounded bin-cardinality window.
    */
  private def wasserstein(s: SparkSession, dir: String): DataFrame = {
    val BinW = 6000L
    val o = Tables(s, dir, "orders")
      .select(year(col("o_orderdate")).as("y"),
        dollars(col("o_totalprice")).as("dol"))
      .select(col("y"), expr(s"dol div $BinW").as("bin"))
    val yrs = o.agg(min(col("y")).as("y1"), max(col("y")).as("y2"))
    val h = o.crossJoin(broadcast(yrs))
      .where(col("y") === col("y1") || col("y") === col("y2"))
      .groupBy(col("bin"))
      .agg(sum(when(col("y") === col("y1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("y") === col("y2"), 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy(col("bin"))
    val cum = h.withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
    val tot = cum.agg(max(col("cum1")).as("n1"), max(col("cum2")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("t"))
      .groupBy(col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_bins"), sum(col("t")).as("st"))
      .select(col("n1"), col("n2"), col("n_bins"),
        (dd(col("st")) * lit(BinW.toDouble) / dd(col("n1") * col("n2")))
          .as("w1_dollars"))
  }

  private val wassersteinOracle = """WITH o AS (
  SELECT EXTRACT(year FROM o_orderdate) AS y,
    CAST(FLOOR(o_totalprice) AS BIGINT) // 6000 AS bin
  FROM orders
), yrs AS (
  SELECT MIN(y) AS y1, MAX(y) AS y2 FROM o
), h AS (
  SELECT bin,
    CAST(SUM(CASE WHEN y = y1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN y = y2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM o, yrs WHERE y = y1 OR y = y2
  GROUP BY 1
), cum AS (
  SELECT bin,
    SUM(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum1,
    SUM(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum2
  FROM h
), tot AS (
  SELECT MAX(cum1) AS n1, MAX(cum2) AS n2 FROM cum
), t AS (
  SELECT n1, n2, ABS(cum1 * n2 - cum2 * n1) AS t FROM cum, tot
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  COUNT(*) AS n_bins,
  CAST(SUM(t) AS DOUBLE) * CAST(6000 AS DOUBLE)
    / CAST(n1 * n2 AS DOUBLE) AS w1_dollars
FROM t GROUP BY n1, n2"""

  // --- Partial correlation --------------------------------------------------
  /** First-order partial correlation of whole-dollar price and quantity
    * CONTROLLING for the discount (basis points):
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — does the
    * price–quantity relation survive once the discount channel is
    * removed. All ten moment sums are exact BIGINTs in one scan-side
    * aggregate (dollar/qty/bps scaling keeps Σx² far from 2⁶³ even at
    * sf1); the three Pearson r's and the partial are a fixed literal
    * float expression over that single row.
    */
  private def partialCorr(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(
      dollars(col("l_extendedprice")).as("x"),
      col("l_quantity").cast("long").as("y"),
      floor(col("l_discount") * 10000 + 0.5).cast("long").as("z"))
    val agg = li.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"))
    def r(sab: Column, sa: Column, sb: Column, saa: Column, sbb: Column) =
      (dd(col("n")) * dd(sab) - dd(sa) * dd(sb)) /
        sqrt((dd(col("n")) * dd(saa) - dd(sa) * dd(sa))
          * (dd(col("n")) * dd(sbb) - dd(sb) * dd(sb)))
    val withR = agg.withColumn("r_xy",
        r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy")))
      .withColumn("r_xz",
        r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz")))
      .withColumn("r_yz",
        r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz")))
    withR.select(col("n"), col("r_xy"), col("r_xz"), col("r_yz"),
      ((col("r_xy") - col("r_xz") * col("r_yz"))
        / sqrt((lit(1.0) - col("r_xz") * col("r_xz"))
          * (lit(1.0) - col("r_yz") * col("r_yz")))).as("r_xy_given_z"))
  }

  private val partialCorrOracle = """WITH li AS (
  SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS x,
    CAST(l_quantity AS BIGINT) AS y,
    CAST(FLOOR(l_discount * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS z
  FROM lineitem
), agg AS (
  SELECT COUNT(*) AS n,
    SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(z * z) AS szz,
    SUM(x * y) AS sxy, SUM(x * z) AS sxz, SUM(y * z) AS syz
  FROM li
), rr AS (
  SELECT n,
    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r_xy,
    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
      / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS r_xz,
    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
      / SQRT((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS r_yz
  FROM agg
)
SELECT n, r_xy, r_xz, r_yz,
  (r_xy - r_xz * r_yz)
    / SQRT((CAST(1 AS DOUBLE) - r_xz * r_xz)
      * (CAST(1 AS DOUBLE) - r_yz * r_yz)) AS r_xy_given_z
FROM rr"""

  // --- Exact order-statistic QQ ladder --------------------------------------
  /** QQ comparison of the URGENT vs LOW order-price distributions at
    * k/20 quantiles (k = 1..19) — read as points off the QQ plot. To
    * dodge engine interpolation entirely, each quantile is the EXACT
    * order statistic at 1-based rank ⌊(n−1)·k/20⌋ + 1 under the total
    * (price, orderkey) order: pure integer rank arithmetic, one
    * bounded per-group rank window, one final ratio division. The
    * 19-row rank-target table broadcasts against the ranked rows.
    */
  private def qqLadder(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        cents(col("o_totalprice")).as("c"))
    val w = Window.partitionBy(col("pri")).orderBy(col("c"), col("o_orderkey"))
    val ranked = o.withColumn("rn", row_number().over(w).cast("long"))
    val sizes = o.groupBy(col("pri")).agg(count(lit(1)).as("n"))
    val ks = s.range(1, 20).select(col("id").as("k"))
    val targets = sizes.crossJoin(broadcast(ks))
      .select(col("pri"), col("k"),
        (expr("(n - 1) * k div 20") + lit(1L)).as("rk"))
    val hit = ranked.join(broadcast(targets),
      ranked("pri") === targets("pri") && col("rn") === col("rk"))
      .select(col("k"), ranked("pri").as("pri"), col("rk"), col("c"))
    val u = hit.where(col("pri") === "1-URGENT")
      .select(col("k"), col("rk").as("rank_urgent"), col("c").as("q_urgent"))
    val l = hit.where(col("pri") === "5-LOW")
      .select(col("k"), col("rk").as("rank_low"), col("c").as("q_low"))
    u.join(l, "k")
      .select(col("k"), col("rank_urgent"), col("q_urgent"),
        col("rank_low"), col("q_low"),
        (dd(col("q_urgent")) / dd(col("q_low"))).as("qq_ratio"))
      .orderBy("k")
  }

  private val qqLadderOracle = """WITH o AS (
  SELECT o_orderpriority AS pri, o_orderkey,
    CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), ranked AS (
  SELECT pri, c,
    CAST(ROW_NUMBER() OVER (PARTITION BY pri ORDER BY c, o_orderkey) AS BIGINT) AS rn
  FROM o
), sizes AS (
  SELECT pri, COUNT(*) AS n FROM o GROUP BY 1
), targets AS (
  SELECT pri, k, (n - 1) * k // 20 + 1 AS rk
  FROM sizes, (SELECT UNNEST(range(1, 20)) AS k)
), hit AS (
  SELECT t.k, t.pri, t.rk, r.c
  FROM ranked r JOIN targets t ON r.pri = t.pri AND r.rn = t.rk
)
SELECT u.k AS k, u.rk AS rank_urgent, u.c AS q_urgent,
  l.rk AS rank_low, l.c AS q_low,
  CAST(u.c AS DOUBLE) / CAST(l.c AS DOUBLE) AS qq_ratio
FROM hit u JOIN hit l ON u.k = l.k
  AND u.pri = '1-URGENT' AND l.pri = '5-LOW'
ORDER BY u.k"""

  // --- Oaxaca–Blinder decomposition ----------------------------------------
  /** Oaxaca–Blinder decomposition of the mean order-value gap between
    * the AUTOMOBILE and BUILDING segments with order size (total
    * quantity) as the covariate: gap = ȳ₁−ȳ₂ splits into the part
    * explained by different order sizes, β₂(x̄₁−x̄₂), and the
    * unexplained structural part (α₁−α₂) + x̄₁(β₁−β₂) — the standard
    * wage-gap econometrics applied to baskets. Per-group OLS slopes
    * come off exact BIGINT moment sums folded in ONE conditional
    * aggregate row; everything after is a fixed literal float
    * expression, so both engines produce the identical decomposition.
    */
  private def oaxaca(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
        dollars(col("o_totalprice")).as("y"))
    val size = Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity").cast("long")).as("x"))
    val j = ord.join(size, col("o_orderkey") === col("l_orderkey"))
    def cond(g: String, c: Column) = sum(when(col("seg") === g, c).otherwise(0L))
    val agg = j.agg(
      cond("AUTOMOBILE", lit(1L)).as("n1"), cond("AUTOMOBILE", col("x")).as("sx1"),
      cond("AUTOMOBILE", col("y")).as("sy1"),
      cond("AUTOMOBILE", col("x") * col("x")).as("sxx1"),
      cond("AUTOMOBILE", col("x") * col("y")).as("sxy1"),
      cond("BUILDING", lit(1L)).as("n2"), cond("BUILDING", col("x")).as("sx2"),
      cond("BUILDING", col("y")).as("sy2"),
      cond("BUILDING", col("x") * col("x")).as("sxx2"),
      cond("BUILDING", col("x") * col("y")).as("sxy2"))
    def beta(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column) =
      (dd(n) * dd(sxy) - dd(sx) * dd(sy)) / (dd(n) * dd(sxx) - dd(sx) * dd(sx))
    val w = agg
      .withColumn("xb1", dd(col("sx1")) / dd(col("n1")))
      .withColumn("yb1", dd(col("sy1")) / dd(col("n1")))
      .withColumn("xb2", dd(col("sx2")) / dd(col("n2")))
      .withColumn("yb2", dd(col("sy2")) / dd(col("n2")))
      .withColumn("b1", beta(col("n1"), col("sx1"), col("sy1"), col("sxx1"), col("sxy1")))
      .withColumn("b2", beta(col("n2"), col("sx2"), col("sy2"), col("sxx2"), col("sxy2")))
    w.select(col("n1"), col("n2"), col("xb1"), col("xb2"),
      col("b1"), col("b2"),
      (col("yb1") - col("yb2")).as("gap"),
      (col("b2") * (col("xb1") - col("xb2"))).as("explained"),
      ((col("yb1") - col("b1") * col("xb1"))
        - (col("yb2") - col("b2") * col("xb2"))
        + col("xb1") * (col("b1") - col("b2"))).as("unexplained"))
  }

  private val oaxacaOracle = """WITH ord AS (
  SELECT o_orderkey, c_mktsegment AS seg,
    CAST(FLOOR(o_totalprice) AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
), sz AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
), j AS (
  SELECT seg, x, y FROM ord JOIN sz ON o_orderkey = l_orderkey
), agg AS (
  SELECT
    CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN x ELSE 0 END) AS BIGINT) AS sx1,
    CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN y ELSE 0 END) AS BIGINT) AS sy1,
    CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
    CAST(SUM(CASE WHEN seg = 'AUTOMOBILE' THEN x * y ELSE 0 END) AS BIGINT) AS sxy1,
    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN x ELSE 0 END) AS BIGINT) AS sx2,
    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN y ELSE 0 END) AS BIGINT) AS sy2,
    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN x * x ELSE 0 END) AS BIGINT) AS sxx2,
    CAST(SUM(CASE WHEN seg = 'BUILDING' THEN x * y ELSE 0 END) AS BIGINT) AS sxy2
  FROM j
), w AS (
  SELECT n1, n2,
    CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS xb1,
    CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS yb1,
    CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS xb2,
    CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS yb2,
    (CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
      / (CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) AS b1,
    (CAST(n2 AS DOUBLE) * CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
      / (CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE)) AS b2
  FROM agg
)
SELECT n1, n2, xb1, xb2, b1, b2,
  yb1 - yb2 AS gap,
  b2 * (xb1 - xb2) AS explained,
  (yb1 - b1 * xb1) - (yb2 - b2 * xb2) + xb1 * (b1 - b2) AS unexplained
FROM w"""

  // --- Instrumental-variable (2SLS) slope -----------------------------------
  /** Wald/2SLS instrumental-variable estimate of the quantity→revenue
    * slope using the discount as the instrument:
    * β_IV = cov(z,y)/cov(z,x) (single-instrument 2SLS collapses to
    * the ratio), alongside the OLS slope it corrects and the
    * first-stage slope/F — the weak-instrument readout. One scan-side
    * aggregate of exact BIGINT moments (dollar/qty/bps scaling), then
    * a fixed literal float expression; the causal-inference shelf
    * beside q_did/q_cuped/q_oaxaca.
    */
  private def iv2sls(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(
      floor(col("l_discount") * 10000 + 0.5).cast("long").as("z"),
      col("l_quantity").cast("long").as("x"),
      dollars(col("l_extendedprice")).as("y"))
    val agg = li.agg(count(lit(1)).as("n"),
      sum(col("z")).as("sz"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("z") * col("z")).as("szz"), sum(col("x") * col("x")).as("sxx"),
      sum(col("z") * col("x")).as("szx"), sum(col("z") * col("y")).as("szy"),
      sum(col("x") * col("y")).as("sxy"))
    val covZY = dd(col("n")) * dd(col("szy")) - dd(col("sz")) * dd(col("sy"))
    val covZX = dd(col("n")) * dd(col("szx")) - dd(col("sz")) * dd(col("sx"))
    val varZ = dd(col("n")) * dd(col("szz")) - dd(col("sz")) * dd(col("sz"))
    val varX = dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val covXY = dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    val r2First = covZX * covZX / (varZ * varX)
    agg.select(col("n"),
      (covXY / varX).as("beta_ols"),
      (covZY / covZX).as("beta_iv"),
      (covZX / varZ).as("first_stage_slope"),
      (r2First / (lit(1.0) - r2First) * dd(col("n") - lit(2L)))
        .as("first_stage_f"))
  }

  private val iv2slsOracle = """WITH li AS (
  SELECT CAST(FLOOR(l_discount * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS z,
    CAST(l_quantity AS BIGINT) AS x,
    CAST(FLOOR(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), agg AS (
  SELECT COUNT(*) AS n, SUM(z) AS sz, SUM(x) AS sx, SUM(y) AS sy,
    SUM(z * z) AS szz, SUM(x * x) AS sxx,
    SUM(z * x) AS szx, SUM(z * y) AS szy, SUM(x * y) AS sxy
  FROM li
), c AS (
  SELECT n,
    CAST(n AS DOUBLE) * CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE) AS covzy,
    CAST(n AS DOUBLE) * CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sx AS DOUBLE) AS covzx,
    CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) AS varz,
    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covxy
  FROM agg
)
SELECT n,
  covxy / varx AS beta_ols,
  covzy / covzx AS beta_iv,
  covzx / varz AS first_stage_slope,
  covzx * covzx / (varz * varx)
    / (CAST(1 AS DOUBLE) - covzx * covzx / (varz * varx))
    * CAST(n - 2 AS DOUBLE) AS first_stage_f
FROM c"""

  // --- Mediation decomposition (Baron–Kenny) ---------------------------------
  /** Product-of-coefficients mediation analysis: how much of the
    * discount→revenue effect flows THROUGH quantity (x→m→y) vs
    * directly. a = slope(m~x); (b, c′) come from the closed-form
    * two-predictor regression y ~ x + m (2×2 normal equations);
    * indirect = a·b; total = c from y ~ x, and c − c′ = a·b is the
    * identity the output exposes. Everything is one exact-moment
    * aggregate and a pinned float expression — no iteration, no
    * matrix library.
    */
  private def mediation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(
      floor(col("l_discount") * 10000 + 0.5).cast("long").as("x"),
      col("l_quantity").cast("long").as("m"),
      dollars(col("l_extendedprice")).as("y"))
    val agg = li.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("m")).as("sm"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("m") * col("m")).as("smm"),
      sum(col("x") * col("m")).as("sxm"), sum(col("x") * col("y")).as("sxy"),
      sum(col("m") * col("y")).as("smy"))
    val sxxC = dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
    val smmC = dd(col("n")) * dd(col("smm")) - dd(col("sm")) * dd(col("sm"))
    val sxmC = dd(col("n")) * dd(col("sxm")) - dd(col("sx")) * dd(col("sm"))
    val sxyC = dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
    val smyC = dd(col("n")) * dd(col("smy")) - dd(col("sm")) * dd(col("sy"))
    val det = sxxC * smmC - sxmC * sxmC
    val cPrime = (smmC * sxyC - sxmC * smyC) / det
    val b = (sxxC * smyC - sxmC * sxyC) / det
    val a = sxmC / sxxC
    val c = sxyC / sxxC
    agg.select(col("n"), a.as("a_xm"), b.as("b_my"),
      cPrime.as("c_direct"), c.as("c_total"),
      (a * b).as("indirect"),
      (a * b / c).as("mediated_share"))
  }

  private val mediationOracle = """WITH li AS (
  SELECT CAST(FLOOR(l_discount * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x,
    CAST(l_quantity AS BIGINT) AS m,
    CAST(FLOOR(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
), agg AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(m) AS sm, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(m * m) AS smm,
    SUM(x * m) AS sxm, SUM(x * y) AS sxy, SUM(m * y) AS smy
  FROM li
), c AS (
  SELECT n,
    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS sxxc,
    CAST(n AS DOUBLE) * CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) AS smmc,
    CAST(n AS DOUBLE) * CAST(sxm AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sm AS DOUBLE) AS sxmc,
    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sxyc,
    CAST(n AS DOUBLE) * CAST(smy AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sy AS DOUBLE) AS smyc
  FROM agg
)
SELECT n,
  sxmc / sxxc AS a_xm,
  (sxxc * smyc - sxmc * sxyc) / (sxxc * smmc - sxmc * sxmc) AS b_my,
  (smmc * sxyc - sxmc * smyc) / (sxxc * smmc - sxmc * sxmc) AS c_direct,
  sxyc / sxxc AS c_total,
  sxmc / sxxc * ((sxxc * smyc - sxmc * sxyc) / (sxxc * smmc - sxmc * sxmc)) AS indirect,
  sxmc / sxxc * ((sxxc * smyc - sxmc * sxyc) / (sxxc * smmc - sxmc * sxmc))
    / (sxyc / sxxc) AS mediated_share
FROM c"""

  // --- ABC-XYZ inventory matrix ---------------------------------------------
  /** The ABC×XYZ planning matrix: parts classed by revenue
    * concentration (A: the prefix covering 80% of revenue under the
    * exact-integer 5·cum<4·total cut, B: to 95% via 20·cum<19·total,
    * C: rest — the q_pareto80 discipline) × demand variability (X:
    * monthly-quantity CV < 0.5, Y: < 1.0, Z: else; CV is one
    * sqrt/division off exact per-part Σq/Σq² over observed months).
    * The output is the 9-cell matrix with part counts and exact
    * revenue cents — what a supply planner pins replenishment policy
    * to. One (part, month) aggregate; the cumulative-revenue rank
    * runs through [[graft.operators.Ids.prefixSum]] (range
    * partitions over the (rev desc, pk) total order) instead of a
    * partition-less running-SUM window, and the grand total rides a
    * 1-row broadcast cross join — no task ever holds the whole part
    * table (r7-verdict sweep of entity-cardinality window funnels).
    */
  private def abcXyz(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_partkey").as("pk"),
      trunc(to_date(col("l_shipdate")), "month").as("m"),
      col("l_quantity").cast("long").as("q"),
      cents(col("l_extendedprice")).as("c"))
    val pm = li.groupBy(col("pk"), col("m"))
      .agg(sum(col("q")).as("mq"), sum(col("c")).as("mc"))
    val perPart = pm.groupBy(col("pk"))
      .agg(count(lit(1)).as("nm"), sum(col("mq")).as("sq"),
        sum(col("mq") * col("mq")).as("qq"), sum(col("mc")).as("rev"))
    val mean = dd(col("sq")) / dd(col("nm"))
    val sd = sqrt((dd(col("qq")) - dd(col("sq")) * dd(col("sq")) / dd(col("nm"))) /
      dd(col("nm") - lit(1L)))
    val cv = sd / mean
    val xyz = when(col("nm") === 1L, "Z")
      .when(cv < lit(0.5), "X").when(cv < lit(1.0), "Y").otherwise("Z")
    val cum = graft.operators.Ids.prefixSum(
      perPart, Seq(col("rev").desc, col("pk")), "cum", Some("rev"))
    val total = cum.agg(sum(col("rev")).as("total"))
    val ranked = cum.crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(lit(5L) * (col("cum") - col("rev")) < lit(4L) * col("total"), "A")
          .when(lit(20L) * (col("cum") - col("rev")) < lit(19L) * col("total"), "B")
          .otherwise("C"))
      .withColumn("xyz_class", xyz)
    ranked.groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("rev_cents"))
      .orderBy("abc_class", "xyz_class")
  }

  private val abcXyzOracle = """WITH li AS (
  SELECT l_partkey AS pk, date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
    CAST(l_quantity AS BIGINT) AS q,
    CAST(FLOOR(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
  FROM lineitem
), pm AS (
  SELECT pk, m, CAST(SUM(q) AS BIGINT) AS mq, CAST(SUM(c) AS BIGINT) AS mc
  FROM li GROUP BY 1, 2
), pp AS (
  SELECT pk, COUNT(*) AS nm, CAST(SUM(mq) AS BIGINT) AS sq,
    CAST(SUM(mq * mq) AS BIGINT) AS qq, CAST(SUM(mc) AS BIGINT) AS rev
  FROM pm GROUP BY 1
), cvd AS (
  SELECT pk, nm, rev,
    SQRT((CAST(qq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
        / CAST(nm AS DOUBLE)) / CAST(nm - 1 AS DOUBLE))
      / (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE)) AS cv
  FROM pp
), ranked AS (
  SELECT pk, nm, rev, cv,
    SUM(rev) OVER (ORDER BY rev DESC, pk ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(rev) OVER () AS total
  FROM cvd
), cls AS (
  SELECT
    CASE WHEN 5 * (cum - rev) < 4 * total THEN 'A'
      WHEN 20 * (cum - rev) < 19 * total THEN 'B' ELSE 'C' END AS abc_class,
    CASE WHEN nm = 1 THEN 'Z'
      WHEN cv < CAST(0.5 AS DOUBLE) THEN 'X'
      WHEN cv < CAST(1.0 AS DOUBLE) THEN 'Y' ELSE 'Z' END AS xyz_class,
    rev
  FROM ranked
)
SELECT abc_class, xyz_class, COUNT(*) AS n_parts,
  CAST(SUM(rev) AS BIGINT) AS rev_cents
FROM cls GROUP BY 1, 2 ORDER BY abc_class, xyz_class"""

  // --- Classical seasonal indices --------------------------------------------
  /** Ratio-to-moving-average seasonal indices for monthly revenue: each
    * month's revenue over its centered 12-month moving TOTAL is the
    * exact-integer ratio 12·rev/sum12 (one float division — the MA
    * division by 12 cancels); per-calendar-month ratios are floored to
    * 1e-9 units and integer-summed, and the normalized index is the
    * all-integer share 12·sfixₘ/Σsfix — so the whole decomposition
    * carries no float aggregation anywhere. Edge months without a full
    * 12-month window are excluded exactly (window row count pinned).
    */
  private def seasonalIndex(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir, "orders")
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("m"))
      .agg(sum(dollars(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy(col("m")).rowsBetween(-6, 5)
    val withMa = monthly
      .withColumn("sum12", sum(col("rev")).over(w))
      .withColumn("cnt12", count(lit(1)).over(w))
      .where(col("cnt12") === 12L)
      .withColumn("fix",
        floor(dd(col("rev")) * lit(12L) / dd(col("sum12")) * lit(1000000000L)))
    val byMonth = withMa.groupBy(month(col("m")).as("month"))
      .agg(count(lit(1)).as("n_ratios"), sum(col("fix")).as("sfix"))
    val tot = byMonth.agg(sum(col("sfix")).as("tfix"))
    byMonth.crossJoin(broadcast(tot))
      .select(col("month").cast("long").as("month"), col("n_ratios"),
        (dd(col("sfix")) / lit(1000000000L) / dd(col("n_ratios")))
          .as("seasonal_ratio"),
        (dd(col("sfix") * lit(12L)) / dd(col("tfix"))).as("seasonal_index"))
      .orderBy("month")
  }

  private val seasonalIndexOracle = """WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
    CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
), ma AS (
  SELECT m, rev,
    SUM(rev) OVER (ORDER BY m ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS sum12,
    COUNT(*) OVER (ORDER BY m ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING) AS cnt12
  FROM monthly
), fx AS (
  SELECT CAST(EXTRACT(month FROM m) AS BIGINT) AS month,
    CAST(FLOOR(CAST(rev AS DOUBLE) * 12 / CAST(sum12 AS DOUBLE)
      * 1000000000) AS BIGINT) AS fix
  FROM ma WHERE cnt12 = 12
), bm AS (
  SELECT month, COUNT(*) AS n_ratios, CAST(SUM(fix) AS BIGINT) AS sfix
  FROM fx GROUP BY 1
), tot AS (
  SELECT CAST(SUM(sfix) AS BIGINT) AS tfix FROM bm
)
SELECT month, n_ratios,
  CAST(sfix AS DOUBLE) / 1000000000 / CAST(n_ratios AS DOUBLE) AS seasonal_ratio,
  CAST(sfix * 12 AS DOUBLE) / CAST(tfix AS DOUBLE) AS seasonal_index
FROM bm, tot ORDER BY month"""

  // --- Cramér–von Mises two-sample test ---------------------------------------
  /** Cramér–von Mises two-sample statistic over ship latencies
    * (urgent/high vs the rest — the q_ks_test cohorts):
    * T = nm/(n+m)² · Σ_obs (F₁(x)−F₂(x))² — the INTEGRAL ECDF
    * discrepancy that, unlike KS's single sup-point, weighs every
    * crossing. ECDFs come from one distinct-value histogram + bounded
    * value-cardinality window (never a per-row rank); each pooled
    * value's (F₁−F₂)²·weight term is floored to 1e-12 units and
    * integer-summed, so the statistic is order-free.
    */
  private def cramerVonMises(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(Tables(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(datediff(col("sd"), col("od")).cast("long").as("v"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("g1"))
    val h = li.groupBy(col("v"))
      .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy(col("v"))
    val cum = h.withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
    val tot = cum.agg(max(col("cum1")).as("n"), max(col("cum2")).as("m"))
    val diff = dd(col("cum1")) / dd(col("n")) - dd(col("cum2")) / dd(col("m"))
    val terms = cum.crossJoin(broadcast(tot))
      .select(col("n"), col("m"),
        floor(diff * diff * dd(col("c1") + col("c2")) * lit(1000000000000L))
          .as("t"))
    terms.groupBy(col("n"), col("m"))
      .agg(sum(col("t")).as("st"))
      .select(col("n").as("n1"), col("m").as("n2"),
        ((dd(col("n")) * dd(col("m"))
          / ((dd(col("n")) + dd(col("m"))) * (dd(col("n")) + dd(col("m")))))
          * (dd(col("st")) / lit(1000000000000L))).as("cvm_t"))
  }

  private val cramerVonMisesOracle = """WITH li AS (
  SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
      CAST(l_shipdate AS DATE)) AS BIGINT) AS v,
    o_orderpriority IN ('1-URGENT', '2-HIGH') AS g1
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), h AS (
  SELECT v,
    CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM li GROUP BY 1
), cum AS (
  SELECT v, c1, c2,
    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
  FROM h
), tot AS (
  SELECT MAX(cum1) AS n, MAX(cum2) AS m FROM cum
), terms AS (
  SELECT n, m,
    CAST(FLOOR((CAST(cum1 AS DOUBLE) / CAST(n AS DOUBLE)
        - CAST(cum2 AS DOUBLE) / CAST(m AS DOUBLE))
      * (CAST(cum1 AS DOUBLE) / CAST(n AS DOUBLE)
        - CAST(cum2 AS DOUBLE) / CAST(m AS DOUBLE))
      * CAST(c1 + c2 AS DOUBLE) * 1000000000000) AS BIGINT) AS t
  FROM cum, tot
), agg AS (
  SELECT n, m, CAST(SUM(t) AS BIGINT) AS st FROM terms GROUP BY 1, 2
)
SELECT CAST(n AS BIGINT) AS n1, CAST(m AS BIGINT) AS n2,
  (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
    / ((CAST(n AS DOUBLE) + CAST(m AS DOUBLE))
      * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))))
    * (CAST(st AS DOUBLE) / 1000000000000) AS cvm_t
FROM agg"""

  // --- exact distributed percentiles ----------------------------------
  /** EXACT P10/P50/P90 of line price per return flag — no sketch, no
    * global sort: [[graft.operators.Quantiles.cumCounts]] (per-(group,
    * value) counts, a prefix-sum scan over ascending value — range
    * partitions, never a partition-less window), and the smallest value
    * whose inclusive cumulative count reaches ⌈q·n⌉ — integer
    * cross-multiplied (cum·den ≥ n·num) so no float rank ever rounds. The exact counterpart of q_approx_median /
    * q_quantile_rollup for when percentiles must be bit-exact at scale.
    */
  private def exactPercentiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(col("l_returnflag").as("g"),
      cents(col("l_extendedprice")).as("v"))
    // all three picks in ONE conditional-min aggregation (min ignores
    // the null the `when` leaves below a percentile's rank threshold)
    def pick(num: Int, den: Int) =
      min(when(col("cum") * den >= col("n") * num, col("v")))
    graft.operators.Quantiles.cumCounts(li, "v", Seq("g"))
      .groupBy(col("g"), col("n")).agg(
        pick(1, 10).as("p10_cents"),
        pick(1, 2).as("p50_cents"),
        pick(9, 10).as("p90_cents"))
      .orderBy("g")
  }

  private val exactPercentilesOracle = """WITH pv AS (
  SELECT l_returnflag AS g,
    CAST(FLOOR(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v,
    COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT g, v, CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM pv
), tot AS (SELECT g, MAX(cum) AS n FROM cum GROUP BY 1)
SELECT t.g, t.n,
  (SELECT MIN(v) FROM cum c WHERE c.g = t.g AND c.cum * 10 >= t.n) AS p10_cents,
  (SELECT MIN(v) FROM cum c WHERE c.g = t.g AND c.cum * 2 >= t.n) AS p50_cents,
  (SELECT MIN(v) FROM cum c WHERE c.g = t.g AND c.cum * 10 >= t.n * 9) AS p90_cents
FROM tot t ORDER BY t.g"""

  // --- exact trimmed mean ----------------------------------------------
  /** 5%-each-side trimmed mean of order value per priority — exact:
    * each distinct value's KEPT multiplicity is
    * max(0, min(cum, n−lo) − max(cum−cnt, lo)) with lo = ⌊n/20⌋, so
    * boundary ties trim partially and the kept mass is exactly
    * n − 2·lo. Σ v·kept runs in DECIMAL(38,0) (value·count
    * cross-products can pass 2⁶³ at scale); one final division. The
    * robust-location sibling of t_winsorize — mass is REMOVED here,
    * not clamped.
    */
  private def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val o = Tables(s, dir, "orders").select(col("o_orderpriority").as("g"),
      cents(col("o_totalprice")).as("v"))
    graft.operators.Quantiles.cumCounts(o, "v", Seq("g"))
      .withColumn("lo", expr("n div 20"))
      .withColumn("kept",
        greatest(lit(0L),
          least(col("cum"), col("n") - col("lo")) -
            greatest(col("cum") - col("cnt"), col("lo"))))
      .groupBy(col("g"))
      .agg(max(col("n")).as("n"), sum(col("kept")).as("n_kept"),
        sum(dec(col("v")) * col("kept")).as("sv"))
      .select(col("g"), col("n"), col("n_kept"),
        (dd(col("sv")) / dd(col("n_kept"))).as("trimmed_mean_cents"))
      .orderBy("g")
  }

  private val trimmedMeanOracle = """WITH pv AS (
  SELECT o_orderpriority AS g,
    CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v,
    COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), cum AS (
  SELECT g, v, cnt, CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM pv
), tot AS (SELECT g, MAX(cum) AS n FROM cum GROUP BY 1),
k AS (
  SELECT c.g, c.v, t.n,
    GREATEST(0, LEAST(c.cum, t.n - t.n // 20)
      - GREATEST(c.cum - c.cnt, t.n // 20)) AS kept
  FROM cum c JOIN tot t USING (g)
)
SELECT g, CAST(MAX(n) AS BIGINT) AS n, CAST(SUM(kept) AS BIGINT) AS n_kept,
  CAST(SUM(v * kept) AS DOUBLE) / CAST(SUM(kept) AS DOUBLE) AS trimmed_mean_cents
FROM k GROUP BY 1 ORDER BY g"""

  // --- upper-tail dependence -------------------------------------------
  /** Empirical upper-tail dependence of (quantity, price):
    * λ̂_U = P(X > qx ∧ Y > qy) / (1 − 0.95), with qx, qy the EXACT P95
    * thresholds of each margin (smallest value whose cumulative count
    * reaches ⌈0.95·n⌉ — cross-multiplied integers, thresholds via the
    * same prefix-scan primitive as q_exact_percentiles). The copula
    * readout q_corr_matrix's linear correlation misses: do extremes
    * co-occur? All counts exact; one final scaled division.
    */
  private def tailDependence(s: SparkSession, dir: String): DataFrame = {
    // li feeds three subplans (both margins' P95 scans + the final
    // joint-tail agg). MEASURED NEGATIVE (r9): checkpointing the
    // 2-long projection to dedupe the scans lost ~1.2 s (A/B, 2×5
    // reps) — narrow vectorized parquet re-scans beat a 600k-row
    // serialized checkpoint round-trip. Re-scan per consumer.
    val li = Tables(s, dir, "lineitem").select(
      col("l_quantity").cast("long").as("x"),
      cents(col("l_extendedprice")).as("y"))
    def p95(cn: String) = graft.operators.Quantiles.cumCounts(li, cn)
      .where(col("cum") * 20L >= col("n") * 19L)
      .agg(min(col("v")).as(s"q_$cn"))
    val th = p95("x").crossJoin(p95("y"))
    li.crossJoin(broadcast(th))
      .agg(count(lit(1)).as("n"),
        max(col("q_x")).as("qx"), max(col("q_y")).as("qy"),
        sum(when(col("x") > col("q_x"), 1L).otherwise(0L)).as("n_x"),
        sum(when(col("y") > col("q_y"), 1L).otherwise(0L)).as("n_y"),
        sum(when(col("x") > col("q_x") && col("y") > col("q_y"), 1L)
          .otherwise(0L)).as("n_joint"))
      .select(col("n"), col("qx"), col("qy"), col("n_x"), col("n_y"),
        col("n_joint"),
        (dd(col("n_joint")) * lit(20.0) / dd(col("n"))).as("lambda_u"))
  }

  private val tailDependenceOracle = """WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
    CAST(FLOOR(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y
  FROM lineitem
), cx AS (
  SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM (SELECT x AS v, COUNT(*) AS cnt FROM li GROUP BY 1)
), cy AS (
  SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM (SELECT y AS v, COUNT(*) AS cnt FROM li GROUP BY 1)
), th AS (
  SELECT
    (SELECT MIN(v) FROM cx WHERE cum * 20 >= (SELECT MAX(cum) FROM cx) * 19) AS qx,
    (SELECT MIN(v) FROM cy WHERE cum * 20 >= (SELECT MAX(cum) FROM cy) * 19) AS qy
)
SELECT COUNT(*) AS n, MAX(qx) AS qx, MAX(qy) AS qy,
  CAST(SUM(CASE WHEN x > qx THEN 1 ELSE 0 END) AS BIGINT) AS n_x,
  CAST(SUM(CASE WHEN y > qy THEN 1 ELSE 0 END) AS BIGINT) AS n_y,
  CAST(SUM(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END) AS BIGINT) AS n_joint,
  CAST(SUM(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END) AS DOUBLE)
    * CAST(20 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lambda_u
FROM li, th"""

  // --- Wilson score interval --------------------------------------------
  /** Wilson 95% score interval for the urgent-order share per market
    * segment — the proportion CI that stays inside [0,1] and behaves
    * at small n where q_two_proportion_z's Wald form degenerates.
    * Counts exact; the interval is fixed double arithmetic mirrored
    * term-for-term (z = 1.96 literal, both engines IEEE).
    */
  private def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
    val agg = o.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("k"))
    val z = lit(1.96)
    val nD = dd(col("n"))
    val p = dd(col("k")) / nD
    val denom = lit(1.0) + z * z / nD
    val center = (p + z * z / (lit(2.0) * nD)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / nD +
      z * z / (lit(4.0) * nD * nD)) / denom
    agg.select(col("segment"), col("n"), col("k"),
        (center - half).as("wilson_lo"), (center + half).as("wilson_hi"))
      .orderBy("segment")
  }

  private val wilsonCiOracle = """WITH a AS (
  SELECT c_mktsegment AS segment, COUNT(*) AS n,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
)
SELECT segment, n, k,
  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
     + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)))
    / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       / CAST(n AS DOUBLE))
  - CAST(1.96 AS DOUBLE) * SQRT(
      CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        * (CAST(1 AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        / CAST(n AS DOUBLE)
      + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
        / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
    / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       / CAST(n AS DOUBLE)) AS wilson_lo,
  (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
     + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       / (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)))
    / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       / CAST(n AS DOUBLE))
  + CAST(1.96 AS DOUBLE) * SQRT(
      CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        * (CAST(1 AS DOUBLE) - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        / CAST(n AS DOUBLE)
      + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
        / (CAST(4 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
    / (CAST(1 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       / CAST(n AS DOUBLE)) AS wilson_hi
FROM a ORDER BY segment"""

  // --- Shewhart c-chart ---------------------------------------------------
  /** Shewhart control chart over daily order counts: center line and
    * ±3σ limits from exact sufficient statistics (n_days, Σc, Σc² —
    * sample variance), then the out-of-control day counts. The
    * point-anomaly complement of ev_cusum's drift detector (CUSUM
    * catches small sustained shifts; Shewhart catches single
    * excursions). Integer compare c·√ vs double limit is mirrored
    * exactly on both engines.
    */
  private def shewhartChart(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("c"))
    val st = daily.agg(count(lit(1)).as("nd"), sum(col("c")).as("s1"),
      sum(col("c") * col("c")).as("s2"))
    val mean = dd(col("s1")) / dd(col("nd"))
    val sd = sqrt((dd(col("s2")) - dd(col("s1")) * dd(col("s1")) / dd(col("nd")))
      / dd(col("nd") - lit(1L)))
    daily.crossJoin(broadcast(st))
      .select(col("d"), col("c"), col("nd"), mean.as("center"), sd.as("sigma"))
      .agg(max(col("nd")).as("n_days"),
        max(col("center")).as("center"), max(col("sigma")).as("sigma"),
        sum(when(dd(col("c")) > col("center") + lit(3.0) * col("sigma"), 1L)
          .otherwise(0L)).as("n_above_ucl"),
        sum(when(dd(col("c")) < col("center") - lit(3.0) * col("sigma"), 1L)
          .otherwise(0L)).as("n_below_lcl"))
  }

  private val shewhartChartOracle = """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c FROM orders GROUP BY 1
), st AS (
  SELECT COUNT(*) AS nd, CAST(SUM(c) AS BIGINT) AS s1,
    CAST(SUM(c * c) AS BIGINT) AS s2
  FROM daily
), lim AS (
  SELECT nd, CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE) AS center,
    SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      / CAST(nd AS DOUBLE)) / CAST(nd - 1 AS DOUBLE)) AS sigma
  FROM st
)
SELECT MAX(nd) AS n_days, MAX(center) AS center, MAX(sigma) AS sigma,
  CAST(SUM(CASE WHEN CAST(c AS DOUBLE) > center + CAST(3 AS DOUBLE) * sigma
    THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ucl,
  CAST(SUM(CASE WHEN CAST(c AS DOUBLE) < center - CAST(3 AS DOUBLE) * sigma
    THEN 1 ELSE 0 END) AS BIGINT) AS n_below_lcl
FROM daily, lim"""

  // --- Theil's U2 (seasonal vs 1-step naive) -----------------------------
  /** Theil's U2 for the 12-month seasonal-naive forecast of monthly
    * revenue, benchmarked against the 1-month naive:
    * U2 = √(Σ(yₜ−yₜ₋₁₂)² / Σ(yₜ−yₜ₋₁)²) over months where both lags
    * exist. U2 < 1 ⇒ seasonality carries real signal beyond
    * persistence. Squared cent differences sum in DECIMAL(38,0)
    * (month-revenue diffs square past 2⁶³); the month-cardinality lag
    * window is the documented bounded-post-agg class.
    */
  private def theilU2(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val m = Tables(s, dir, "orders")
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val w = Window.orderBy(col("m"))
    val lagged = m
      .withColumn("l1", lag(col("rev"), 1).over(w))
      .withColumn("l12", lag(col("rev"), 12).over(w))
      .where(col("l1").isNotNull && col("l12").isNotNull)
    lagged.agg(count(lit(1)).as("n_months"),
        sum(dec(col("rev") - col("l12")) * dec(col("rev") - col("l12")))
          .as("num"),
        sum(dec(col("rev") - col("l1")) * dec(col("rev") - col("l1")))
          .as("den"))
      .select(col("n_months"),
        sqrt(dd(col("num")) / dd(col("den"))).as("u2"))
  }

  private val theilU2Oracle = """WITH m AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))
      AS BIGINT) AS rev
  FROM orders GROUP BY 1
), lagged AS (
  SELECT rev, LAG(rev, 1) OVER (ORDER BY m) AS l1,
    LAG(rev, 12) OVER (ORDER BY m) AS l12
  FROM m
)
SELECT COUNT(*) AS n_months,
  SQRT(CAST(SUM(CAST(rev - l12 AS HUGEINT) * CAST(rev - l12 AS HUGEINT)) AS DOUBLE)
     / CAST(SUM(CAST(rev - l1 AS HUGEINT) * CAST(rev - l1 AS HUGEINT)) AS DOUBLE)) AS u2
FROM lagged WHERE l1 IS NOT NULL AND l12 IS NOT NULL"""

  // --- Mann-Kendall trend test --------------------------------------------
  /** Mann–Kendall monotone-trend test on monthly revenue: S = Σ_{i<j}
    * sign(yⱼ−yᵢ) over the bounded month table (a ~80² pair join, NOT
    * data-cardinality), variance n(n−1)(2n+5)/18 without tie
    * correction (cent-exact revenues don't tie), continuity-corrected
    * z. The distribution-free complement of q_ols_trend/q_theil_sen —
    * it tests direction without fitting a slope.
    */
  private def mkTrend(s: SparkSession, dir: String): DataFrame = {
    val m = Tables(s, dir, "orders")
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val a = m.select(col("m").as("ma"), col("rev").as("ra"))
    val b = m.select(col("m").as("mb"), col("rev").as("rb"))
    val st = a.crossJoin(b).where(col("ma") < col("mb"))
      .agg(sum(signum(col("rb") - col("ra")).cast("long")).as("s_stat"))
    val n = m.agg(count(lit(1)).as("n_months"))
    st.crossJoin(n)
      .withColumn("var18",
        col("n_months") * (col("n_months") - 1L) * (lit(2L) * col("n_months") + 5L))
      .select(col("n_months"), col("s_stat"), col("var18"),
        (dd(col("s_stat") - signum(col("s_stat")).cast("long"))
          / sqrt(dd(col("var18")) / lit(18.0))).as("z"))
  }

  private val mkTrendOracle = """WITH m AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))
      AS BIGINT) AS rev
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(SUM(SIGN(b.rev - a.rev)) AS BIGINT) AS s_stat
  FROM m a JOIN m b ON a.m < b.m
), nn AS (SELECT COUNT(*) AS n_months FROM m)
SELECT n_months, s_stat,
  CAST(n_months * (n_months - 1) * (2 * n_months + 5) AS BIGINT) AS var18,
  CAST(s_stat - SIGN(s_stat) AS DOUBLE)
    / SQRT(CAST(n_months * (n_months - 1) * (2 * n_months + 5) AS DOUBLE)
      / CAST(18 AS DOUBLE)) AS z
FROM st, nn"""

  // --- inverse-propensity-weighted ATE --------------------------------------
  /** Horvitz–Thompson / IPW average treatment effect for the md5-parity
    * pseudo-treatment on order value, propensity estimated EXACTLY per
    * market segment (p̂ = nt/n): ATE = (Σ_seg ŷt·n/nt − Σ_seg ŷc·n/nc)/N.
    * The 5 segments are a small FIXED set, so their per-segment terms
    * pivot into pinned columns of one row and add left-to-right (the
    * q_tukey_hsd float-order convention); each term's cross-products
    * stay (double·double)/double exactly as written on both engines.
    * True effect is null by construction — the readout should hover
    * near 0, and the naive difference-in-means rides along for
    * contrast. The causal-shelf companion of q_did / q_cuped / q_hte.
    */
  private def ipwAte(s: SparkSession, dir: String): DataFrame = {
    val Segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val o = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"), cents(col("o_totalprice")).as("y"),
        (conv(substring(md5(col("o_orderkey").cast("string")), 1, 1), 16, 10)
          .cast("int") < 8).as("t"))
    val perSeg = o.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("t"), col("y")).otherwise(0L)).as("syt"),
        sum(when(!col("t"), col("y")).otherwise(0L)).as("syc"))
    def term(num: Column, den: Column) =
      when(den > 0L, dd(num) * dd(col("n")) / dd(den))
    val pivoted = perSeg.agg(
      count(lit(1)).as("n_segs"),
      sum(col("n")).as("nn"),
      sum(col("nt")).as("nt_all"), sum(col("nc")).as("nc_all"),
      sum(col("syt")).as("syt_all"), sum(col("syc")).as("syc_all"),
      (Segs.map(sg =>
        max(when(col("seg") === sg,
          term(col("syt"), col("nt")) - term(col("syc"), col("nc"))))) :+
        lit(0.0)).reduceLeft(_ + _).as("term_sum"))
    pivoted.select(col("nn").as("n"), col("n_segs"),
      (col("term_sum") / dd(col("nn"))).as("ate_ipw"),
      (dd(col("syt_all")) / dd(col("nt_all"))
        - dd(col("syc_all")) / dd(col("nc_all"))).as("naive_diff"))
  }

  private val ipwAteOracle = """WITH o AS (
  SELECT c_mktsegment AS seg,
    CAST(FLOOR(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y,
    (strpos('0123456789abcdef',
      substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) < 8 AS t
  FROM orders JOIN customer ON o_custkey = c_custkey
), perseg AS (
  SELECT seg, COUNT(*) AS n,
    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
    CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
    CAST(SUM(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS syt,
    CAST(SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS syc
  FROM o GROUP BY 1
), piv AS (
  SELECT COUNT(*) AS n_segs, CAST(SUM(n) AS BIGINT) AS nn,
    CAST(SUM(nt) AS BIGINT) AS nt_all, CAST(SUM(nc) AS BIGINT) AS nc_all,
    CAST(SUM(syt) AS BIGINT) AS syt_all, CAST(SUM(syc) AS BIGINT) AS syc_all,
    MAX(CASE WHEN seg = 'AUTOMOBILE' THEN
      CASE WHEN nt > 0 THEN CAST(syt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) END
      - CASE WHEN nc > 0 THEN CAST(syc AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nc AS DOUBLE) END END) AS t1,
    MAX(CASE WHEN seg = 'BUILDING' THEN
      CASE WHEN nt > 0 THEN CAST(syt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) END
      - CASE WHEN nc > 0 THEN CAST(syc AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nc AS DOUBLE) END END) AS t2,
    MAX(CASE WHEN seg = 'FURNITURE' THEN
      CASE WHEN nt > 0 THEN CAST(syt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) END
      - CASE WHEN nc > 0 THEN CAST(syc AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nc AS DOUBLE) END END) AS t3,
    MAX(CASE WHEN seg = 'HOUSEHOLD' THEN
      CASE WHEN nt > 0 THEN CAST(syt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) END
      - CASE WHEN nc > 0 THEN CAST(syc AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nc AS DOUBLE) END END) AS t4,
    MAX(CASE WHEN seg = 'MACHINERY' THEN
      CASE WHEN nt > 0 THEN CAST(syt AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) END
      - CASE WHEN nc > 0 THEN CAST(syc AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nc AS DOUBLE) END END) AS t5
  FROM perseg
)
SELECT nn AS n, n_segs,
  (t1 + t2 + t3 + t4 + t5 + CAST(0 AS DOUBLE)) / CAST(nn AS DOUBLE) AS ate_ipw,
  CAST(syt_all AS DOUBLE) / CAST(nt_all AS DOUBLE)
    - CAST(syc_all AS DOUBLE) / CAST(nc_all AS DOUBLE) AS naive_diff
FROM piv"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_exact_percentiles", exactPercentiles, Some(exactPercentilesOracle)),
    QueryDef("q_trimmed_mean", trimmedMean, Some(trimmedMeanOracle)),
    QueryDef("q_tail_dependence", tailDependence, Some(tailDependenceOracle)),
    QueryDef("q_wilson_ci", wilsonCi, Some(wilsonCiOracle)),
    QueryDef("q_shewhart_chart", shewhartChart, Some(shewhartChartOracle)),
    QueryDef("q_theil_u2", theilU2, Some(theilU2Oracle)),
    QueryDef("q_mk_trend", mkTrend, Some(mkTrendOracle)),
    QueryDef("q_ipw_ate", ipwAte, Some(ipwAteOracle)),
    QueryDef("q_cramer_von_mises", cramerVonMises, Some(cramerVonMisesOracle)),
    QueryDef("q_abc_xyz", abcXyz, Some(abcXyzOracle)),
    QueryDef("q_seasonal_index", seasonalIndex, Some(seasonalIndexOracle)),
    QueryDef("q_iv_2sls", iv2sls, Some(iv2slsOracle)),
    QueryDef("q_mediation", mediation, Some(mediationOracle)),
    QueryDef("q_oaxaca", oaxaca, Some(oaxacaOracle)),
    QueryDef("q_partial_corr", partialCorr, Some(partialCorrOracle)),
    QueryDef("q_qq_ladder", qqLadder, Some(qqLadderOracle)),
    QueryDef("q_wasserstein", wasserstein, Some(wassersteinOracle)),
    QueryDef("q_mantel_haenszel", mantelHaenszel, Some(mantelHaenszelOracle)),
    QueryDef("q_cochran_armitage", cochranArmitage, Some(cochranArmitageOracle)),
    QueryDef("q_bartlett", bartlett, Some(bartlettOracle)),
    QueryDef("q_jackknife_ratio", jackknifeRatio, Some(jackknifeRatioOracle)),
    QueryDef("q_gumbel_fit", gumbelFit, Some(gumbelFitOracle)),
    QueryDef("q_hhi", hhi, Some(hhiOracle)),
    QueryDef("q_lorenz_curve", lorenz, Some(lorenzOracle)),
    QueryDef("q_tukey_hsd", tukeyHsd, Some(tukeyHsdOracle)),
    QueryDef("q_runs_test", runsTest, Some(runsTestOracle)),
    QueryDef("q_grubbs", grubbs, Some(grubbsOracle)),
    QueryDef("q_cpk", cpk, Some(cpkOracle)),
    QueryDef("q_negbin_fit", negbinFit, Some(negbinFitOracle)),
    QueryDef("q_poisson_rate", poissonRate, Some(poissonRateOracle)))
}
