package graft.queries


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextDedup
import Sql.D
import graft.sources.{Readers, Writers}

/** SimHash dedup, as-of-join composition, and reader/writer round-trips
  * — each hash-checked against DuckDB.
  */
object ExtraQueries {

  // --- SimHash --------------------------------------------------------
  private def simhash(s: SparkSession, dir: String): DataFrame =
    TextDedup.simHashSignatures(
      TextDedup.wordTokens(Tables(s, dir, "documents"), "doc_id", "text"))
      .orderBy("doc_id")

  private val MaxHamming = 3

  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    TextDedup.simHashPairs(
      TextDedup.simHashSignatures(
        TextDedup.wordTokens(Tables(s, dir, "documents"), "doc_id", "text")),
      MaxHamming)
      .orderBy("a_id", "b_id")

  private val simhashCtes: String = {
    val bits = TextDedup.SimHashBits
    val sums = (0 until bits).map { b =>
      val bit = s"((instr('0123456789abcdef', substring(_h, ${b / 4 + 1}, 1)) - 1) // ${1 << (3 - b % 4)}) % 2"
      s"SUM(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val sigChars = (0 until bits)
      .map(b => s"(CASE WHEN s$b > 0 THEN '1' ELSE '0' END)").mkString(" || ")
    s"""toks AS (
  SELECT DISTINCT doc_id,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
th AS (SELECT doc_id, md5(token) AS _h FROM toks WHERE token <> ''),
sums AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
sigs AS (SELECT doc_id, $sigChars AS simhash FROM sums)"""
  }

  private val simhashOracle: String =
    s"""WITH $simhashCtes
SELECT doc_id, simhash FROM sigs ORDER BY doc_id"""

  private val simhashPairsOracle: String = {
    val bits = TextDedup.SimHashBits
    val bands = MaxHamming + 1
    val bandLen = bits / bands
    val bandSelects = (0 until bands).map(b =>
      s"SELECT doc_id, $b AS band, substring(simhash, ${b * bandLen + 1}, $bandLen) AS bkey, simhash FROM sigs")
      .mkString(" UNION ALL ")
    val hamming = (1 to bits).map(i =>
      s"(CASE WHEN substring(a.simhash, $i, 1) = substring(b.simhash, $i, 1) THEN 0 ELSE 1 END)")
      .mkString(" + ")
    s"""WITH $simhashCtes,
bands AS ($bandSelects)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
  CAST($hamming AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE $hamming <= $MaxHamming
ORDER BY a_id, b_id"""
  }

  // --- as-of join (composed, SURVEY §2.3 extension) -------------------
  /** For every purchase event: the most recent STRICTLY-PRIOR 'view' by
    * the same user, as a max-over-window of conditional event times —
    * the build-side-free as-of formulation that needs one shuffle on
    * user_id and no range-join support.
    */
  private def asof(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("_ms"))
      .withColumn("prev_view_ms",
        max(when(col("event_type") === "view", col("_ms"))).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("_ms").as("purchase_ms"), col("prev_view_ms"),
        (col("_ms") - col("prev_view_ms")).as("gap_ms"))
      .orderBy("event_id")
  }

  private val asofOracle = """WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS _ms FROM events
), w AS (
  SELECT *, MAX(CASE WHEN event_type = 'view' THEN _ms END) OVER (
    PARTITION BY user_id ORDER BY _ms, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_ms
  FROM e)
SELECT event_id, user_id, _ms AS purchase_ms, prev_view_ms,
  _ms - prev_view_ms AS gap_ms
FROM w WHERE event_type = 'purchase' ORDER BY event_id"""

  // --- generic two-table AS-OF join -----------------------------------
  /** [[graft.operators.Joins.asofJoin]] as a library operator (the
    * same-stream composition above stays as `ev_asof_view_purchase`):
    * every purchase matched to the user's latest at-or-before view —
    * checked against DuckDB's NATIVE `ASOF LEFT JOIN`, so the
    * union-tag + running-last implementation must reproduce the
    * reference as-of semantics exactly (inclusive match, left-outer).
    */
  private def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("event_type"), unix_millis(col("ts")).as("ms"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ms").as("purchase_ms"))
    val views = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ms").as("view_ms"))
      .agg(max(col("event_id")).as("view_id"))
    graft.operators.Joins.asofJoin(
        purchases, "purchase_ms", views, "view_ms", Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("purchase_ms"),
        col("view_ms"), col("view_id"))
      .orderBy("event_id")
  }

  /** The skew-safe chunked path of the same operator (1-hour time
    * chunks), graded against the IDENTICAL DuckDB native-ASOF oracle:
    * the two-pass chunk/carry plan must be bit-equal to the one-window
    * plan, boundary cases and all.
    */
  private def asofJoinChunkedQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("event_type"), unix_millis(col("ts")).as("ms"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ms").as("purchase_ms"))
    val views = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ms").as("view_ms"))
      .agg(max(col("event_id")).as("view_id"))
    graft.operators.Joins.asofJoin(
        purchases, "purchase_ms", views, "view_ms", Seq("user_id"),
        chunkSpan = Some(3600000L))
      .select(col("event_id"), col("user_id"), col("purchase_ms"),
        col("view_ms"), col("view_id"))
      .orderBy("event_id")
  }

  /** NEAREST-in-time join (sensor/series alignment): each purchase
    * matched to the view with the smallest |Δt|, either direction, ties
    * to the earlier side. Composed from TWO runs of the same
    * [[graft.operators.Joins.asofJoin]] — backward as-is, forward by
    * negating both time axes (at-or-before on −t ≡ at-or-after on t) —
    * then one integer CASE picks the closer match. Same shuffles as
    * as-of ×2; no new operator machinery. The oracle is DuckDB's
    * native ASOF in both directions (`>=` back, `<` forward; the
    * equal-time case is provably covered by the backward pass on both
    * sides, so the strict/inclusive difference cannot diverge).
    */
  private def asofNearestQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("event_type"), unix_millis(col("ts")).as("ms"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ms").as("p_ms"))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ms").as("v_ms"))
      .agg(max(col("event_id")).as("view_id"))
    val back = graft.operators.Joins.asofJoin(p, "p_ms", v, "v_ms", Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("p_ms"),
        col("v_ms").as("b_ms"), col("view_id").as("b_id"))
    val pN = p.select(col("user_id"), col("event_id").as("f_event"),
      (-col("p_ms")).as("np"))
    val vN = v.select(col("user_id"), (-col("v_ms")).as("nv"),
      col("view_id").as("f_view"))
    val fwd = graft.operators.Joins.asofJoin(pN, "np", vN, "nv", Seq("user_id"))
      .select(col("f_event"), (-col("nv")).as("f_ms"), col("f_view").as("f_id"))
    val pickBack = col("f_ms").isNull ||
      (col("b_ms").isNotNull &&
        (col("p_ms") - col("b_ms")) <= (col("f_ms") - col("p_ms")))
    back.join(fwd, col("event_id") === col("f_event"))
      .select(col("event_id"), col("user_id"), col("p_ms"),
        when(pickBack, col("b_ms")).otherwise(col("f_ms")).as("near_ms"),
        when(pickBack, col("b_id")).otherwise(col("f_id")).as("near_id"))
      .orderBy("event_id")
  }

  private val asofNearestOracle = """WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
), p AS (
  SELECT user_id, event_id, ms AS p_ms FROM e WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ms AS v_ms, MAX(event_id) AS view_id
  FROM e WHERE event_type = 'view' GROUP BY 1, 2
), back AS (
  SELECT p.event_id, p.user_id, p.p_ms, v.v_ms AS b_ms, v.view_id AS b_id
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.p_ms >= v.v_ms
), fwd AS (
  SELECT p.event_id, v.v_ms AS f_ms, v.view_id AS f_id
  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.p_ms < v.v_ms
)
SELECT b.event_id, b.user_id, b.p_ms,
  CASE WHEN f_ms IS NULL OR (b_ms IS NOT NULL AND p_ms - b_ms <= f_ms - p_ms)
       THEN b_ms ELSE f_ms END AS near_ms,
  CASE WHEN f_ms IS NULL OR (b_ms IS NOT NULL AND p_ms - b_ms <= f_ms - p_ms)
       THEN b_id ELSE f_id END AS near_id
FROM back b JOIN fwd f USING (event_id)
ORDER BY b.event_id"""

  private val asofJoinOracle = """WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
), p AS (
  SELECT user_id, event_id, ms AS purchase_ms FROM e WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ms AS view_ms, MAX(event_id) AS view_id
  FROM e WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.purchase_ms, v.view_ms, v.view_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.purchase_ms >= v.view_ms
ORDER BY p.event_id"""

  // --- reader/writer round-trips (W1/W2 + S2/S3 through the oracle) ---
  /** Line-text roundtrip: serialize (orderkey|flag) lines, write/read
    * through the text source, re-parse, aggregate — proving the raw-line
    * on-ramp loses nothing. Parsing happens distributed in the scan
    * stage (split + cast, codegen'd).
    */
  private def textRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables(s, dir, "lineitem").select(
      concat(col("l_orderkey").cast("string"), lit("|"), col("l_returnflag"))
        .as("value"))
    val tmp = graft.util.Scratch.dir("graft_rt_text")
    val path = s"$tmp/lines.txt"
    Writers.text(lines, path)
    Readers.read(s, path)
      .select(split(col("value"), "\\|").as("p"))
      .select(col("p").getItem(0).cast("long").as("l_orderkey"),
        col("p").getItem(1).as("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("key_sum"))
      .orderBy("l_returnflag")
  }

  private val textRoundtripOracle = """SELECT l_returnflag, COUNT(*) AS n,
  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""

  private def roundtrip(s: SparkSession, dir: String, fmt: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_returnflag"), col("l_shipdate"))
    val tmp = graft.util.Scratch.dir(s"graft_rt_$fmt")
    val path = s"$tmp/lineitem.$fmt"
    fmt match {
      case "csv"  => Writers.csv(li, path)
      case "json" => Writers.ndjson(li, path)
      case "orc"  => Writers.orc(li, path)
    }
    val back0 = Readers.read(s, path)
    // S8-style normalization: JSON carries timestamps as ISO strings
    val back = back0.withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
    back.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        (sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")) / 100.0)
          .as("sum_price"),
        max(col("l_shipdate")).as("max_ship"))
      .orderBy("l_returnflag")
  }

  private val roundtripOracle = s"""SELECT l_returnflag, COUNT(*) AS n,
  SUM(l_quantity) AS sum_qty,
  ${Sql.sumCents("l_extendedprice")} AS sum_price,
  MAX(l_shipdate) AS max_ship
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --- Z-order clustering key (multi-dimensional layout) ---------------
  /** Morton/Z-order bit interleave of two key columns, plus a per-tile
    * locality summary. At 100 TB this is the LAYOUT operator for
    * multi-dimensional pruning: sort-by-z before writing and every file's
    * (min,max) footer stats cover a small rectangle of the key space, so
    * point/range predicates on EITHER dimension skip most files — the
    * partition-prune story (io_partition_prune) generalized to two
    * correlated dimensions. The interleave is a literal chain of
    * shift/mask/or terms (codegen'd, shuffle-free); the oracle restates
    * the same bits from the same Scala constants. Each z>>ZBits bucket
    * is by construction a square 2^(ZBits/2)-wide tile (16×16 here): the
    * min/max spreads in the output ARE the file-stat tightness a
    * z-sorted layout would get.
    */
  private val ZBits = 8

  private def zInterleave(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def zorderLocality(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_partkey").bitwiseAND(lit(255L))
    val y = col("l_suppkey").bitwiseAND(lit(255L))
    Tables(s, dir, "lineitem")
      .select(x.as("x"), y.as("y"))
      .withColumn("z", zInterleave(col("x"), col("y")))
      .groupBy(shiftright(col("z"), ZBits).as("z_tile"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy("z_tile")
  }

  private val zorderOracle: String = {
    val terms = (0 until ZBits).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
    s"""WITH k AS (
  SELECT l_partkey & 255 AS x, l_suppkey & 255 AS y FROM lineitem
), z AS (
  SELECT x, y, ${terms.mkString(" | ")} AS z FROM k
)
SELECT z >> $ZBits AS z_tile, COUNT(*) AS n,
  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
FROM z GROUP BY 1 ORDER BY z_tile"""
  }

  // --- schema evolution (mergeSchema read across file generations) ----
  /** A real lake's files are written over months with ADDED columns;
    * `mergeSchema` reconciles the footers and back-fills missing columns
    * with NULL. Graded end-to-end: generation 1 (two columns) and
    * generation 2 (three columns) written separately, read merged,
    * aggregated — the null back-fill must make non-null counts and sums
    * match the oracle computed on the unsplit source. Footer merging is
    * a driver-side listing concern; the scan itself stays columnar and
    * distributed.
    */
  private def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val tmp = graft.util.Scratch.dir("graft_evo")
    li.where(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite").parquet(s"$tmp/t/gen=1")
    li.where(col("l_linenumber") === 2)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").parquet(s"$tmp/t/gen=2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/t")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        count(col("l_extendedprice")).as("n_price"),
        (sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")) / 100.0)
          .as("sum_price"))
  }

  private val schemaEvolutionOracle = s"""SELECT COUNT(*) AS n_rows,
  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
  COUNT(*) FILTER (l_linenumber = 2) AS n_price,
  CAST(SUM(CAST(FLOOR(l_extendedprice * ${Sql.D("100")} + ${Sql.D("0.5")}) AS BIGINT))
    FILTER (l_linenumber = 2) AS BIGINT) / ${Sql.D("100")} AS sum_price
FROM lineitem WHERE l_linenumber IN (1, 2)"""

  // --- small-files compaction (layout maintenance) --------------------
  /** Fragment the table into 64 tiny files (a streaming ingest's typical
    * damage at this SF), compact with [[Writers.compacted]], and grade
    * DATA integrity over the compacted copy against the oracle on the
    * unfragmented source — compaction must be a pure layout change. The
    * file-count collapse itself (64 → ≤4) is asserted in SourcesSpec,
    * where the paths are visible.
    */
  private def compaction(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.util.Scratch.dir("graft_compact")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$tmp/fragmented")
    Writers.compacted(s.read.parquet(s"$tmp/fragmented"), s"$tmp/compacted",
      targetFiles = 4)
    s.read.parquet(s"$tmp/compacted")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_orderkey")).as("key_sum"))
      .orderBy("l_returnflag")
  }

  private val compactionOracle = """SELECT l_returnflag, COUNT(*) AS n,
  SUM(l_quantity) AS sum_qty, CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --- partitioned layout + partition pruning -------------------------
  /** Hive-style partitioned parquet write, read back with a partition
    * filter: the layout that turns a 100 TB scan into a single-partition
    * read. The pruning itself (PartitionFilters on the scan, not a
    * post-read filter) is pinned in PlanSpec; the oracle checks the
    * numbers on the unpartitioned source.
    */
  private def partitionPrune(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.util.Scratch.dir("graft_part")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    s.read.parquet(tmp)
      .where(col("l_returnflag") === "R")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  private val partitionPruneOracle = """SELECT l_returnflag, COUNT(*) AS n,
  SUM(l_quantity) AS sum_qty
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --- dynamic partition pruning, end-to-end --------------------------
  /** Join-driven partition pruning: the fact table is laid out
    * partitioned by month, the dimension carries the filter (year =
    * 1994), and the month partitions to scan are only known at RUNTIME
    * from the dim side — exactly what Spark's dynamic partition pruning
    * (on by default) injects as a `dynamicpruning` subquery into the
    * fact scan, pinned in PlanSpec. At 100 TB this is the difference
    * between scanning 7 years of a date-partitioned fact and scanning
    * the 12 months the dimension filter selects, with no handwritten
    * partition predicate. The oracle restates the join on the
    * unpartitioned source.
    */
  private def dppJoin(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.util.Scratch.dir("graft_dpp")
    val o = Tables(s, dir, "orders")
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    o.select(col("o_orderkey"), col("o_totalprice"), col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(tmp)
    val fact = s.read.parquet(tmp)
    val dim = o.select(col("o_month")).distinct()
      .where(substring(col("o_month"), 1, 4) === "1994")
    fact.join(dim, Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("price_cents"))
      .orderBy("o_month")
  }

  private val dppJoinOracle = s"""WITH f AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_totalprice FROM orders
), dim AS (
  SELECT DISTINCT o_month FROM f WHERE substring(o_month, 1, 4) = '1994'
)
SELECT f.o_month, COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(o_totalprice * ${Sql.D("100")} + ${Sql.D("0.5")}) AS BIGINT)) AS BIGINT) AS price_cents
FROM f JOIN dim USING (o_month)
GROUP BY 1 ORDER BY o_month"""

  // --- bucketed co-location, end-to-end ------------------------------
  /** Both join sides written bucketed+sorted on the join key, then
    * joined via the catalog tables: the layout that amortizes ONE
    * shuffle-write into every future join/aggregate on that key (the
    * no-Exchange-below-the-join plan shape is pinned in JoinsSpec; here
    * the whole path is graded end-to-end against the plain-join
    * oracle). At 100 TB this is how a fact table that's joined daily
    * stops paying its dominant shuffle daily.
    */
  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tmp = graft.util.Scratch.dir("graft_bkt")
    graft.operators.Joins.writeBucketed(
      Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      "q_b_orders", "o_orderkey", 8, s"$tmp/o")
    graft.operators.Joins.writeBucketed(
      Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
      "q_b_lineitem", "l_orderkey", 8, s"$tmp/l")
    s.table("q_b_orders")
      .join(s.table("q_b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  private val bucketedJoinOracle = """SELECT o_orderpriority, COUNT(*) AS n,
  SUM(l_quantity) AS sum_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --- key-skew diagnostics ------------------------------------------
  /** The measurement you run BEFORE reaching for salting/AQE: per-key
    * group sizes reduced to the skew facts (key count, max-key rows,
    * p50/p99 group size, max-over-mean skew ratio). Two map-side
    * combinable aggregations; the percentile runs over one row PER KEY,
    * not per fact row.
    */
  private def skewMetrics(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
    // key-cardinality percentiles via the distributed per-value scan
    // (graft.operators.Quantiles scaladoc), not a single value buffer
    val piv = graft.operators.Quantiles.interpolated(
        keyed.select(col("c")), "c", Seq(), Seq(0.5, 0.99))
      .agg(graft.etl.Transform.round2(
          max(when(col("p") === 0.5, col("q")))).as("p50"),
        graft.etl.Transform.round2(
          max(when(col("p") === 0.99, col("q")))).as("p99"))
    keyed
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"))
      .crossJoin(broadcast(piv))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        col("p50"), col("p99"),
        (col("max_key_rows").cast("double") /
          (col("n_rows").cast("double") / col("n_keys").cast("double")))
          .as("skew_ratio"))
  }

  private val skewMetricsOracle = s"""WITH c AS (
  SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1
), a AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
    MAX(c) AS max_key_rows,
    ${Sql.round2("quantile_cont(c, 0.5)")} AS p50,
    ${Sql.round2("quantile_cont(c, 0.99)")} AS p99
  FROM c
)
SELECT n_keys, n_rows, max_key_rows, p50, p99,
  CAST(max_key_rows AS DOUBLE) /
    (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew_ratio
FROM a"""

  // --- fuzzy match (edit-distance entity resolution verifier) ---------
  /** Blocked edit-distance self-join — the VERIFY stage of entity
    * resolution: per-distance pair counts for supplier names within
    * levenshtein ≤ 2, blocked on |len(a)−len(b)| ≤ 2 — the necessary
    * condition for edit distance ≤ 2, so the block is
    * candidate-complete for variable-length names too. The band is an
    * EQUI-join ([[graft.operators.EditBlocking.lengthBandPairs]]:
    * exploded length keys → shuffled hash join), never a
    * BroadcastNestedLoopJoin over all id pairs. At
    * corpus scale the DISCOVERY stage is PassJoin segment blocking
    * (graded as `q_passjoin_pairs` against this same oracle) or the
    * LSH/MinHash banding this engine already grades — edit-distance is
    * the exact verifier run on candidates only, exactly like
    * exact-Jaccard verifies the shingle LSH. The DP cost is bounded:
    * O(len²) per pair on blocked pairs, never all-pairs across blocks.
    */
  private def fuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
    graft.operators.EditBlocking.lengthBandPairs(sup, 2)
      .select(levenshtein(col("a_nm"), col("b_nm")).cast("long").as("d"))
      .where(col("d") <= 2)
      .groupBy(col("d")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("d")
  }

  private val fuzzyPairsOracle = """SELECT
  levenshtein(a.s_name, b.s_name) AS d, COUNT(*) AS n_pairs
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
  AND abs(length(a.s_name) - length(b.s_name)) <= 2
WHERE levenshtein(a.s_name, b.s_name) <= 2
GROUP BY 1 ORDER BY d"""

  /** [[graft.operators.EditBlocking.passJoinCandidates]] graded for
    * CANDIDATE COMPLETENESS: PassJoin segment blocking discovers
    * candidate pairs in corpus-linear work, exact `levenshtein`
    * verifies them, and the per-distance counts must equal the
    * quadratic length-blocked join's (same oracle as `q_fuzzy_pairs`).
    * A missed candidate shows up as a row-count/hash mismatch, so the
    * pigeonhole guarantee is oracle-checked, not just spec-checked.
    */
  private def passjoinPairs(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
    val cand = graft.operators.EditBlocking.passJoinCandidates(sup, 2)
    val a = sup.select(col("id").as("a_id"), col("nm").as("a_nm"))
    val b = sup.select(col("id").as("b_id"), col("nm").as("b_nm"))
    cand.join(a, "a_id").join(b, "b_id")
      .select(levenshtein(col("a_nm"), col("b_nm")).cast("long").as("d"))
      .where(col("d") <= 2)
      .groupBy(col("d")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("d")
  }

  /** [[q_fuzzy_pairs]]'s verifier upgraded to the native
    * [[graft.plans.DamerauLevenshtein]] expression (true/unrestricted
    * DL — the variant DuckDB's `damerau_levenshtein` computes). Spark
    * ships no transposition-aware distance, so this is the custom-
    * Expression seam earning its keep: `n_tighter` counts pairs where
    * the transposition edit strictly tightens the distance (`dl < lev`)
    * — exactly the human-typo pairs (digit swaps in keyed IDs) a
    * levenshtein-only verifier over-penalizes. Same |Δlen| ≤ 2 block
    * (equi band join, not a nested loop): still candidate-complete,
    * since dl ≥ |Δlen|.
    */
  private def damerauPairs(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
    graft.operators.EditBlocking.lengthBandPairs(sup, 2)
      .select(
        graft.plans.DamerauLevenshtein
          .damerauLevenshtein(col("a_nm"), col("b_nm")).cast("long").as("d"),
        levenshtein(col("a_nm"), col("b_nm")).as("lev"))
      .where(col("d") <= 2)
      .groupBy(col("d")).agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("d") < col("lev"), 1L).otherwise(0L)).as("n_tighter"))
      .orderBy("d")
  }

  private val damerauPairsOracle = """SELECT
  damerau_levenshtein(a.s_name, b.s_name) AS d, COUNT(*) AS n_pairs,
  CAST(SUM(CASE WHEN damerau_levenshtein(a.s_name, b.s_name)
    < levenshtein(a.s_name, b.s_name) THEN 1 ELSE 0 END) AS BIGINT) AS n_tighter
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
  AND abs(length(a.s_name) - length(b.s_name)) <= 2
WHERE damerau_levenshtein(a.s_name, b.s_name) <= 2
GROUP BY 1 ORDER BY d"""

  // --- Jaro-Winkler similarity histogram ------------------------------
  /** [[graft.plans.JaroWinkler]] graded against DuckDB's
    * `jaro_winkler_similarity` on every length-blocked supplier pair:
    * per-pair scores rounded to nano-units (one deterministic double
    * expression each side), bucketed to percent, counted. A
    * disagreement at ANY pair shows up as a bucket-count mismatch, so
    * the native expression's full semantics — match window,
    * half-transpositions, 0.7 boost threshold, 4-char prefix cap — are
    * oracle-checked across thousands of real name pairs, not just unit
    * cases. The hot loop stays inside whole-stage codegen.
    */
  private def jaroBuckets(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
    graft.operators.EditBlocking.lengthBandPairs(sup, 2)
      .select(floor(graft.plans.JaroWinkler.jaroWinkler(col("a_nm"), col("b_nm"))
        * lit(1.0e9) + lit(0.5)).cast("long").as("jw9"))
      .selectExpr("jw9 DIV 10000000 AS pct_bucket")
      .groupBy("pct_bucket").agg(count(lit(1)).as("n_pairs"))
      .orderBy("pct_bucket")
  }

  private val jaroBucketsOracle = s"""WITH p AS (
  SELECT CAST(FLOOR(jaro_winkler_similarity(a.s_name, b.s_name)
    * ${Sql.D("1000000000")} + ${Sql.D("0.5")}) AS BIGINT) AS jw9
  FROM supplier a JOIN supplier b
    ON a.s_suppkey < b.s_suppkey
    AND abs(length(a.s_name) - length(b.s_name)) <= 2
)
SELECT jw9 // 10000000 AS pct_bucket, COUNT(*) AS n_pairs
FROM p GROUP BY 1 ORDER BY pct_bucket"""

  // --- entity resolution capstone: block → verify → cluster -----------
  /** End-to-end entity resolution over supplier names, composing the
    * three stages this engine grades separately: BLOCK (PassJoin
    * segment discovery, [[graft.operators.EditBlocking
    * .passJoinCandidates]] — corpus-linear and candidate-complete for
    * edit distance ≤ 2), VERIFY (exact
    * `levenshtein` on blocked pairs only), CLUSTER
    * ([[graft.operators.Graphs.components]] min-label propagation on the
    * match edges). Every record is then assigned to an entity —
    * singletons included, via a left join with `coalesce(comp, id)` —
    * and the canonical record per entity is the component-min id, which
    * the propagation already computes, so canonicalization is one
    * broadcast-able equi-join on the min id, not a window. The oracle
    * keeps the naive length-block definition, so PassJoin's pigeonhole
    * completeness is oracle-checked end-to-end here too.
    */
  private def entityClusters(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("id"), col("s_name").as("nm"))
    // PassJoin discovery (corpus-linear, candidate-complete for lev ≤ 2)
    // + exact-levenshtein verify on candidates only — the actual scale
    // path the scaladoc promises, not a quadratic length block.
    val a = sup.select(col("id").as("a_id"), col("nm").as("a_nm"))
    val b = sup.select(col("id").as("b_id"), col("nm").as("b_nm"))
    // PassJoin is candidate-complete only for len >= d+1 = 3 (its own
    // documented contract); names shorter than that can still match
    // partners up to len+d, so the tiny len <= d+2 slice goes through
    // the length-band EQUI-join as a supplement (empty on this corpus's
    // fixed-width names, and at scale bounded by the short-string
    // population — both paths stay hash joins, see PlanSpec).
    val shortCand = graft.operators.EditBlocking.lengthBandPairs(
        sup.where(length(col("nm")) <= 4), 2)
      .where(least(length(col("a_nm")), length(col("b_nm"))) <= 2)
      .select("a_id", "b_id")
    // Graphs.components reads its edge input twice (both union
    // branches of the symmetrization) — checkpoint so the PassJoin
    // candidate generation + levenshtein verify run once
    val edges = graft.operators.Checkpoints.round(
      graft.operators.EditBlocking.passJoinCandidates(sup, 2)
        .select("a_id", "b_id")
        .union(shortCand)
        .distinct()
        .join(a, "a_id").join(b, "b_id")
        .where(levenshtein(col("a_nm"), col("b_nm")) <= 2)
        .select("a_id", "b_id"),
      eager = false) // CC's first convergence agg materializes it
    val labels = graft.operators.Graphs.components(edges) // (id, comp=min id)
    sup.join(labels, Seq("id"), "left")
      .select(coalesce(col("comp"), col("id")).as("entity_id"))
      .groupBy("entity_id")
      .agg(count(lit(1)).as("n_records"))
      .join(sup.select(col("id").as("entity_id"), col("nm").as("canonical_nm")),
        Seq("entity_id"))
      .select("entity_id", "canonical_nm", "n_records")
      .orderBy("entity_id")
  }

  private val entityClustersOracle = """WITH RECURSIVE e0 AS (
  SELECT CAST(a.s_suppkey AS BIGINT) AS src, CAST(b.s_suppkey AS BIGINT) AS dst
  FROM supplier a JOIN supplier b
    ON a.s_suppkey < b.s_suppkey
    AND abs(length(a.s_name) - length(b.s_name)) <= 2
    AND levenshtein(a.s_name, b.s_name) <= 2
),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
reach(id, lbl) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN sym e ON r.id = e.src
),
labels AS (SELECT id, MIN(lbl) AS comp FROM reach GROUP BY id),
ent AS (
  SELECT COALESCE(l.comp, CAST(s.s_suppkey AS BIGINT)) AS entity_id
  FROM supplier s LEFT JOIN labels l ON CAST(s.s_suppkey AS BIGINT) = l.id
)
SELECT e.entity_id, c.s_name AS canonical_nm,
  CAST(COUNT(*) AS BIGINT) AS n_records
FROM ent e JOIN supplier c ON e.entity_id = CAST(c.s_suppkey AS BIGINT)
GROUP BY 1, 2 ORDER BY entity_id"""

  // --- table fingerprint (cross-system reconciliation) ----------------
  /** Order-independent per-group table fingerprint for cross-system data
    * reconciliation — validate that a 100 TB table migrated between
    * engines matches WITHOUT moving or sorting either copy: each side
    * computes (n_rows, fp_sum, fp_xor) per group from a canonical
    * per-row rendering and only the fingerprints travel. The row hash is
    * the top 60 bits of md5 (`conv(hex, 16, 10)` here, `CAST('0x…')` in
    * the oracle — bit-identical since md5 is), folded two ways: a
    * mod-2³¹ sum (commutative, overflow-safe at any row count under
    * ANSI) and a bit_xor. Both folds are map-side combinable, so the
    * shuffle carries 3 longs per group regardless of table size.
    */
  private def tableFingerprint(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val rowStr = concat_ws("|",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate").cast("string"))
    val h = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
    li.select(col("l_returnflag"), h.as("h"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(pmod(col("h"), lit(2147483647L))).as("fp_sum"),
        expr("bit_xor(h)").as("fp_xor"))
      .orderBy("l_returnflag")
  }

  private val tableFingerprintOracle = """WITH h AS (
  SELECT l_returnflag,
    CAST(concat('0x', substr(md5(concat_ws('|',
      CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      l_returnflag, l_linestatus,
      CAST(l_shipdate AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM lineitem
)
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(h % 2147483647) AS BIGINT) AS fp_sum,
  bit_xor(h) AS fp_xor
FROM h GROUP BY 1 ORDER BY l_returnflag"""

  // --- CDC merge / upsert (lakehouse MERGE INTO kernel) ---------------
  /** [[graft.operators.Cdc.applyChangeset]] graded end-to-end: a
    * deterministic changeset derived from the orders snapshot itself
    * (deletes for keys ≡0 mod 89, updates ≡0 mod 97 with delete
    * precedence, inserts on fresh negative keys ≡0 mod 83) is applied
    * and the ENTIRE next snapshot is hash-compared against the oracle's
    * full-outer-join formulation of MERGE. Prices travel as exact
    * cents. One shuffle join on the key is the whole cost; AQE
    * broadcasts the changeset when it is incremental-sized.
    */
  private def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val snap = Tables(s, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
    val changes = snap.where(col("k") % 89 === 0 || col("k") % 97 === 0)
      .select(col("k"),
        when(col("k") % 89 === 0, "D").otherwise("U").as("op"),
        lit("X").as("status"), (col("price_cents") + 1000L).as("price_cents"))
      .unionByName(snap.where(col("k") % 83 === 0)
        .select((-col("k")).as("k"), lit("I").as("op"),
          lit("N").as("status"), col("price_cents")))
    graft.operators.Cdc.applyChangeset(snap, changes, "k", "op")
      .select(col("k").as("o_orderkey"), col("status"), col("price_cents"))
      .orderBy("o_orderkey")
  }

  private val mergeUpsertOracle = """WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), chg AS (
  SELECT k, CASE WHEN k % 89 = 0 THEN 'D' ELSE 'U' END AS op,
    'X' AS st, cents + 1000 AS cents
  FROM snap WHERE k % 89 = 0 OR k % 97 = 0
  UNION ALL
  SELECT -k, 'I', 'N', cents FROM snap WHERE k % 83 = 0
), merged AS (
  SELECT COALESCE(c.k, s.k) AS k, c.op,
    CASE WHEN c.op IN ('U', 'I') THEN c.st ELSE s.st END AS st,
    CASE WHEN c.op IN ('U', 'I') THEN c.cents ELSE s.cents END AS cents
  FROM snap s FULL OUTER JOIN chg c ON s.k = c.k
)
SELECT k AS o_orderkey, st AS status, cents AS price_cents
FROM merged WHERE op IS NULL OR op <> 'D' ORDER BY o_orderkey"""

  /** [[graft.operators.Cdc.snapshotDiff]] graded end-to-end: v2 is a
    * deterministic mutation of the orders snapshot (drop keys ≡0 mod
    * 13, bump price-cents on ≡0 mod 11, fresh negative keys from ≡0
    * mod 17), and the diff must classify exactly the churn — graded as
    * per-class row counts plus exact key checksums. The operator's
    * output is proportional to churn, so the aggregate is the honest
    * scale readout.
    */
  private def dataDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables(s, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
    val v2 = v1.where(col("k") % 13 =!= 0)
      .withColumn("price_cents",
        when(col("k") % 11 === 0, col("price_cents") + 100L)
          .otherwise(col("price_cents")))
      .unionByName(v1.where(col("k") % 17 === 0)
        .select((-col("k")).as("k"), col("status"), col("price_cents")))
    graft.operators.Cdc.snapshotDiff(v1, v2, "k")
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"), sum(col("k")).as("key_sum"))
      .orderBy("change")
  }

  private val dataDiffOracle = """WITH v1 AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), v2 AS (
  SELECT k, status,
    CASE WHEN k % 11 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM v1 WHERE k % 13 <> 0
  UNION ALL
  SELECT -k, status, cents FROM v1 WHERE k % 17 = 0
), d AS (
  SELECT COALESCE(v1.k, v2.k) AS k,
    CASE WHEN v1.k IS NULL THEN 'A'
         WHEN v2.k IS NULL THEN 'R'
         WHEN v1.status IS DISTINCT FROM v2.status
           OR v1.cents IS DISTINCT FROM v2.cents THEN 'C' END AS change
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
)
SELECT change, COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum
FROM d WHERE change IS NOT NULL GROUP BY change ORDER BY change"""

  /** PERMISSIVE malformed-record handling — the ingest-robustness
    * contract: a CSV where every orderkey ≡0 mod 19 row carries a
    * non-numeric field is read back with a `_corrupt_record` column;
    * bad rows must be COUNTED and quarantined (raw line preserved),
    * never dropped silently or allowed to poison the parsed aggregate.
    * The classification happens in the scan's codegen'd parser —
    * shuffle-free until the final 1-row audit.
    */
  private def csvMalformed(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables(s, dir, "orders").select(
      when(col("o_orderkey") % 19 === 0,
        concat(col("o_orderkey").cast("string"), lit(",notanumber")))
        .otherwise(concat(col("o_orderkey").cast("string"), lit(","),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").cast("string")))
        .as("value"))
    val tmp = graft.util.Scratch.dir("graft_malformed") + "/m.csv"
    Writers.text(lines, tmp)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k LONG, cents LONG, _corrupt_record STRING")
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(tmp)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("cents"))).as("cents_sum"))
  }

  private val csvMalformedOracle = """SELECT COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN o_orderkey % 19 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
  CAST(SUM(CASE WHEN o_orderkey % 19 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
  CAST(SUM(CASE WHEN o_orderkey % 19 <> 0
    THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS cents_sum
FROM orders"""

  /** Backfill planner — the partition-maintenance op every scheduled
    * pipeline needs: diff the month spine the DATA implies against the
    * partitions that actually exist on disk (here a partitioned write
    * that deterministically skips every ym≡0 mod 3 month, discovered
    * back via partition listing — metadata-only, no row scan), and emit
    * the missing partitions with their expected row counts. The plan
    * output is partitions-cardinality, never rows.
    */
  private def backfillPlan(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("ym"),
      col("o_orderkey"))
    val tmp = graft.util.Scratch.dir("graft_backfill") + "/t"
    o.where(col("ym") % 3 =!= 0).write.mode("overwrite")
      .partitionBy("ym").parquet(tmp)
    val existing = s.read.parquet(tmp).select(col("ym")).distinct()
      .select(col("ym").as("e_ym"))
    o.groupBy(col("ym")).agg(count(lit(1)).as("expected_rows"))
      .join(existing, col("ym") === col("e_ym"), "left_anti")
      .orderBy("ym")
  }

  private val backfillPlanOracle = """SELECT
  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
  COUNT(*) AS expected_rows
FROM orders
WHERE CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) % 3 = 0
GROUP BY 1 ORDER BY ym"""

  /** [[graft.operators.Ids.prefixSum]] graded end-to-end: global
    * contiguous ids in content-hash order over the orders table must
    * equal the oracle's `ROW_NUMBER() OVER (ORDER BY md5(key), key)` —
    * computed WITHOUT the one-task global window (range partition +
    * per-partition offsets; see the operator docs for why that matters
    * at 1e11 rows).
    */
  private def globalIds(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(col("o_orderkey"),
      md5(col("o_orderkey").cast("string")).as("h"))
    graft.operators.Ids.prefixSum(o, Seq(col("h"), col("o_orderkey")), "gid")
      .select(col("o_orderkey"), col("gid"))
      .orderBy("o_orderkey")
  }

  private val globalIdsOracle = """SELECT o_orderkey,
  ROW_NUMBER() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS gid
FROM orders ORDER BY o_orderkey"""

  /** Right-to-erasure cascade (GDPR art. 17 shape): a deterministic
    * deletion cohort (customer keys ≡0 mod 97) is removed from every
    * table that references it — customers directly, orders via
    * o_custkey, lineitem transitively via the erased orders, events
    * via user_id. Each hop is a LEFT ANTI join on the erased-key set
    * (broadcast while the cohort is small, shuffle at scale — no code
    * change), and the graded output is the per-table before/after/
    * erased audit every compliance run must produce.
    */
  private def gdprErasure(s: SparkSession, dir: String): DataFrame = {
    val del = Tables(s, dir, "customer")
      .where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("del_key"))
    val cust = Tables(s, dir, "customer")
    val orders = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    val ev = Tables.events(s, dir)
    val custAfter = cust.join(del, col("c_custkey") === col("del_key"), "left_anti")
    val ordAfter = orders.join(del, col("o_custkey") === col("del_key"), "left_anti")
    val erasedOrders = orders.join(del, col("o_custkey") === col("del_key"), "left_semi")
      .select(col("o_orderkey"))
    val liAfter = li.join(erasedOrders, col("l_orderkey") === col("o_orderkey"), "left_anti")
    val evAfter = ev.join(del, col("user_id") === col("del_key"), "left_anti")
    def audit(name: String, before: DataFrame, after: DataFrame): DataFrame =
      before.agg(count(lit(1)).as("rows_before")).crossJoin(
        after.agg(count(lit(1)).as("rows_after")))
        .select(lit(name).as("table_name"), col("rows_before"), col("rows_after"),
          (col("rows_before") - col("rows_after")).as("rows_erased"))
    audit("customer", cust, custAfter)
      .unionByName(audit("orders", orders, ordAfter))
      .unionByName(audit("lineitem", li, liAfter))
      .unionByName(audit("events", ev, evAfter))
      .orderBy("table_name")
  }

  private val gdprErasureOracle = """WITH del AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
), eo AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)
)
SELECT * FROM (
  SELECT 'customer' AS table_name, (SELECT COUNT(*) FROM customer) AS rows_before,
    (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del)) AS rows_after,
    (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del)) AS rows_erased
  UNION ALL
  SELECT 'orders', (SELECT COUNT(*) FROM orders),
    (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM del)),
    (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM del))
  UNION ALL
  SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
    (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM eo)),
    (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM eo))
  UNION ALL
  SELECT 'events', (SELECT COUNT(*) FROM events),
    (SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM del)),
    (SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM del))
) ORDER BY table_name"""

  // --- salted skew join (result must equal the plain join) ------------
  private def saltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_extendedprice"), col("l_discount"))
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    graft.operators.Joins.saltedJoin(l, o, "k", 16)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + 0.5)
          .cast("long")) / 10000.0).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val saltedOracle = s"""SELECT o_orderpriority, COUNT(*) AS n,
  ${Sql.sumBps(s"l_extendedprice * (${Sql.D("1")} - l_discount)")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --- salted distinct-count for hot groups ---------------------------
  /** COUNT(DISTINCT) under group skew, the two-stage salted formulation:
    * the salt is a HASH OF THE DISTINCT KEY, so each distinct orderkey
    * lands in exactly one (group, salt) cell and per-cell distinct
    * counts ADD exactly — stage 1 spreads a hot group's distinct state
    * over `DistinctSalts` cells (instead of one task holding the whole
    * group's key set), stage 2 sums the disjoint partials. Graded
    * against the plain COUNT(DISTINCT) oracle: must be equal, not
    * approximate. The same shape scales any "big-state per hot key"
    * aggregate (collect_set, exact percentile buckets).
    */
  private val DistinctSalts = 16

  private def saltedDistinct(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        pmod(xxhash64(col("l_orderkey")), lit(DistinctSalts)).as("_salt"))
      .agg(countDistinct(col("l_orderkey")).as("part_orders"),
        count(lit(1)).as("part_rows"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("part_orders")).as("n_orders"),
        sum(col("part_rows")).as("n_rows"))
      .orderBy("l_returnflag")

  private val saltedDistinctOracle = """SELECT l_returnflag,
  COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // --- range join via interval bucketing ------------------------------
  /** Orders matched to overlapping price bands (derived from `nation`,
    * $10k-spaced, $15k-wide — every order can hit 1-2 bands) with
    * [[graft.operators.Joins.pointInRangeJoin]]: a bucketed equi-join,
    * NOT the broadcast-nested-loop plan Spark picks for a raw
    * non-equi predicate. The oracle states the same join as a plain
    * BETWEEN — results must be identical.
    */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables(s, dir, "orders").select(
      col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val bands = Tables(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("band_id"),
      (col("n_nationkey").cast("long") * 1000000L).as("lo_c"),
      (col("n_nationkey").cast("long") * 1000000L + 1500000L).as("hi_c"))
    graft.operators.Joins.pointInRangeJoin(
        pts, col("cents"), bands, col("lo_c"), col("hi_c"), 500000L)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("cents")) / 100.0).as("sum_price"))
      .orderBy("band_id")
  }

  private val rangeJoinOracle = s"""WITH pts AS (
  SELECT o_orderkey,
    CAST(FLOOR(o_totalprice * ${Sql.D("100")} + ${Sql.D("0.5")}) AS BIGINT) AS cents
  FROM orders
), bands AS (
  SELECT CAST(n_nationkey AS BIGINT) AS band_id,
    CAST(n_nationkey AS BIGINT) * 1000000 AS lo_c,
    CAST(n_nationkey AS BIGINT) * 1000000 + 1500000 AS hi_c
  FROM nation
)
SELECT band_id, COUNT(*) AS n_orders,
  CAST(SUM(cents) AS BIGINT) / ${Sql.D("100")} AS sum_price
FROM pts JOIN bands ON cents >= lo_c AND cents < hi_c
GROUP BY band_id ORDER BY band_id"""

  // --- interval-overlap join via bucketing ----------------------------
  /** Order activity intervals (1-8 days from `o_orderdate`, length keyed
    * on the order key) matched to 14-day review windows derived from
    * `nation`, with [[graft.operators.Joins.intervalOverlapJoin]] — a
    * bucketed equi-join emitting each overlapping pair exactly once.
    * The oracle states the same join as a plain `aLo < bHi AND bLo <
    * aHi` — results must be identical.
    */
  private def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("lo"))
      .withColumn("hi", col("lo") + lit(1L) + pmod(col("o_orderkey"), lit(7L)))
    val b = Tables(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("window_id"),
      (col("n_nationkey").cast("long") * 100L).as("wlo"),
      (col("n_nationkey").cast("long") * 100L + 14L).as("whi"))
    graft.operators.Joins.intervalOverlapJoin(
        a, col("lo"), col("hi"), b, col("wlo"), col("whi"), 7L)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy("window_id")
  }

  private val intervalOverlapOracle = """WITH a AS (
  SELECT o_orderkey,
    datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS lo,
    datediff('day', TIMESTAMP '1995-01-01', o_orderdate) + 1 + o_orderkey % 7 AS hi
  FROM orders
), b AS (
  SELECT CAST(n_nationkey AS BIGINT) AS window_id,
    CAST(n_nationkey AS BIGINT) * 100 AS wlo,
    CAST(n_nationkey AS BIGINT) * 100 + 14 AS whi
  FROM nation
)
SELECT window_id, COUNT(*) AS n_orders, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM a JOIN b ON a.lo < b.whi AND b.wlo < a.hi
GROUP BY window_id ORDER BY window_id"""

  // --- catalog table roundtrip (saveAsTable / insertInto) -------------
  /** The catalog-API path a warehouse deployment actually uses:
    * `saveAsTable` registers a parquet table in the session catalog
    * (path-pinned into scratch so repeated runs never pollute the
    * working dir), `insertInto` appends by POSITION through the catalog
    * (the write path every scheduled batch job takes), and the read
    * goes through `spark.table` name resolution — graded end-to-end by
    * aggregating the doubled rows. DROP + overwrite first makes the
    * query idempotent under bench reps.
    */
  private def catalogTable(s: SparkSession, dir: String): DataFrame = {
    val tbl = "graft_nation_catalog"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val nation = Tables(s, dir, "nation")
    nation.write.mode("overwrite")
      .option("path", graft.util.Scratch.dir("graft_catalog_tbl") + "/t")
      .saveAsTable(tbl)
    nation.write.mode("append").insertInto(tbl)
    s.table(tbl).groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_nationkey")).as("key_sum"))
      .orderBy("n_regionkey")
  }

  private val catalogTableOracle: String = """SELECT n_regionkey,
  CAST(2 * COUNT(*) AS BIGINT) AS n_rows,
  CAST(2 * SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY 1 ORDER BY n_regionkey"""

  // --- join-cardinality estimation (CBO statistics) -------------------
  /** The estimate a cost-based optimizer makes before picking a join
    * strategy, graded against ground truth: |R ⋈ S| ≈ Σ_buckets
    * n_r(b)·n_s(b) / max(ndv_r(b), ndv_s(b)) over 16 md5-hash buckets
    * of the key (the histogram-refined form), beside the coarse
    * single-bucket estimate — measuring how much a 16-cell histogram
    * closes the gap. The statistics pass is two map-side-combined
    * aggregates (counts + exact NDVs per bucket — at 100 TB the NDV
    * becomes the HLL sketch with identical dataflow); per-bucket
    * estimates multiply in DOUBLE (overflow-safe at any row count,
    * fixed op order) and floor to BIGINT before the exact sum. Ground
    * truth is the one number a CBO never has — here it grades the
    * estimator's error ratio end-to-end.
    */
  private val CardBuckets = 16

  private def joinCardEstimate(s: SparkSession, dir: String): DataFrame = {
    def bucket(k: Column): Column =
      pmod(conv(substring(md5(k.cast("string")), 1, 2), 16, 10).cast("long"),
        lit(CardBuckets.toLong))
    val r = Tables(s, dir, "orders")
      .groupBy(bucket(col("o_orderkey")).as("b"))
      .agg(count(lit(1)).as("n_r"), countDistinct(col("o_orderkey")).as("ndv_r"))
    val sTab = Tables(s, dir, "lineitem")
      .groupBy(bucket(col("l_orderkey")).as("b"))
      .agg(count(lit(1)).as("n_s"), countDistinct(col("l_orderkey")).as("ndv_s"))
    val perBucket = r.join(sTab, Seq("b"))
      .select(col("n_r"), col("ndv_r"), col("n_s"), col("ndv_s"),
        floor(col("n_r").cast("double") * col("n_s").cast("double") /
          greatest(col("ndv_r"), col("ndv_s")).cast("double")).cast("long")
          .as("est_b"))
      .agg(sum(col("n_r")).as("n_r"), sum(col("ndv_r")).as("ndv_r"),
        sum(col("n_s")).as("n_s"), sum(col("ndv_s")).as("ndv_s"),
        sum(col("est_b")).as("est_hist"))
    val actual = Tables(s, dir, "orders").select(col("o_orderkey").as("k"))
      .join(Tables(s, dir, "lineitem").select(col("l_orderkey").as("k")), Seq("k"))
      .agg(count(lit(1)).as("actual"))
    perBucket.crossJoin(actual)
      .select(col("n_r"), col("ndv_r"), col("n_s"), col("ndv_s"),
        floor(col("n_r").cast("double") * col("n_s").cast("double") /
          greatest(col("ndv_r"), col("ndv_s")).cast("double")).cast("long")
          .as("est_coarse"),
        col("est_hist"), col("actual"),
        (col("est_hist").cast("double") / col("actual").cast("double"))
          .as("err_hist"))
  }

  private val joinCardOracle: String = s"""WITH r AS (
  SELECT CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)) AS BIGINT)
    % $CardBuckets AS b,
    COUNT(*) AS n_r, COUNT(DISTINCT o_orderkey) AS ndv_r
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(concat('0x', substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 2)) AS BIGINT)
    % $CardBuckets AS b,
    COUNT(*) AS n_s, COUNT(DISTINCT l_orderkey) AS ndv_s
  FROM lineitem GROUP BY 1
),
pb AS (
  SELECT CAST(SUM(n_r) AS BIGINT) AS n_r, CAST(SUM(ndv_r) AS BIGINT) AS ndv_r,
    CAST(SUM(n_s) AS BIGINT) AS n_s, CAST(SUM(ndv_s) AS BIGINT) AS ndv_s,
    CAST(SUM(CAST(FLOOR(CAST(n_r AS DOUBLE) * CAST(n_s AS DOUBLE)
      / CAST(GREATEST(ndv_r, ndv_s) AS DOUBLE)) AS BIGINT)) AS BIGINT) AS est_hist
  FROM r JOIN s USING (b)
),
act AS (
  SELECT COUNT(*) AS actual FROM orders o JOIN lineitem l
    ON o.o_orderkey = l.l_orderkey
)
SELECT n_r, ndv_r, n_s, ndv_s,
  CAST(FLOOR(CAST(n_r AS DOUBLE) * CAST(n_s AS DOUBLE)
    / CAST(GREATEST(ndv_r, ndv_s) AS DOUBLE)) AS BIGINT) AS est_coarse,
  est_hist, actual,
  CAST(est_hist AS DOUBLE) / CAST(actual AS DOUBLE) AS err_hist
FROM pb, act"""

  // --- k-anonymity lattice sweep (privacy governance) -----------------
  /** k-anonymity audit over a generalization lattice — the governance
    * gate a training corpus with person-level records passes before
    * release (Sweeney 2002). Quasi-identifiers: (nation, market
    * segment, account-balance bucket). ONE rollup pass computes every
    * equivalence class at every generalization level simultaneously
    * (level 0 = full QI … level 3 = fully generalized) — the lattice
    * sweep is a single shuffle, not one groupBy per level — then a
    * second tiny aggregate reports, per level: class count, classes
    * under k=[[KAnon]], exposed row count, smallest class, and the
    * re-identification risk Σ 1e6 div size over violating classes
    * (exact integer, the expected-matches measure). Levels whose
    * violation count reaches zero are safe to publish at.
    */
  private val KAnon = 5

  /** The lattice core of `q_k_anonymity`, seam-exposed so a spec can
    * feed a frame with genuinely-NULL quasi-identifiers: the ROLLUP
    * level is decoded from `grouping_id()` (n=MSB: 0b111=all
    * generalized, 0b011=m+b, 0b001=b, 0b000=raw), NOT from isNull
    * tests — a NULL quasi-identifier VALUE is a class of its own at
    * every level and can never alias a coarser lattice level.
    */
  private[graft] def kAnonLattice(quasi: DataFrame): DataFrame = {
    val cls = quasi
      .rollup(col("n"), col("m"), col("b"))
      .agg(count(lit(1)).as("sz"), grouping_id().as("gid"))
      .select(
        when(col("gid") === 7, 3L).when(col("gid") === 3, 2L)
          .when(col("gid") === 1, 1L).otherwise(0L).as("level"),
        col("sz"))
    cls.groupBy(col("level"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("sz") < KAnon, 1L).otherwise(0L)).as("n_violating"),
        sum(when(col("sz") < KAnon, col("sz")).otherwise(0L))
          .as("n_exposed_rows"),
        min(col("sz")).as("min_class"),
        sum(when(col("sz") < KAnon, expr("1000000 div sz")).otherwise(0L))
          .as("risk_micro"))
      .orderBy("level")
  }

  private def kAnonymity(s: SparkSession, dir: String): DataFrame =
    kAnonLattice(Tables(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("n"),
        col("c_mktsegment").as("m"),
        floor(col("c_acctbal") / 1000).cast("long").as("b")))

  private val kAnonymityOracle: String = s"""WITH cls AS (
  SELECT CAST(c_nationkey AS BIGINT) AS n, c_mktsegment AS m,
    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS b,
    COUNT(*) AS sz, GROUPING(n, m, b) AS gid
  FROM customer GROUP BY ROLLUP (n, m, b)
), lv AS (
  SELECT CASE WHEN gid = 7 THEN 3 WHEN gid = 3 THEN 2
              WHEN gid = 1 THEN 1 ELSE 0 END AS level, sz
  FROM cls
)
SELECT CAST(level AS BIGINT) AS level,
  COUNT(*) AS n_classes,
  CAST(SUM(CASE WHEN sz < $KAnon THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
  CAST(SUM(CASE WHEN sz < $KAnon THEN sz ELSE 0 END) AS BIGINT)
    AS n_exposed_rows,
  CAST(MIN(sz) AS BIGINT) AS min_class,
  CAST(SUM(CASE WHEN sz < $KAnon THEN 1000000 // sz ELSE 0 END) AS BIGINT)
    AS risk_micro
FROM lv GROUP BY level ORDER BY level"""

  // --- t-closeness (ordered-EMD distribution distance) ----------------
  /** t-closeness over the published generalization level of the
    * k-anonymity lattice: for each (nation, segment) equivalence class,
    * the Earth-Mover's Distance between the class's distribution of the
    * ORDERED sensitive attribute (account-balance k$ bucket) and the
    * global distribution — Li et al. ICDE'07, the attribute-disclosure
    * check k-anonymity and l-diversity both miss (a class can be
    * k-large and l-diverse yet still reveal "everyone here is rich").
    * Ordered EMD is the mean |cumulative difference|:
    * t = (1/(m−1))·Σᵢ|Σ_{j≤i}(p_j − q_j)|.
    *
    * Exactness: the cumulative difference is kept on the common
    * denominator n_g·N — cum_i = Σ_{j≤i}(c_{gj}·N − C_j·n_g), an exact
    * long — and t divides once at the end (at population scale the
    * products outgrow longs; the same plan holds with DECIMAL(38)
    * sums). The dense class×bucket grid comes from a broadcast
    * crossJoin with the ≤12-row global bucket list — classes stream,
    * buckets broadcast, one window per class over a bounded-m frame.
    */
  private val TClose = 0.15

  private def tCloseness(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("n"),
        col("c_mktsegment").as("m"),
        floor(col("c_acctbal") / 1000).cast("long").as("b"))
    val cls = rows.groupBy(col("n"), col("m"), col("b"))
      .agg(count(lit(1)).as("c"))
    val glob = rows.groupBy(col("b")).agg(count(lit(1)).as("cg"))
    val tot = rows.agg(count(lit(1)).as("nn"),
      countDistinct(col("b")).as("m_vals"))
    val classes = cls.groupBy(col("n"), col("m"))
      .agg(sum(col("c")).as("n_g"))
    val grid = classes
      .crossJoin(broadcast(glob.crossJoin(tot)))
      .join(cls, Seq("n", "m", "b"), "left")
      .na.fill(0L, Seq("c"))
    val wc = Window.partitionBy(col("n"), col("m")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum",
      sum(col("c") * col("nn") - col("cg") * col("n_g")).over(wc))
    cum.groupBy(col("n"), col("m"))
      .agg(max(col("n_g")).as("n_g"),
        sum(abs(col("cum"))).as("emd_num"),
        max(col("m_vals")).as("m_vals"), max(col("nn")).as("nn"))
      .select(col("n"), col("m"), col("n_g"),
        (col("emd_num").cast("double") /
          ((col("m_vals") - 1).cast("double") *
            (col("n_g").cast("double") * col("nn").cast("double"))))
          .as("t_close"))
      .withColumn("violates_t", col("t_close") > lit(TClose))
      .orderBy("n", "m")
  }

  private val tClosenessOracle: String = s"""WITH rows_ AS (
  SELECT CAST(c_nationkey AS BIGINT) AS n, c_mktsegment AS m,
    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS b
  FROM customer
), cls AS (
  SELECT n, m, b, COUNT(*) AS c FROM rows_ GROUP BY 1, 2, 3
), gb AS (
  SELECT b, COUNT(*) AS cg FROM rows_ GROUP BY 1
), tot AS (
  SELECT COUNT(*) AS nn, COUNT(DISTINCT b) AS m_vals FROM rows_
), classes AS (
  SELECT n, m, CAST(SUM(c) AS BIGINT) AS n_g FROM cls GROUP BY 1, 2
), grid AS (
  SELECT cl.n, cl.m, cl.n_g, g.b, g.cg, t.nn, t.m_vals,
    COALESCE(c.c, 0) AS c
  FROM classes cl CROSS JOIN gb g CROSS JOIN tot t
  LEFT JOIN cls c ON c.n = cl.n AND c.m = cl.m AND c.b = g.b
), cum AS (
  SELECT n, m, n_g, m_vals, nn,
    CAST(SUM(c * nn - cg * n_g) OVER (PARTITION BY n, m ORDER BY b
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM grid
)
SELECT n, m, MAX(n_g) AS n_g,
  CAST(SUM(ABS(cum)) AS DOUBLE)
    / (CAST(MAX(m_vals) - 1 AS DOUBLE)
      * (CAST(MAX(n_g) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE))) AS t_close,
  CAST(SUM(ABS(cum)) AS DOUBLE)
    / (CAST(MAX(m_vals) - 1 AS DOUBLE)
      * (CAST(MAX(n_g) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE)))
    > ${D(TClose)} AS violates_t
FROM cum GROUP BY n, m ORDER BY n, m"""

  // --- PSI population-drift monitor ------------------------------------
  /** Population Stability Index between the pre-1998 baseline and the
    * 1998+ current order-value mix — the standard production drift
    * monitor (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ); <0.1 stable, >0.25 action).
    * Bins are FIXED $50k price bands (never quantiles of the current
    * batch — a drifting monitor must not move its own goalposts), and
    * counts get +1 Laplace smoothing so an empty band contributes a
    * finite term. Per-bin terms are floored to nano units and
    * integer-summed (the repo's unbounded-float-sum convention), so
    * the total is order-independent; ln runs on a double ratio of
    * exact smoothed longs. One scan, one 10-row grid, no shuffle
    * beyond the map-side-combined bin counts.
    */
  private def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(least(floor(col("o_totalprice") / 50000), lit(9)).cast("long")
          .as("bin"),
        (col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
          .as("cur"))
    val bins = o.groupBy(col("bin")).agg(
      sum(when(!col("cur"), 1L).otherwise(0L)).as("c_base"),
      sum(when(col("cur"), 1L).otherwise(0L)).as("c_cur"))
    val tot = bins.agg(sum(col("c_base")).as("t_base"),
      sum(col("c_cur")).as("t_cur"), count(lit(1)).as("nb"))
    val t = bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("c_base"), col("c_cur"),
        ((col("c_base") + 1).cast("double") /
          (col("t_base") + col("nb")).cast("double")).as("p"),
        ((col("c_cur") + 1).cast("double") /
          (col("t_cur") + col("nb")).cast("double")).as("q"))
      .withColumn("term_nano",
        floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e9)
          .cast("long"))
    t.select(col("bin"), col("c_base"), col("c_cur"), col("term_nano"),
        sum(col("term_nano")).over(Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("psi_nano"))
      .orderBy("bin")
  }

  private val psiDriftOracle: String = s"""WITH o AS (
  SELECT LEAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 50000) AS BIGINT), 9)
      AS bin,
    o_orderdate >= TIMESTAMP '1998-01-01' AS cur
  FROM orders
), bins AS (
  SELECT bin,
    CAST(SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS c_base,
    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
  FROM o GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c_base) AS BIGINT) AS t_base,
    CAST(SUM(c_cur) AS BIGINT) AS t_cur, COUNT(*) AS nb
  FROM bins
), t AS (
  SELECT bin, c_base, c_cur,
    CAST(c_base + 1 AS DOUBLE) / CAST(t_base + nb AS DOUBLE) AS p,
    CAST(c_cur + 1 AS DOUBLE) / CAST(t_cur + nb AS DOUBLE) AS q
  FROM bins CROSS JOIN tot
), terms AS (
  SELECT bin, c_base, c_cur,
    CAST(FLOOR((p - q) * ln(p / q) * ${D("1e9")}) AS BIGINT) AS term_nano
  FROM t
)
SELECT bin, c_base, c_cur, term_nano,
  CAST(SUM(term_nano) OVER () AS BIGINT) AS psi_nano
FROM terms ORDER BY bin"""

  // --- ε-differentially-private histogram -----------------------------
  /** ε-DP histogram by the (two-sided) GEOMETRIC MECHANISM — the
    * integer-valued discrete twin of Laplace noise (Ghosh-Roughgarden-
    * Sundararajan 2009), which is what count queries actually ship:
    * noise K = G₁ − G₂ with Gᵢ ~ Geometric(1−α), α = e^(−ε), gives
    * ε-DP for sensitivity-1 counts. Noise is SEEDED (md5 of the bucket
    * key → two 32-bit uniforms → inverse-CDF `floor(ln(1−u)/ln α)`) so
    * the release is reproducible across engines and retries — the
    * property a production DP pipeline needs anyway (noise must be
    * drawn once per release, not once per reader). α = 1/2 (ε = ln 2);
    * ln is micro-boundary-trusted per the repo's log convention.
    * True counts appear alongside the release because this grades the
    * MECHANISM — a real release would drop them. Completes the privacy
    * suite (k-anonymity, l-diversity, GDPR erasure, PII redaction).
    */
  private def dpHistogram(s: SparkSession, dir: String): DataFrame = {
    def geom(u: Column): Column = // Geometric(1/2) via inverse CDF, ln α = −ln 2
      floor(log(lit(1.0) - u) / (-log(lit(2.0)))).cast("long")
    def u32(salt: String): Column =
      conv(substring(md5(concat(lit(salt), col("o_orderpriority"))), 1, 8), 16, 10)
        .cast("long").cast("double") / 4294967296.0
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_true"))
      .select(col("o_orderpriority").as("bucket"), col("n_true"),
        (geom(u32("a:")) - geom(u32("b:"))).as("k_noise"))
      .select(col("bucket"), col("n_true"), col("k_noise"),
        greatest(lit(0L), col("n_true") + col("k_noise")).as("n_noisy"))
      .orderBy("bucket")
  }

  private val dpHistogramOracle: String = """WITH h AS (
  SELECT o_orderpriority AS bucket, COUNT(*) AS n_true FROM orders GROUP BY 1
), u AS (
  SELECT bucket, n_true,
    CAST(('0x' || substring(md5('a:' || bucket), 1, 8)) AS BIGINT) / 4294967296.0 AS ua,
    CAST(('0x' || substring(md5('b:' || bucket), 1, 8)) AS BIGINT) / 4294967296.0 AS ub
  FROM h
), k AS (
  SELECT bucket, n_true,
    CAST(FLOOR(ln(1.0 - ua) / (-ln(2.0))) AS BIGINT)
      - CAST(FLOOR(ln(1.0 - ub) / (-ln(2.0))) AS BIGINT) AS k_noise
  FROM u
)
SELECT bucket, CAST(n_true AS BIGINT) AS n_true, k_noise,
  GREATEST(CAST(0 AS BIGINT), n_true + k_noise) AS n_noisy
FROM k ORDER BY bucket"""

  // --- A/B power analysis / sample-size calculator --------------------
  /** Sample size for the NEXT experiment from THIS data's variance —
    * the pre-registration readout an experimentation platform serves:
    * n per arm = 2σ²·(z_{α/2}+z_β)²/δ², at α=5%/power=80% (z constants
    * frozen as literals) for a minimum detectable effect of 2% of the
    * current mean. σ² comes from the same six exact integer aggregates
    * as `q_ab_welch` (count/sum/sum-of-squares in cents), so everything
    * after the constants is one fixed double tree over exact longs.
    */
  private def powerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val zSum = 1.959963984540054 + 0.8416212335729143 // z_0.975 + z_0.80
    val g = Tables.events(s, dir)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    g.select(col("n"),
        (col("s1").cast("double") / col("n").cast("double") / 100.0).as("mean"),
        ((col("s2").cast("double") - col("s1").cast("double") *
          col("s1").cast("double") / col("n").cast("double")) /
          (col("n") - 1).cast("double") / 10000.0).as("variance"))
      .select(col("n"), col("mean"), col("variance"),
        (col("mean") * 0.02).as("mde"),
        ceil(lit(2.0) * col("variance") * lit(zSum * zSum) /
          ((col("mean") * 0.02) * (col("mean") * 0.02))).cast("long")
          .as("n_per_arm"))
  }

  private val powerAnalysisOracle: String = {
    val z = "(1.959963984540054 + 0.8416212335729143)"
    s"""WITH g AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS s1,
    CAST(SUM(CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT)
      * CAST(FLOOR(value * ${D("100")} + ${D("0.5")}) AS BIGINT)) AS BIGINT) AS s2
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), m AS (
  SELECT n,
    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / ${D("100")} AS mean,
    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      / CAST(n - 1 AS DOUBLE) / ${D("10000")} AS variance
  FROM g
)
SELECT n, mean, variance, mean * ${D("0.02")} AS mde,
  CAST(CEIL(${D("2.0")} * variance * ($z * $z)
    / ((mean * ${D("0.02")}) * (mean * ${D("0.02")}))) AS BIGINT) AS n_per_arm
FROM m"""
  }

  // --- Fellegi-Sunter record-linkage readout --------------------------
  /** Fellegi-Sunter probabilistic record linkage (JASA 1969 — the
    * canonical match/non-match log-likelihood framework): blocked
    * candidate pairs are scored by Σ_field w, where agreement on field
    * f earns `ln(m_f/u_f)` and disagreement `ln((1−m_f)/(1−u_f))`;
    * u_f (chance agreement of a RANDOM pair) is estimated from the
    * full-table value frequencies as Σ n_v²/N², m_f is the fixed 9/10
    * prior. Because the score depends only on the agreement PATTERN,
    * the readout is the complete pattern table: 2³ rows of (pattern,
    * n_pairs, score_micro) — the decision surface a linkage pipeline
    * thresholds.
    *
    * Parity: u ratios are exact longs; each weight is
    * `floor(ln(·)·1e6)` micro-nats (the repo's log-quantization
    * convention), so pattern scores are exact integer sums. Scale
    * shape: blocking ((nation, segment), ~N/125 per block) bounds the
    * pair join; u-estimation is two map-side-combining groupBys per
    * field; the pattern rollup is 8 rows.
    */
  private def recordLinkage(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"),
        col("c_nationkey").cast("long").as("blk_n"), col("c_mktsegment").as("blk_s"),
        floor(col("c_acctbal").cast("double") / 1000).cast("long").as("f1"),
        (floor(col("c_acctbal").cast("double") * 100 + 0.5).cast("long") % 10).as("f2"),
        (floor(col("c_acctbal").cast("double") / 100).cast("long") % 10).as("f3"))
    val n = cust.agg(count(lit(1)).as("nn"))
    def uWeights(f: String): DataFrame =
      cust.groupBy(col(f)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("num"))
        .crossJoin(n)
        .select(
          floor(log((lit(9.0) * col("nn") * col("nn")) /
            (lit(10.0) * col("num"))) * 1000000).cast("long").as(s"wa_$f"),
          floor(log((lit(1.0) * col("nn") * col("nn") - lit(10.0) * col("num")) /
            (lit(10.0) * (col("nn") * col("nn") - col("num")))) * 1000000)
            .cast("long").as(s"wd_$f"))
    val w = uWeights("f1").crossJoin(uWeights("f2")).crossJoin(uWeights("f3"))
    val a = cust.select(col("id").as("a_id"), col("blk_n"), col("blk_s"),
      col("f1").as("a1"), col("f2").as("a2"), col("f3").as("a3"))
    val b = cust.select(col("id").as("b_id"), col("blk_n"), col("blk_s"),
      col("f1").as("b1"), col("f2").as("b2"), col("f3").as("b3"))
    a.join(b, Seq("blk_n", "blk_s")).where(col("a_id") < col("b_id"))
      .select(
        concat((col("a1") === col("b1")).cast("int"),
          (col("a2") === col("b2")).cast("int"),
          (col("a3") === col("b3")).cast("int")).as("pattern"))
      .groupBy(col("pattern")).agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(w))
      .select(col("pattern"), col("n_pairs"),
        (when(substring(col("pattern"), 1, 1) === "1", col("wa_f1"))
          .otherwise(col("wd_f1")) +
         when(substring(col("pattern"), 2, 1) === "1", col("wa_f2"))
          .otherwise(col("wd_f2")) +
         when(substring(col("pattern"), 3, 1) === "1", col("wa_f3"))
          .otherwise(col("wd_f3"))).as("score_micro"))
      .orderBy(col("score_micro").desc, col("pattern"))
  }

  private val recordLinkageOracle: String = """WITH cust AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
    CAST(c_nationkey AS BIGINT) AS blk_n, c_mktsegment AS blk_s,
    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS f1,
    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) % 10 AS f2,
    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 100) AS BIGINT) % 10 AS f3
  FROM customer
), n AS (SELECT COUNT(*) AS nn FROM cust),
u1 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS num FROM (
  SELECT COUNT(*) AS c FROM cust GROUP BY f1)),
u2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS num FROM (
  SELECT COUNT(*) AS c FROM cust GROUP BY f2)),
u3 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS num FROM (
  SELECT COUNT(*) AS c FROM cust GROUP BY f3)),
w AS (
  SELECT
    CAST(FLOOR(ln((9.0 * nn * nn) / (10.0 * u1.num)) * 1000000) AS BIGINT) AS wa_f1,
    CAST(FLOOR(ln((1.0 * nn * nn - 10.0 * u1.num) / (10.0 * (nn * nn - u1.num))) * 1000000) AS BIGINT) AS wd_f1,
    CAST(FLOOR(ln((9.0 * nn * nn) / (10.0 * u2.num)) * 1000000) AS BIGINT) AS wa_f2,
    CAST(FLOOR(ln((1.0 * nn * nn - 10.0 * u2.num) / (10.0 * (nn * nn - u2.num))) * 1000000) AS BIGINT) AS wd_f2,
    CAST(FLOOR(ln((9.0 * nn * nn) / (10.0 * u3.num)) * 1000000) AS BIGINT) AS wa_f3,
    CAST(FLOOR(ln((1.0 * nn * nn - 10.0 * u3.num) / (10.0 * (nn * nn - u3.num))) * 1000000) AS BIGINT) AS wd_f3
  FROM n, u1, u2, u3
), pat AS (
  SELECT
    CAST(CAST(a.f1 = b.f1 AS INT) AS VARCHAR)
      || CAST(CAST(a.f2 = b.f2 AS INT) AS VARCHAR)
      || CAST(CAST(a.f3 = b.f3 AS INT) AS VARCHAR) AS pattern
  FROM cust a JOIN cust b
    ON a.blk_n = b.blk_n AND a.blk_s = b.blk_s AND a.id < b.id
)
SELECT pattern, COUNT(*) AS n_pairs,
  (CASE WHEN substring(pattern, 1, 1) = '1' THEN wa_f1 ELSE wd_f1 END
   + CASE WHEN substring(pattern, 2, 1) = '1' THEN wa_f2 ELSE wd_f2 END
   + CASE WHEN substring(pattern, 3, 1) = '1' THEN wa_f3 ELSE wd_f3 END)
   AS score_micro
FROM pat, w GROUP BY pattern, wa_f1, wd_f1, wa_f2, wd_f2, wa_f3, wd_f3
ORDER BY score_micro DESC, pattern"""

  // --- l-diversity audit ----------------------------------------------
  /** l-diversity — the disclosure audit k-anonymity can't do: a class
    * of 50 identical-segment customers is 50-anonymous yet leaks the
    * segment outright. Quasi-identifiers (nation, acctbal kilobucket)
    * define the classes; the sensitive value is the market segment.
    * Classes are histogrammed by their distinct-sensitive count l, with
    * the worst single-value disclosure probability in exact basis
    * points (max count ×10000 div class size — integer, order-free).
    * Scale shape: two cascaded groupBys, both map-side-combining; the
    * output is bounded by the sensitive-value cardinality. Companion
    * to `q_k_anonymity` ([[kAnonLattice]]).
    */
  private def lDiversity(s: SparkSession, dir: String): DataFrame = {
    val perVal = Tables(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("n"),
        floor(col("c_acctbal").cast("double") / 1000).cast("long").as("b"),
        col("c_mktsegment").as("sv"))
      .groupBy("n", "b", "sv").agg(count(lit(1)).as("c"))
    val perCls = perVal.groupBy("n", "b")
      .agg(count(lit(1)).as("l"), sum(col("c")).as("sz"),
        max(col("c")).as("maxc"))
    perCls.groupBy(col("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("sz")).as("n_rows"),
        max(expr("maxc * 10000 div sz")).as("worst_disclosure_bps"))
      .orderBy("l")
  }

  private val lDiversityOracle: String = """WITH pv AS (
  SELECT CAST(c_nationkey AS BIGINT) AS n,
    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS b,
    c_mktsegment AS sv, COUNT(*) AS c
  FROM customer GROUP BY 1, 2, 3
), cls AS (
  SELECT n, b, COUNT(*) AS l, CAST(SUM(c) AS BIGINT) AS sz,
    CAST(MAX(c) AS BIGINT) AS maxc
  FROM pv GROUP BY 1, 2
)
SELECT l, COUNT(*) AS n_classes, CAST(SUM(sz) AS BIGINT) AS n_rows,
  CAST(MAX(maxc * 10000 // sz) AS BIGINT) AS worst_disclosure_bps
FROM cls GROUP BY l ORDER BY l"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_record_linkage", recordLinkage, Some(recordLinkageOracle)),
    QueryDef("q_dp_histogram", dpHistogram, Some(dpHistogramOracle)),
    QueryDef("q_power", powerAnalysis, Some(powerAnalysisOracle)),
    QueryDef("q_l_diversity", lDiversity, Some(lDiversityOracle)),
    QueryDef("q_t_closeness", tCloseness, Some(tClosenessOracle)),
    QueryDef("q_psi_drift", psiDrift, Some(psiDriftOracle)),
    QueryDef("q_k_anonymity", kAnonymity, Some(kAnonymityOracle)),
    QueryDef("q_join_card_estimate", joinCardEstimate, Some(joinCardOracle)),
    QueryDef("io_catalog_table", catalogTable, Some(catalogTableOracle)),
    QueryDef("q_interval_overlap", intervalOverlap, Some(intervalOverlapOracle)),
    QueryDef("q_range_join", rangeJoin, Some(rangeJoinOracle)),
    QueryDef("q_salted_skew_join", saltedSkewJoin, Some(saltedOracle)),
    QueryDef("q_salted_distinct", saltedDistinct, Some(saltedDistinctOracle)),
    QueryDef("d_simhash", simhash, Some(simhashOracle)),
    QueryDef("d_simhash_pairs", simhashPairs, Some(simhashPairsOracle)),
    QueryDef("ev_asof_view_purchase", asof, Some(asofOracle)),
    QueryDef("ev_asof_join", asofJoinQ, Some(asofJoinOracle)),
    QueryDef("ev_asof_nearest", asofNearestQ, Some(asofNearestOracle)),
    QueryDef("ev_asof_join_chunked", asofJoinChunkedQ, Some(asofJoinOracle)),
    QueryDef("io_text_roundtrip", textRoundtrip, Some(textRoundtripOracle)),
    QueryDef("io_csv_roundtrip", (s, d) => roundtrip(s, d, "csv"), Some(roundtripOracle)),
    QueryDef("io_json_roundtrip", (s, d) => roundtrip(s, d, "json"), Some(roundtripOracle)),
    QueryDef("io_orc_roundtrip", (s, d) => roundtrip(s, d, "orc"), Some(roundtripOracle)),
    QueryDef("io_partition_prune", partitionPrune, Some(partitionPruneOracle)),
    QueryDef("io_compaction", compaction, Some(compactionOracle)),
    QueryDef("io_bucketed_join", bucketedJoin, Some(bucketedJoinOracle)),
    QueryDef("io_dpp_join", dppJoin, Some(dppJoinOracle)),
    QueryDef("q_skew_metrics", skewMetrics, Some(skewMetricsOracle)),
    QueryDef("q_fuzzy_pairs", fuzzyPairs, Some(fuzzyPairsOracle)),
    QueryDef("q_damerau_pairs", damerauPairs, Some(damerauPairsOracle)),
    QueryDef("q_merge_upsert", mergeUpsert, Some(mergeUpsertOracle)),
    QueryDef("q_data_diff", dataDiff, Some(dataDiffOracle)),
    QueryDef("q_global_ids", globalIds, Some(globalIdsOracle)),
    QueryDef("io_backfill_plan", backfillPlan, Some(backfillPlanOracle)),
    QueryDef("io_csv_malformed", csvMalformed, Some(csvMalformedOracle)),
    QueryDef("q_gdpr_erasure", gdprErasure, Some(gdprErasureOracle)),
    QueryDef("q_passjoin_pairs", passjoinPairs, Some(fuzzyPairsOracle)),
    QueryDef("q_entity_clusters", entityClusters, Some(entityClustersOracle)),
    QueryDef("q_jaro_buckets", jaroBuckets, Some(jaroBucketsOracle)),
    QueryDef("q_table_fingerprint", tableFingerprint, Some(tableFingerprintOracle)),
    QueryDef("io_zorder_locality", zorderLocality, Some(zorderOracle)),
    QueryDef("io_schema_evolution", schemaEvolution, Some(schemaEvolutionOracle)))
}
