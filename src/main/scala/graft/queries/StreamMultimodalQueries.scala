package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Checkpoints, Multimodal}
import graft.streaming.EventStreams

/** Streaming + multimodal surface.
  *
  * The `stream_*` queries run REAL Structured Streaming queries (file
  * source → windowed agg / mapGroupsWithState → memory sink, driven
  * synchronously) and are hash-checked against the SAME DuckDB oracles
  * as their batch twins — proving the incremental plans compute the
  * batch answer.
  *
  * The `m_*` queries run the multimodal plumbing (binary payloads,
  * partition-batched stub decode, frame sampling) with the stub's
  * hash-derived dimensions re-stated in SQL.
  */
object StreamMultimodalQueries {

  // --- streaming ------------------------------------------------------
  private def streamHourly(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.hourlyCounts(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_hourly", OutputMode.Complete())
      .orderBy("hour_epoch", "event_type")
  }

  /** Streaming twin of `ev_hopping`: the overlapping-window aggregate
    * run through a real streaming query (Complete mode — the replay fits
    * the horizon), hash-checked against the SAME generate_series oracle.
    */
  private def streamHopping(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.hoppingCounts(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_hopping", OutputMode.Complete())
      .orderBy("window_start_ms", "event_type")
  }

  private def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = EventStreams.eventsStream(s, s"$dir/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val out = EventStreams.sessionize(events).toDF()
    EventStreams.runToMemory(s, out, "graft_stream_sessionize", OutputMode.Update())
      .orderBy("user_id")
  }

  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.dedupPairs(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_dedup", OutputMode.Append())
      .orderBy("user_id", "event_type")
  }

  private val streamDedupOracle =
    "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"

  /** The bounded-state watermarked variant, graded against the same
    * DISTINCT oracle: the replay fits one micro-batch, so no state
    * expires mid-run and the output must still be exactly DISTINCT —
    * while the plan is the one whose state Spark CAN expire on an
    * unbounded stream (state expiry itself is pinned in StreamingSpec).
    */
  private def streamDedupWm(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.dedupPairsWatermarked(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_dedup_wm", OutputMode.Append())
      .orderBy("user_id", "event_type")
  }

  /** Append-mode twin of `stream_hourly`: Complete mode re-emits every
    * window each batch and its state NEVER evicts (unbounded on a real
    * stream); Append emits each window once, finalized, when the
    * watermark passes its end — the bounded-state production shape. The
    * oracle applies the same cutoff (window end ≤ end-of-replay
    * watermark), so the hash-compare pins the eviction boundary.
    */
  private def streamHourlyAppend(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.hourlyCounts(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_hourly_append", OutputMode.Append())
      .orderBy("hour_epoch", "event_type")
  }

  private val streamHourlyAppendOracle = s"""WITH h AS (
  SELECT
    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
    event_type, COUNT(*) AS n_events, ${Sql.sumCents("value")} AS value_sum
  FROM events GROUP BY 1, 2
)
SELECT hour_epoch, event_type, n_events, value_sum
FROM h
WHERE (hour_epoch + 3600) * 1000 <= (SELECT MAX(epoch_ms(ts)) FROM events) - 3600000
ORDER BY hour_epoch, event_type"""

  private val SessGapMs = 1800000L  // 30 min, same gap as the batch twin
  private val SessHorizonMs = 7200000L // 2 h watermark

  /** Finalized-session stream (bounded state via EventTimeTimeout).
    * Oracle subtlety: sessions closed by a later event emit in-batch
    * regardless of the watermark, but each user's LAST session emits
    * only if the end-of-replay watermark (max ts − horizon) strictly
    * passed its `end + gap` timeout — the SQL twin applies exactly that
    * cutoff, so the hash-compare pins the timeout semantics too.
    */
  private def streamSessionsWm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = EventStreams.eventsStream(s, s"$dir/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val out = EventStreams.finalizedSessions(events, SessGapMs, "2 hours").toDF()
    EventStreams.runToMemory(s, out, "graft_stream_sessions_wm", OutputMode.Append())
      .orderBy("user_id", "session_start_ms")
  }

  private val streamSessionsWmOracle = s"""WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
), l AS (
  SELECT user_id, event_id, ms,
    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e
), s AS (
  SELECT user_id, event_id, ms,
    CASE WHEN prev IS NULL OR ms - prev > $SessGapMs THEN 1 ELSE 0 END AS is_new
  FROM l
), g AS (
  SELECT user_id, ms,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM s
), sess AS (
  SELECT user_id, sess,
    MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
    COUNT(*) AS n_events,
    MAX(sess) OVER (PARTITION BY user_id) AS last_sess
  FROM g GROUP BY user_id, sess
)
SELECT user_id, session_start_ms, session_end_ms,
  CAST(n_events AS BIGINT) AS n_events
FROM sess
WHERE sess < last_sess
   OR session_end_ms + $SessGapMs < (SELECT MAX(ms) FROM e) - $SessHorizonMs
ORDER BY user_id, session_start_ms"""

  /** Streaming CEP — [[EventStreams.cepSessions]] graded end-to-end:
    * every finalized session carries its ordered event-initial string
    * and the funnel-pattern (`v.*v.*p`) verdict. The oracle is the
    * batch sessionization restated WITH the sequence payload
    * (deterministic (ms, event_id) list order, 200-event slice) and
    * the same emission cutoff as `stream_sessions_wm` (in-replay close
    * OR timeout past the final watermark).
    */
  private def streamCepFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = EventStreams.eventsStream(s, s"$dir/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val out = EventStreams.cepSessions(events, "v.*v.*p", SessGapMs, "2 hours").toDF()
    EventStreams.runToMemory(s, out, "graft_stream_cep", OutputMode.Append())
      .orderBy("user_id", "session_start_ms")
  }

  private val streamCepFunnelOracle = s"""WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
    substring(event_type, 1, 1) AS ini
  FROM events
), l AS (
  SELECT user_id, event_id, ms, ini,
    LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e
), s AS (
  SELECT user_id, event_id, ms, ini,
    CASE WHEN prev IS NULL OR ms - prev > $SessGapMs THEN 1 ELSE 0 END AS is_new
  FROM l
), g AS (
  SELECT user_id, event_id, ms, ini,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM s
), sess AS (
  SELECT user_id, sess,
    MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
    COUNT(*) AS n_events,
    array_to_string(list_slice(list(ini ORDER BY ms, event_id), 1, 200), '') AS seq,
    MAX(sess) OVER (PARTITION BY user_id) AS last_sess
  FROM g GROUP BY user_id, sess
)
SELECT user_id, session_start_ms, session_end_ms,
  CAST(n_events AS BIGINT) AS n_events, seq,
  regexp_matches(seq, 'v.*v.*p') AS matched
FROM sess
WHERE sess < last_sess
   OR session_end_ms + $SessGapMs < (SELECT MAX(ms) FROM e) - $SessHorizonMs
ORDER BY user_id, session_start_ms"""

  /** Stream-static enrichment: the events stream joins the static
    * customer dimension (user_id → market segment, broadcast per
    * micro-batch) and aggregates per (segment, event_type). Graded
    * against the equivalent batch join — the streaming plan must
    * compute the batch answer.
    */
  private def streamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val out = EventStreams.enrichedSegmentCounts(
      EventStreams.eventsStream(s, s"$dir/events.parquet"), dim,
      "user_id", "c_custkey", "c_mktsegment")
    EventStreams.runToMemory(s, out, "graft_stream_static", OutputMode.Complete())
      .orderBy("c_mktsegment", "event_type")
  }

  private val streamStaticJoinOracle = s"""SELECT c_mktsegment, event_type,
  COUNT(*) AS n_events, ${Sql.sumCents("value")} AS value_sum
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
ORDER BY c_mktsegment, event_type"""

  /** `foreachBatch` custom-sink exemplar: folds the stream into a
    * latest-event-per-user parquet serving table (read-union-argmax-
    * swap per micro-batch, idempotent under replays), then grades the
    * TABLE against the batch argmax — proving the fold computes the
    * batch answer.
    */
  private def streamForeachLatest(s: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("graft_latest") + "/latest"
    EventStreams.latestPerUser(
      EventStreams.eventsStream(s, s"$dir/events.parquet"), table)
    s.read.parquet(table)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_id"), col("event_type"), col("value"))
      .orderBy("user_id")
  }

  private val streamForeachLatestOracle = """WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value FROM events
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY ts_ms DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, ts_ms, event_id, event_type, value
FROM r WHERE rn = 1 ORDER BY user_id"""

  /** [[EventStreams.cdcUpsertTable]] end-to-end: the event stream as a
    * CDC command log (errors delete, everything else upserts) folded
    * into a versioned serving table with tombstones; the surviving
    * rows must equal the batch answer — latest event per user, minus
    * users whose latest event is a delete. Last-writer-wins by
    * (ts_ms, event_id) makes the grade batching-invariant.
    */
  private def streamCdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val table = graft.util.Scratch.dir("graft_cdc") + "/snapshot"
    EventStreams.cdcUpsertTable(
      EventStreams.eventsStream(s, s"$dir/events.parquet"), table)
    s.read.parquet(table)
      .where(col("op") =!= "D")
      .select(col("user_id"), col("ts_ms"), col("event_id"), col("value"))
      .orderBy("user_id")
  }

  private val streamCdcUpsertOracle = """WITH e AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value FROM events
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
    ORDER BY ts_ms DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, ts_ms, event_id, value
FROM r WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"""

  private def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.viewPurchaseJoin(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_join", OutputMode.Append())
      .orderBy("purchase_id", "view_id")
  }

  private val streamJoinOracle = s"""WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
)
SELECT p.event_id AS purchase_id, v.event_id AS view_id,
  p.ms AS purchase_ms, v.ms AS view_ms
FROM e p JOIN e v
  ON p.event_type = 'purchase' AND v.event_type = 'view'
  AND p.user_id = v.user_id
  AND v.ms >= p.ms - 3600000 AND v.ms <= p.ms
ORDER BY purchase_id, view_id"""

  /** LEFT OUTER twin of `stream_join`: same matched rows, plus a
    * null-view row per unmatched purchase — but ONLY for purchases the
    * end-of-replay watermark has already released (see
    * [[EventStreams.viewPurchaseLeftJoin]]). Null view_id sorts FIRST
    * on both sides (Spark's ASC default; DuckDB needs it pinned).
    */
  private def streamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.viewPurchaseLeftJoin(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    EventStreams.runToMemory(s, out, "graft_stream_join_outer", OutputMode.Append())
      .orderBy(col("purchase_id"), col("view_id").asc_nulls_first)
  }

  private val streamJoinOuterOracle = s"""WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
),
wm AS (
  SELECT LEAST(
    (SELECT MAX(ms) FROM e WHERE event_type = 'view'),
    (SELECT MAX(ms) FROM e WHERE event_type = 'purchase')) - 7200000 AS w
)
SELECT p.event_id AS purchase_id, v.event_id AS view_id,
  p.ms AS purchase_ms, v.ms AS view_ms
FROM e p LEFT JOIN e v
  ON v.event_type = 'view' AND p.user_id = v.user_id
  AND v.ms >= p.ms - 3600000 AND v.ms <= p.ms
WHERE p.event_type = 'purchase'
  AND (v.event_id IS NOT NULL OR p.ms < (SELECT w FROM wm))
ORDER BY purchase_id, view_id NULLS FIRST"""

  /** transformWithState exemplar (Spark 4 arbitrary-state API,
    * RocksDB-backed): per-user running sequence + cumulative cents,
    * graded against the batch ROW_NUMBER / running-SUM window — the
    * incremental plan must compute the batch answer.
    */
  private def streamTwsRunning(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.runningUserStats(
        EventStreams.eventsStream(s, s"$dir/events.parquet"))
      EventStreams.runToMemory(s, out, "graft_stream_tws", OutputMode.Append())
        .orderBy("event_id")
    }

  /** [[EventStreams.streamingEwma]] end-to-end: the inherently
    * SEQUENTIAL per-key fold running as carried `transformWithState`
    * state. Each micro-batch emits the running (ewma, n); n is strictly
    * increasing per user, so keeping each user's max-n row recovers the
    * final fold state — which must equal the batch `ev_ewma` answer
    * bit-for-bit (same IEEE left-fold, replayed incrementally).
    */
  /** [[EventStreams.streamingClampedBalance]] end-to-end: the Lindley
    * fold B = max(0, B + d) carried as per-user state. n_moves is
    * strictly increasing, so each user's max-n row is the final fold
    * state; the top-20 rollup is graded against the SAME oracle as the
    * batch `ev_clamped_running` closed form — sequential fold and
    * Skorokhod reflection must agree exactly.
    */
  /** [[EventStreams.SprtProcessor]] replaying the events file: the
    * online sequential test must conclude at EXACTLY the same
    * (n, conversions, LLR) point as the batch prefix-sum formulation —
    * graded against the SAME oracle as `q_sprt`. The memory sink holds
    * at most one decision row per arm (the processor freezes a decided
    * arm), so the rollup is a plain projection.
    */
  private def streamSprt(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingSprt(
        EventStreams.eventsStream(s, s"$dir/events.parquet"),
        Olap2Queries.SprtKp, Olap2Queries.SprtKn, Olap2Queries.SprtA)
      EventStreams.runToMemory(s, out, "graft_stream_sprt",
          OutputMode.Append())
        .select(col("arm"), col("n_at_decision"), col("conversions"),
          col("llr_nano"), col("decision"))
        .orderBy("arm")
    }

  private def streamClamped(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingClampedBalance(
        EventStreams.eventsStream(s, s"$dir/events.parquet"))
      EventStreams.runToMemory(s, out, "graft_stream_clamped",
          OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_moves"), col("final_cents"),
          col("peak_cents"))).as("m"))
        .select(col("user_id"), col("m.n_moves").as("n_moves"),
          col("m.final_cents").as("final_cents"),
          col("m.peak_cents").as("peak_cents"))
        .orderBy(col("final_cents").desc, col("user_id"))
        .limit(20)
    }

  private val streamClampedOracle = EventQueries.clampedRunningOracle

  /** [[EventStreams.streamingTopK]] end-to-end: continuous top-5
    * values per event type as bounded `transformWithState` state.
    * n_seen is strictly increasing per key, so each key's max-n_seen
    * row is the final leaderboard; graded against the batch
    * ROW_NUMBER top-5. Top-k merge-insertion is permutation-invariant
    * over distinct event ids, so unlike the fold twins this query has
    * NO cross-batch ordering assumption.
    */
  private def streamTopK(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingTopK(
        EventStreams.eventsStream(s, s"$dir/events.parquet"), 5)
      EventStreams.runToMemory(s, out, "graft_stream_topk", OutputMode.Append())
        .groupBy(col("event_type"))
        .agg(max(struct(col("n_seen"), col("top_cents"), col("top_ids"))).as("m"))
        .select(col("event_type"),
          posexplode(arrays_zip(col("m.top_cents"), col("m.top_ids")))
            .as(Seq("p", "x")))
        .select(col("event_type"), (col("p") + 1).as("rk"),
          col("x.top_cents").as("cents"), col("x.top_ids").as("event_id"))
        .orderBy(col("event_type"), col("rk"))
    }

  /** Streaming PSI drift monitor: [[EventStreams.dailyValueBands]]
    * (watermarked daily windows over fixed $10 purchase-value bands)
    * drained through a real streaming query, then each day's
    * distribution scored against a STATIC baseline — the first 15
    * replay days, computed batch-side as a production monitor would
    * pin its reference window. Per-band terms are (p−q)·ln(p/q) with
    * +1 smoothing, nano-floored and integer-summed per day (the
    * q_psi_drift conventions); graded against the batch restatement of
    * the same daily-band aggregate.
    */
  private def streamPsi(s: SparkSession, dir: String): DataFrame = {
    val out = EventStreams.dailyValueBands(
      EventStreams.eventsStream(s, s"$dir/events.parquet"))
    // checkpoint: the readout self-joins the memory-sink view (days ×
    // grid × daily), and re-referencing the same view thrice trips
    // Catalyst's conflicting-reference resolution
    val daily = Checkpoints.round(EventStreams.runToMemory(s, out,
      "graft_stream_psi", OutputMode.Complete()))
    val base = Tables.events(s, dir)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .select(expr("unix_millis(ts) div 86400000").as("d"),
        least(floor(col("value") / 10), lit(9)).cast("long").as("band"))
    val dlo = base.agg(min(col("d")).as("dlo"))
    val baseline = base.crossJoin(broadcast(dlo))
      .where(col("d") < col("dlo") + 15)
      .groupBy(col("band")).agg(count(lit(1)).as("nb"))
    val baseTot = baseline.agg(sum(col("nb")).as("tb"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    // dense day × band grid so absent bands smooth to (0+1) mass
    val days = daily.select(col("day_epoch")).distinct()
    val bands = s.range(0, 10).select(col("id").as("band"))
    val grid = days.crossJoin(broadcast(bands))
      .join(daily, Seq("day_epoch", "band"), "left")
      .select(col("day_epoch"), col("band"),
        coalesce(col("n"), lit(0L)).as("n"))
    val dayTot = grid.groupBy(col("day_epoch")).agg(sum(col("n")).as("td"))
    grid
      .join(broadcast(dayTot), Seq("day_epoch"))
      .join(broadcast(baseline.join(bands, Seq("band"), "right")
        .select(col("band"), coalesce(col("nb"), lit(0L)).as("nb"))),
        Seq("band"))
      .crossJoin(broadcast(baseTot))
      .select(col("day_epoch"), col("td"),
        floor(((col("n") + 1).cast("double") / (col("td") + 10).cast("double")
          - (col("nb") + 1).cast("double") / (col("tb") + 10).cast("double"))
          * log(((col("n") + 1).cast("double")
              / (col("td") + 10).cast("double"))
            / ((col("nb") + 1).cast("double")
              / (col("tb") + 10).cast("double"))) * 1e9)
          .cast("long").as("term_nano"))
      .groupBy(col("day_epoch"))
      .agg(max(col("td")).as("n_day"), sum(col("term_nano")).as("psi_nano"))
      .orderBy("day_epoch")
  }

  private val streamPsiOracle: String = """WITH p AS (
  SELECT epoch_ms(ts) // 86400000 AS d,
    LEAST(CAST(FLOOR(CAST(value AS DOUBLE) / 10) AS BIGINT), 9) AS band
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), daily AS (
  SELECT d * 86400 AS day_epoch, band, COUNT(*) AS n FROM p GROUP BY 1, 2
), dlo AS (SELECT MIN(d) AS dlo FROM p),
baseline AS (
  SELECT band, COUNT(*) AS nb FROM p CROSS JOIN dlo
  WHERE d < dlo + 15 GROUP BY 1
), basetot AS (SELECT CAST(SUM(nb) AS BIGINT) AS tb FROM baseline),
bands AS (SELECT unnest(generate_series(0, 9)) AS band),
grid AS (
  SELECT dy.day_epoch, b.band, CAST(COALESCE(d2.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT day_epoch FROM daily) dy
  CROSS JOIN bands b
  LEFT JOIN daily d2 ON d2.day_epoch = dy.day_epoch AND d2.band = b.band
), daytot AS (
  SELECT day_epoch, CAST(SUM(n) AS BIGINT) AS td FROM grid GROUP BY 1
), terms AS (
  SELECT g.day_epoch, t.td,
    CAST(FLOOR((CAST(g.n + 1 AS DOUBLE) / CAST(t.td + 10 AS DOUBLE)
      - CAST(COALESCE(bl.nb, 0) + 1 AS DOUBLE) / CAST(bt.tb + 10 AS DOUBLE))
      * ln((CAST(g.n + 1 AS DOUBLE) / CAST(t.td + 10 AS DOUBLE))
        / (CAST(COALESCE(bl.nb, 0) + 1 AS DOUBLE)
          / CAST(bt.tb + 10 AS DOUBLE))) * 1e9) AS BIGINT) AS term_nano
  FROM grid g
  JOIN daytot t ON g.day_epoch = t.day_epoch
  LEFT JOIN baseline bl ON g.band = bl.band
  CROSS JOIN basetot bt
)
SELECT day_epoch, MAX(td) AS n_day,
  CAST(SUM(term_nano) AS BIGINT) AS psi_nano
FROM terms GROUP BY 1 ORDER BY day_epoch"""

  /** [[EventStreams.TokenBucketProcessor]] end-to-end: the per-user
    * token-bucket rate limiter replaying the events file. The exact
    * integer micro-token trajectory must land every user at the same
    * (n, throttled, tokens) point as the batch recursive fold — graded
    * against that restatement. Top 20 by throttle count (total order),
    * the abuse-review queue.
    */
  private def streamTokenBucket(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingTokenBucket(
        EventStreams.eventsStream(s, s"$dir/events.parquet"))
      EventStreams.runToMemory(s, out, "graft_stream_bucket",
          OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("n_throttled"),
          col("tokens_micro"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          col("m.n_throttled").as("n_throttled"),
          col("m.tokens_micro").as("tokens_micro"))
        .orderBy(col("n_throttled").desc, col("user_id"))
        .limit(20)
    }

  private val streamTokenBucketOracle: String = """WITH RECURSIVE e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), h(user_id, rn, ms, tok, thr) AS (
  SELECT user_id, CAST(1 AS BIGINT), ms, CAST(4000000 AS BIGINT),
    CAST(0 AS BIGINT)
  FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, h.rn + 1, GREATEST(h.ms, e.ms),
    CASE WHEN LEAST(5000000, h.tok + CASE WHEN e.ms > h.ms
        THEN (e.ms - h.ms) * 1000000 // 600000 ELSE 0 END) >= 1000000
      THEN LEAST(5000000, h.tok + CASE WHEN e.ms > h.ms
        THEN (e.ms - h.ms) * 1000000 // 600000 ELSE 0 END) - 1000000
      ELSE LEAST(5000000, h.tok + CASE WHEN e.ms > h.ms
        THEN (e.ms - h.ms) * 1000000 // 600000 ELSE 0 END) END,
    h.thr + CASE WHEN LEAST(5000000, h.tok + CASE WHEN e.ms > h.ms
        THEN (e.ms - h.ms) * 1000000 // 600000 ELSE 0 END) >= 1000000
      THEN 0 ELSE 1 END
  FROM h JOIN e ON e.user_id = h.user_id AND e.rn = h.rn + 1
), fin AS (
  SELECT user_id, rn AS n_events, thr AS n_throttled, tok AS tokens_micro
  FROM h
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) = 1
)
SELECT user_id, n_events, n_throttled, tokens_micro FROM fin
ORDER BY n_throttled DESC, user_id LIMIT 20"""

  /** [[EventStreams.streamingKmv]] end-to-end: the bounded-state
    * streaming distinct sketch. The sketch is a SET of the K smallest
    * hashes — permutation-invariant across micro-batches — so the
    * final state must equal the batch K-smallest-distinct computation
    * exactly; n_seen is strictly increasing per key, so each key's
    * max-n row is the final sketch. The estimator readout ((K−1)/θ,
    * exact below K) is the same double tree as `q_kmv_intersect`.
    */
  private def streamKmv(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingKmv(
        EventStreams.eventsStream(s, s"$dir/events.parquet"), 256)
      EventStreams.runToMemory(s, out, "graft_stream_kmv",
          OutputMode.Append())
        .groupBy(col("event_type"))
        .agg(max(struct(col("n_seen"), col("ks"))).as("m"))
        .select(col("event_type"), col("m.n_seen").as("n_seen"),
          size(col("m.ks")).cast("long").as("ku"),
          element_at(col("m.ks"), -1).as("kth"))
        .select(col("event_type"), col("n_seen"), col("ku"), col("kth"),
          when(col("ku") < 256, col("ku").cast("double"))
            .otherwise(lit(255L * 4294967296L).cast("double")
              / col("kth").cast("double")).as("est_distinct"))
        .orderBy("event_type")
    }

  private val streamKmvOracle = s"""WITH ev AS (
  SELECT event_type,
    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
      AS h
  FROM events
), n AS (
  SELECT event_type, COUNT(*) AS n_seen FROM ev GROUP BY 1
), dh AS (SELECT DISTINCT event_type, h FROM ev),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM dh
  ) WHERE rk <= 256
), agg AS (
  SELECT event_type, COUNT(*) AS ku, CAST(MAX(h) AS BIGINT) AS kth
  FROM sk GROUP BY 1
)
SELECT agg.event_type, n.n_seen, agg.ku, agg.kth,
  CASE WHEN agg.ku < 256 THEN CAST(agg.ku AS DOUBLE)
       ELSE CAST(${255L * 4294967296L} AS DOUBLE) / CAST(agg.kth AS DOUBLE)
  END AS est_distinct
FROM agg JOIN n ON agg.event_type = n.event_type
ORDER BY agg.event_type"""

  private val streamTopKOracle = s"""SELECT event_type, rk, cents, event_id
FROM (
  SELECT event_type, event_id,
    CAST(FLOOR(value * ${Sql.D("100")} + ${Sql.D("0.5")}) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (PARTITION BY event_type
      ORDER BY CAST(FLOOR(value * ${Sql.D("100")} + ${Sql.D("0.5")}) AS BIGINT) DESC,
        event_id) AS rk
  FROM events WHERE value IS NOT NULL
)
WHERE rk <= 5 ORDER BY event_type, rk"""

  /** [[EventStreams.streamingHolt]] over the bounded replay, graded
    * against the SAME recursive-CTE oracle as the batch `ev_holt`:
    * the per-user ValueState fold must reproduce the batch Holt
    * recursion bitwise (same IEEE left-fold in micro-batch order).
    * Each emitted row carries the running n (strictly increasing), so
    * the max-n row per user IS the final fold state.
    */
  private def streamHolt(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingHolt(
        EventStreams.eventsStream(s, s"$dir/events.parquet"))
      EventStreams.runToMemory(s, out, "graft_stream_holt", OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("level"), col("trend"))).as("m"))
        .select(col("user_id"), col("m.level").as("level"),
          col("m.trend").as("trend"), col("m.n_events").as("n_events"))
        .orderBy("user_id")
    }

  private def streamEwma(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingEwma(
        EventStreams.eventsStream(s, s"$dir/events.parquet"))
      EventStreams.runToMemory(s, out, "graft_stream_ewma", OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("ewma"))).as("m"))
        .select(col("user_id"), col("m.ewma").as("ewma"),
          col("m.n_events").as("n_events"))
        .orderBy("user_id")
    }

  private val streamEwmaOracle = """SELECT user_id,
  CAST(list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
    (a, b) -> (a + b) / CAST(2 AS DOUBLE)) AS DOUBLE) AS ewma,
  COUNT(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id"""

  /** Native `session_window` running INCREMENTALLY: gap-based sessions
    * maintained by the streaming session-window state store (Spark
    * merges overlapping session slices per key as batches arrive) —
    * the third sessionization API beside the lag-window batch form and
    * the flatMapGroupsWithState bounded-state form, and the one with
    * built-in watermark eviction. Complete mode over the bounded
    * replay; per-user rollup must equal the batch `ev_session_window`
    * answer (both are the native operator: a gap of EXACTLY 30 minutes
    * CLOSES the session — half-open windows, oracle splits at
    * `gap >= 30min`). The lag-based `ev_sessionize` family splits
    * strictly-greater instead; the two sessionization rules genuinely
    * differ at the exact boundary and each query is graded against its
    * own.
    */
  private def streamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val src = EventStreams.eventsStream(s, s"$dir/events.parquet")
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
    val out = EventStreams.runToMemory(s, src, "graft_stream_sw",
      OutputMode.Complete())
    out.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy("user_id")
  }

  private val streamSessionWindowOracle = """WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS u FROM events
), l AS (
  SELECT user_id,
    CASE WHEN prev IS NULL OR u - prev >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM (SELECT *, LAG(u) OVER (PARTITION BY user_id ORDER BY u, event_id) AS prev FROM e)
)
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM l GROUP BY user_id ORDER BY user_id"""

  private val streamTwsRunningOracle = s"""WITH e AS (
  SELECT event_id, user_id, ts,
    CAST(FLOOR(value * ${Sql.D("100")} + ${Sql.D("0.5")}) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id,
  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
  CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
FROM e ORDER BY event_id"""

  // reuse the batch oracles — streaming must produce the same answer
  private val streamHourlyOracle = EventQueries.hourlyOracle
  private val streamSessionizeOracle = """WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS _ms FROM events
), l AS (
  SELECT *, LAG(_ms) OVER (PARTITION BY user_id ORDER BY _ms, event_id) AS prev FROM e
), s AS (
  SELECT user_id,
    CASE WHEN prev IS NULL OR _ms - prev > 1800000 THEN 1 ELSE 0 END AS is_new
  FROM l)
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id"""

  /** Streaming twin of `q_quantile_rollup`: per-week KLL sketches built
    * BY THE STREAMING AGGREGATION itself — the TypedImperativeAggregate
    * buffer (graft.plans.KllSketch) serializes into the state store
    * between micro-batches, the mergeable-sketch contract running
    * incrementally. Medians are read out of the final sketches and
    * graded by the same exact-rank band (±2.5%) against the raw rows,
    * so the stream must land inside the batch gate for ANY batch/merge
    * order.
    */
  private def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    val src = EventStreams.eventsStream(s, s"$dir/events.parquet")
      .groupBy(trunc(to_date(col("ts")), "week").as("w"))
      .agg(graft.plans.KllSketch.kllAgg(col("value"), 1024).as("sk"))
    val weekly = EventStreams.runToMemory(s, src, "graft_stream_kll",
        OutputMode.Complete())
      .select(col("w"),
        graft.plans.KllSketch.kllQuantile(col("sk"), 0.5).as("est"))
    val ev = Tables.events(s, dir)
      .select(trunc(to_date(col("ts")), "week").as("w"), col("value"))
    ev.join(broadcast(weekly), Seq("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("n_lt"))
      .select(col("w").as("week"), col("n"),
        ((col("n_lt") + 1L) * 40L <= col("n") * 21L &&
          col("n_le") * 40L >= col("n") * 19L).as("rank_ok"))
      .orderBy("week")
  }

  /** [[EventStreams.KllWeeklyProcessor]] end-to-end — the BOUNDED-STATE
    * streaming quantile shape (r8-verdict #5): the serialized KLL
    * buffer rides per-week `transformWithState` ValueState (state =
    * one O(k·log(n/k)) buffer per live key; idle-key TTL eviction is
    * the processor's production knob, off here because a TTL'd
    * operator needs an AvailableNow trigger — see its scaladoc),
    * where [[streamQuantile]]'s Complete-mode memory sink (kept as
    * the batch-parity harness) retains every group on the driver.
    * Each batch re-emits a week's running
    * (n, sketch); n is strictly increasing, so max-n is the final
    * sketch. Graded against the SAME oracle as the batch rollup: the
    * median readout's exact rank interval must land in the ±2.5% band
    * — which holds for every batch split and merge order.
    */
  private def streamKllTws(s: SparkSession, dir: String): DataFrame =
    EventStreams.withRocksDbState(s) {
      val out = EventStreams.streamingKllWeekly(
        EventStreams.eventsStream(s, s"$dir/events.parquet"), 1024)
      val rows = EventStreams.runToMemory(s, out, "graft_stream_kll_tws",
        OutputMode.Append())
      val weekly = rows.groupBy(col("week"))
        .agg(max_by(col("sketch"), col("n")).as("sk"))
        .select(to_date(col("week")).as("w"),
          graft.plans.KllSketch.kllQuantile(col("sk"), 0.5).as("est"))
      val ev = Tables.events(s, dir)
        .select(trunc(to_date(col("ts")), "week").as("w"), col("value"))
      ev.join(broadcast(weekly), Seq("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") <= col("est"), 1L).otherwise(0L)).as("n_le"),
          sum(when(col("value") < col("est"), 1L).otherwise(0L)).as("n_lt"))
        .select(col("w").as("week"), col("n"),
          ((col("n_lt") + 1L) * 40L <= col("n") * 21L &&
            col("n_le") * 40L >= col("n") * 19L).as("rank_ok"))
        .orderBy("week")
    }

  // --- multimodal -----------------------------------------------------
  private def media(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))
      .as[Multimodal.MediaRow]
  }

  /** Containerized twin of [[media]]: image rows carry a genuine PNG
    * signature+IHDR prefix, audio rows a RIFF/WAVE PCM header, video
    * rows stay raw (the stub-path consumer). `m_payload_meta` /
    * `m_frame_sample` / `m_resize_plan` / `m_payload_dedup` decode
    * THESE bytes; the size-packing queries (shard manifest, audio
    * windowing) stay on the raw payloads where a container prefix
    * adds nothing to what they measure.
    */
  private def containerMedia(s: SparkSession, dir: String) =
    Multimodal.containerize(media(s, dir))

  private def payloadMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decode(containerMedia(s, dir)).toDF().orderBy("media_id")

  /** Column-space container sniff — no decode pass: dispatch each
    * payload by its MAGIC BYTES (PNG signature / RIFF+WAVE / unknown),
    * the first thing a multimodal ingest does at scale (route blobs to
    * the right decoder pool, quarantine unknowns), and account header
    * vs content bytes per (kind, container). Pure codegen'd column
    * ops over the binary column; the oracle recomputes the generation
    * rules while Spark reads the bytes.
    */
  private def codecDispatch(s: SparkSession, dir: String): DataFrame = {
    val m = containerMedia(s, dir).toDF()
    val isPng = hex(substring(col("payload"), 1, 8)) === "89504E470D0A1A0A"
    val isWav = substring(col("payload"), 1, 4) === lit("RIFF").cast("binary") &&
      substring(col("payload"), 9, 4) === lit("WAVE").cast("binary")
    val container = when(isPng, "png").when(isWav, "wav").otherwise("raw")
    val hdr = when(isPng, 33L).when(isWav, 44L).otherwise(0L)
    m.select(col("kind"), container.as("container"),
        length(col("payload")).cast("long").as("len"), hdr.as("hdr"))
      .groupBy(col("kind"), col("container"))
      .agg(count(lit(1)).as("n"), sum(col("hdr")).as("header_bytes"),
        sum(col("len") - col("hdr")).as("content_bytes"))
      .orderBy("kind", "container")
  }

  private val codecDispatchOracle = """SELECT
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
    ELSE 'video' END AS kind,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
    ELSE 'raw' END AS container,
  COUNT(*) AS n,
  CAST(SUM(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 44
    ELSE 0 END) AS BIGINT) AS header_bytes,
  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS content_bytes
FROM documents GROUP BY 1, 2 ORDER BY kind, container"""

  /** STFT-style audio windowing plan for the `audio`-kind payloads:
    * 25 ms frames on a 10 ms hop (the Whisper/Kaldi front-end
    * geometry) over a duration derived deterministically from payload
    * size (8 ms/byte at the stub codec seam — swap for the real
    * header parse and the plan below is unchanged). Emits the window
    * COUNT per clip plus the first 3 window spans (what you'd hand a
    * feature extractor to smoke-test alignment) — pure column math,
    * one explode bounded at 3 rows per clip, no decode touch.
    */
  private def audioWindows(s: SparkSession, dir: String): DataFrame = {
    val FrameMs = 25L
    val HopMs = 10L
    val a = media(s, dir).toDF().where(col("kind") === "audio")
      .select(col("media_id"),
        (length(col("payload")).cast("long") * 8L).as("dur_ms"))
      .withColumn("n_windows",
        greatest(lit(0L), expr(s"(dur_ms - $FrameMs) div $HopMs + 1")))
    a.select(col("media_id"), col("dur_ms"), col("n_windows"),
        explode(sequence(lit(0L),
          least(col("n_windows") - 1, lit(2L)))).as("win_idx"))
      .select(col("media_id"), col("dur_ms"), col("n_windows"),
        col("win_idx"), (col("win_idx") * HopMs).as("start_ms"),
        (col("win_idx") * HopMs + FrameMs).as("end_ms"))
      .orderBy("media_id", "win_idx")
  }

  private val audioWindowsOracle: String = """WITH a AS (
  SELECT doc_id AS media_id, CAST(octet_length(CAST(text AS BLOB)) * 8 AS BIGINT) AS dur_ms
  FROM documents WHERE doc_id % 3 = 1
), w AS (
  SELECT media_id, dur_ms,
    GREATEST(CAST(0 AS BIGINT), (dur_ms - 25) // 10 + 1) AS n_windows
  FROM a
)
SELECT media_id, dur_ms, n_windows, CAST(win_idx AS BIGINT) AS win_idx,
  CAST(win_idx * 10 AS BIGINT) AS start_ms,
  CAST(win_idx * 10 + 25 AS BIGINT) AS end_ms
FROM w, unnest(generate_series(0, CAST(LEAST(n_windows - 1, 2) AS BIGINT)))
  AS t(win_idx)
ORDER BY media_id, win_idx"""

  /** Binary-payload dedup planning per kind: group by the decode
    * checksum and report duplicate copies and RECLAIMABLE bytes
    * (every copy beyond the first) — the content-addressed-store
    * sizing readout, the binary sibling of `d_dedup_exact` (docs) and
    * `d_cdc_chunks` (sub-object spans). Raw payloads never shuffle:
    * only (kind, checksum, bytes) rows aggregate.
    */
  private def payloadDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.decode(containerMedia(s, dir)).toDF()
      .groupBy(col("kind"), col("checksum"))
      .agg(count(lit(1)).as("copies"), max(col("n_bytes")).as("n_bytes"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(col("copies")).as("n_payloads"),
        sum((col("copies") - 1) * col("n_bytes")).as("reclaimable_bytes"))
      .select(col("kind"), col("n_payloads"), col("n_distinct"),
        col("reclaimable_bytes"),
        (lit(1.0) - col("n_distinct").cast("double")
          / col("n_payloads").cast("double")).as("dup_ratio"))
      .orderBy("kind")

  private val payloadDedupOracle: String = s"""WITH m AS (
  SELECT doc_id AS media_id,
    ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind,
    md5(text) AS checksum,
    octet_length(CAST(text AS BLOB)) + $sqlHdr AS n_bytes
  FROM documents
), per AS (
  SELECT kind, checksum, COUNT(*) AS copies,
    CAST(MAX(n_bytes) AS BIGINT) AS n_bytes
  FROM m GROUP BY 1, 2
)
SELECT kind, CAST(SUM(copies) AS BIGINT) AS n_payloads,
  COUNT(*) AS n_distinct,
  CAST(SUM((copies - 1) * n_bytes) AS BIGINT) AS reclaimable_bytes,
  CAST(1 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)
    / CAST(SUM(copies) AS DOUBLE) AS dup_ratio
FROM per GROUP BY 1 ORDER BY kind"""

  private val ShardBytes = 16384L

  /** WebDataset-style shard packing plan: per media kind, items in
    * media_id order are packed greedily into ~16 KiB shards (an item
    * opens a new shard when the running bytes cross the budget). The
    * running total comes from [[graft.operators.Ids.prefixSum]] —
    * the distributed scan — NOT a 3-task running-SUM window, so the
    * plan parallelizes over range partitions at any item count. Output
    * is the shard manifest (kind, shard, item count, bytes, id span) a
    * training loader consumes.
    */
  private def shardManifest(s: SparkSession, dir: String): DataFrame = {
    val items = media(s, dir).toDF()
      .select(col("media_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"))
    graft.operators.Ids.prefixSum(items, Seq(col("media_id")), "cum_bytes",
        Some("n_bytes"), Seq("kind"))
      .select(col("media_id"), col("kind"), col("n_bytes"),
        ((col("cum_bytes") - col("n_bytes")) / ShardBytes).cast("long")
          .as("shard"))
      .groupBy(col("kind"), col("shard"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("media_id")).as("first_id"),
        max(col("media_id")).as("last_id"))
      .orderBy("kind", "shard")
  }

  private val shardManifestOracle = s"""WITH items AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      ELSE 'video' END AS kind,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), c AS (
  SELECT *, SUM(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
  FROM items
)
SELECT kind, CAST((cum_bytes - n_bytes) // $ShardBytes AS BIGINT) AS shard,
  COUNT(*) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
  MIN(media_id) AS first_id, MAX(media_id) AS last_id
FROM c GROUP BY 1, 2 ORDER BY kind, shard"""

  /** Does the shard packing split duplicate groups across shards?
    * Joins the exact-dup groups (payload md5) against the SAME greedy
    * shard assignment as `m_shard_manifest` and reports the fraction
    * of duplicate PAIRS that straddle two shards — the "dedup BEFORE
    * you shard" readout: a loader that samples shards independently
    * sees cross-shard duplicates as if they were unique documents.
    * Pair counts are exact binomials over group sizes (never a pair
    * enumeration — C(n,2) arithmetic on group counts only), so the
    * measurement costs two aggregates past the shared prefix-sum
    * assignment regardless of corpus size.
    */
  private def crossShardDupRate(s: SparkSession, dir: String): DataFrame = {
    val items = media(s, dir).toDF()
      .select(col("media_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("h"))
    val sharded = graft.operators.Ids.prefixSum(items, Seq(col("media_id")),
        "cum_bytes", Some("n_bytes"), Seq("kind"))
      .select(col("h"), col("kind"),
        ((col("cum_bytes") - col("n_bytes")) / ShardBytes).cast("long")
          .as("shard"))
    val grp = sharded.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)
    val total = grp.agg(count(lit(1)).as("n_dup_groups"),
      sum(expr("n * (n - 1) div 2")).as("total_pairs"))
    val same = sharded.join(grp.select("h"), "h")
      .groupBy(col("h"), col("kind"), col("shard"))
      .agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L))
        .as("same_shard_pairs"))
    total.crossJoin(same)
      .select(col("n_dup_groups"), col("total_pairs"),
        col("same_shard_pairs"),
        ((col("total_pairs") - col("same_shard_pairs")).cast("double") /
          col("total_pairs").cast("double")).as("cross_shard_rate"))
  }

  private val crossShardDupRateOracle = s"""WITH items AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      ELSE 'video' END AS kind,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    md5(text) AS h
  FROM documents
), c AS (
  SELECT *, SUM(n_bytes) OVER (PARTITION BY kind ORDER BY media_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
  FROM items
), sh AS (
  SELECT h, kind, CAST((cum_bytes - n_bytes) // $ShardBytes AS BIGINT) AS shard
  FROM c
), grp AS (
  SELECT h, COUNT(*) AS n FROM sh GROUP BY 1 HAVING COUNT(*) >= 2
), tot AS (
  SELECT COUNT(*) AS n_dup_groups,
    CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS total_pairs
  FROM grp
), same AS (
  SELECT CAST(COALESCE(SUM(m * (m - 1) // 2), 0) AS BIGINT)
    AS same_shard_pairs
  FROM (
    SELECT sh.h, sh.kind, sh.shard, COUNT(*) AS m
    FROM sh JOIN grp ON sh.h = grp.h GROUP BY 1, 2, 3)
)
SELECT n_dup_groups, total_pairs, same_shard_pairs,
  CAST(total_pairs - same_shard_pairs AS DOUBLE)
    / CAST(total_pairs AS DOUBLE) AS cross_shard_rate
FROM tot, same"""

  private val nib: Int => String = i =>
    s"(strpos('0123456789abcdef', substring(md5(text), $i, 1)) - 1)"

  // per-kind generation rules the container bytes encode (the Spark
  // side PARSES the bytes; the oracle recomputes the rule):
  //   image: PNG IHDR width 64+(id%241)*8, height 64+(id%137)*8
  //   audio: WAV rate [8000,16000,22050,44100,48000][id%5],
  //          channels 1+(id%2), sample frames = data bytes // (2*ch)
  //   video: raw bytes -> md5 stub rule (unchanged)
  private def sqlRate: String =
    "([8000,16000,22050,44100,48000])[CAST(doc_id % 5 AS INT) + 1]"
  private def sqlCh: String = "(1 + CAST(doc_id % 2 AS INT))"
  private def sqlHdr: String =
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 44 ELSE 0 END"
  private def sqlWidth(nibF: Int => String) =
    s"""CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN 64 + (doc_id % 241) * 8
    WHEN 1 THEN $sqlRate
    ELSE 256 + (${nibF(1)} * 16 + ${nibF(2)}) * 8 END"""
  private def sqlHeight(nibF: Int => String) =
    s"""CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN 64 + (doc_id % 137) * 8
    WHEN 1 THEN $sqlCh
    ELSE 144 + (${nibF(3)} * 16 + ${nibF(4)}) * 4 END"""
  private def sqlFrames(nibF: Int => String) =
    s"""CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN 1
    WHEN 1 THEN octet_length(encode(text)) // (2 * $sqlCh)
    ELSE 1 + ${nibF(5)} END"""

  private val payloadMetaOracle = s"""SELECT doc_id AS media_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(octet_length(encode(text)) + $sqlHdr AS INT) AS n_bytes,
  md5(text) AS checksum,
  CAST(${sqlWidth(nib)} AS INT) AS width,
  CAST(${sqlHeight(nib)} AS INT) AS height,
  CAST(${sqlFrames(nib)} AS INT) AS n_frames
FROM documents ORDER BY media_id"""

  private val MaxFrames = 4

  private def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.decode(containerMedia(s, dir)), MaxFrames)
      .toDF().orderBy("media_id", "frame_idx")

  private val frameSampleOracle = s"""WITH meta AS (
  SELECT doc_id AS media_id,
    least(${sqlFrames(nib)}, $MaxFrames) AS n
  FROM documents
)
SELECT media_id, CAST(i AS INT) AS frame_idx,
  CASE WHEN n = 1 THEN ${Sql.D("0")}
       ELSE CAST(i AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS offset_pct
FROM (SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM meta)
ORDER BY media_id, frame_idx"""

  private val MaxW = 640
  private val MaxH = 360

  private def resizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(Multimodal.decode(containerMedia(s, dir)), MaxW, MaxH)
      .toDF().orderBy("media_id")

  private val resizePlanOracle = s"""WITH meta AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(${sqlWidth(nib)} AS INT) AS src_width,
    CAST(${sqlHeight(nib)} AS INT) AS src_height
  FROM documents
), scaled AS (
  SELECT *, LEAST(CAST(1 AS DOUBLE),
    LEAST(CAST($MaxW AS DOUBLE) / CAST(src_width AS DOUBLE),
          CAST($MaxH AS DOUBLE) / CAST(src_height AS DOUBLE))) AS scale
  FROM meta
)
SELECT media_id, kind, src_width, src_height,
  CAST(GREATEST(2, CAST(FLOOR(CAST(src_width AS DOUBLE) * scale) AS INT)
    - CAST(FLOOR(CAST(src_width AS DOUBLE) * scale) AS INT) % 2) AS INT) AS out_width,
  CAST(GREATEST(2, CAST(FLOOR(CAST(src_height AS DOUBLE) * scale) AS INT)
    - CAST(FLOOR(CAST(src_height AS DOUBLE) * scale) AS INT) % 2) AS INT) AS out_height,
  scale
FROM scaled ORDER BY media_id"""

  // --- feature-extraction stub ---------------------------------------
  private val FeatDim = 16

  /** Drives [[Multimodal.featureStub]] (the embedding-extraction seam)
    * through the graded surface: emitted components are k/1000 exact
    * values, spot-checked at the first/middle/last lanes.
    */
  private def features(s: SparkSession, dir: String): DataFrame = {
    val f = Multimodal.featureStub(col("text").cast("binary"), FeatDim)
    Tables(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        size(f).as("dim"),
        element_at(f, 1).as("f0"),
        element_at(f, 5).as("f4"),
        element_at(f, FeatDim).as("f15"))
      .orderBy("media_id")
  }

  private val featuresOracle: String = {
    // 16-bit lane i of the md5 hex (chars (i%8)*4+1 .. +4) → % 1000 / 1000
    def lane(i: Int): String = {
      val base = (i % 8) * 4
      val v = (1 to 4).map(j => nib(base + j))
        .reduce((a, b) => s"($a) * 16 + $b")
      s"CAST((($v) % 1000) AS DOUBLE) / ${Sql.D("1000")}"
    }
    s"""SELECT doc_id AS media_id, CAST($FeatDim AS INT) AS dim,
  ${lane(0)} AS f0, ${lane(4)} AS f4, ${lane(15)} AS f15
FROM documents ORDER BY media_id"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("stream_hourly", streamHourly, Some(streamHourlyOracle)),
    QueryDef("stream_hopping", streamHopping, Some(EventQueries.hoppingOracle)),
    QueryDef("stream_hourly_append", streamHourlyAppend, Some(streamHourlyAppendOracle)),
    QueryDef("stream_sessionize", streamSessionize, Some(streamSessionizeOracle)),
    QueryDef("stream_dedup", streamDedup, Some(streamDedupOracle)),
    QueryDef("stream_dedup_wm", streamDedupWm, Some(streamDedupOracle)),
    QueryDef("stream_sessions_wm", streamSessionsWm, Some(streamSessionsWmOracle)),
    QueryDef("stream_cep_funnel", streamCepFunnel, Some(streamCepFunnelOracle)),
    QueryDef("stream_join", streamJoin, Some(streamJoinOracle)),
    QueryDef("stream_join_outer", streamJoinOuter, Some(streamJoinOuterOracle)),
    QueryDef("stream_clamped", streamClamped, Some(streamClampedOracle)),
    QueryDef("stream_sprt", streamSprt, Some(Olap2Queries.sprtOracle)),
    QueryDef("stream_topk", streamTopK, Some(streamTopKOracle)),
    QueryDef("stream_kmv", streamKmv, Some(streamKmvOracle)),
    QueryDef("stream_psi", streamPsi, Some(streamPsiOracle)),
    QueryDef("stream_token_bucket", streamTokenBucket,
      Some(streamTokenBucketOracle)),
    QueryDef("stream_tws_running", streamTwsRunning, Some(streamTwsRunningOracle)),
    QueryDef("stream_ewma", streamEwma, Some(streamEwmaOracle)),
    QueryDef("stream_holt", streamHolt, Some(EventQueries.holtOracle)),
    QueryDef("stream_session_window", streamSessionWindow, Some(streamSessionWindowOracle)),
    QueryDef("stream_static_join", streamStaticJoin, Some(streamStaticJoinOracle)),
    QueryDef("stream_foreach_latest", streamForeachLatest, Some(streamForeachLatestOracle)),
    QueryDef("stream_cdc_upsert", streamCdcUpsert, Some(streamCdcUpsertOracle)),
    QueryDef("stream_quantile", streamQuantile,
      Some(Olap2Queries.quantileRollupOracle)),
    QueryDef("stream_kll_tws", streamKllTws,
      Some(Olap2Queries.quantileRollupOracle)),
    QueryDef("m_payload_meta", payloadMeta, Some(payloadMetaOracle)),
    QueryDef("m_codec_dispatch", codecDispatch, Some(codecDispatchOracle)),
    QueryDef("m_shard_manifest", shardManifest, Some(shardManifestOracle)),
    QueryDef("m_audio_windows", audioWindows, Some(audioWindowsOracle)),
    QueryDef("m_payload_dedup", payloadDedup, Some(payloadDedupOracle)),
    QueryDef("d_cross_shard_dup_rate", crossShardDupRate,
      Some(crossShardDupRateOracle)),
    QueryDef("m_frame_sample", frameSample, Some(frameSampleOracle)),
    QueryDef("m_resize_plan", resizePlan, Some(resizePlanOracle)),
    QueryDef("m_features", features, Some(featuresOracle)))
}
