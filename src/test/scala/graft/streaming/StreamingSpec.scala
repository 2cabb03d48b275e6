package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.util.Scratch

/** Streaming == batch equivalence, plus genuinely-incremental state:
  * the sessionizer must carry state across micro-batches, not just
  * recompute within one.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourly windowed agg over a file stream equals the batch answer") {
    val streamed = graft.queries.StreamMultimodalQueries // via SparkEntry
    val got = graft.SparkEntry.queries("stream_hourly")(spark, Sf)
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = graft.SparkEntry.queries("ev_hourly")(spark, Sf)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == batch && got.nonEmpty)
  }

  // the file source lists flat files, not nested write-dirs: write each
  // micro-batch to a staging dir and move its part file up
  private def writeBatch(dir: String, name: String,
      events: Seq[EventStreams.Event]): Unit = {
    val stage = s"$dir/_stage_$name"
    events.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
  }

  test("sessionization carries state across two micro-batches") {
    val dir = Scratch.dir("graft_stream")
    def ev(id: Long, user: Long, minute: Int): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        user, "click", 1.0)
    def writeBatch(name: String, events: Seq[EventStreams.Event]): Unit =
      this.writeBatch(dir, name, events)

    // batch 1: two events 5 min apart → 1 session
    writeBatch("b1", Seq(ev(1, 7, 0), ev(2, 7, 5)))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    val out = EventStreams.sessionize(stream, gapMs = 30 * 60 * 1000).toDF()

    spark.streams.active.filter(_.name == "sess_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sess_test").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("sess_test")
        .groupBy("user_id").agg(max("n_sessions").as("s"), max("n_events").as("e"))
        .as[(Long, Long, Long)].collect().toSet
      assert(afterB1 == Set((7L, 1L, 2L)))

      // batch 2: 6 min after last (same session) + 40 min later (new session)
      writeBatch("b2", Seq(ev(3, 7, 11), ev(4, 7, 51)))
      q.processAllAvailable()
      val afterB2 = spark.table("sess_test")
        .groupBy("user_id").agg(max("n_sessions").as("s"), max("n_events").as("e"))
        .as[(Long, Long, Long)].collect().toSet
      assert(afterB2 == Set((7L, 2L, 4L)),
        "state must persist across micro-batches")
    } finally q.stop()
  }

  test("streaming dedup suppresses re-occurrences across micro-batches") {
    val dir = Scratch.dir("graft_dd")
    def ev(id: Long, user: Long, kind: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf("2024-01-01 10:00:00"), user, kind, 1.0)

    // batch 1: two distinct pairs (one duplicated within the batch)
    writeBatch(dir, "b1", Seq(ev(1, 1, "click"), ev(2, 1, "click"), ev(3, 2, "view")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.dedupPairs(stream)

    spark.streams.active.filter(_.name == "dd_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dd_test").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("dd_test").as[(Long, String)].collect().toSeq
      assert(afterB1.sorted == Seq((1L, "click"), (2L, "view")))

      // batch 2: one pair already seen in batch 1 (must stay suppressed
      // — state carries across batches), one genuinely new
      writeBatch(dir, "b2", Seq(ev(4, 1, "click"), ev(5, 2, "purchase")))
      q.processAllAvailable()
      val afterB2 = spark.table("dd_test").as[(Long, String)].collect().toSeq
      assert(afterB2.sorted == Seq((1L, "click"), (2L, "purchase"), (2L, "view")))
    } finally q.stop()
  }

  test("transformWithState carries named ValueState across micro-batches") {
    val dir = Scratch.dir("graft_tws")
    def ev(id: Long, minute: Int, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        7L, "click", value)

    writeBatch(dir, "b1", Seq(ev(1, 0, 1.0), ev(2, 5, 2.5)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.runningUserStats(stream)

    spark.streams.active.filter(_.name == "tws_test").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("tws_test").start()
    }
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("tws_test")
        .select("event_id", "seq", "cum_cents")
        .as[(Long, Long, Long)].collect().toSet
      assert(afterB1 == Set((1L, 1L, 100L), (2L, 2L, 350L)))

      // batch 2: the RocksDB ValueState must resume at (2, 350)
      writeBatch(dir, "b2", Seq(ev(3, 10, 0.5)))
      q.processAllAvailable()
      val afterB2 = spark.table("tws_test")
        .select("event_id", "seq", "cum_cents")
        .as[(Long, Long, Long)].collect().toSet
      assert(afterB2 == afterB1 + ((3L, 3L, 400L)),
        "named state must persist across micro-batches")
    } finally q.stop()
  }

  test("sprt: decision fires once at the exact crossing, then the arm freezes") {
    val dir = Scratch.dir("graft_ssprt")
    def ev(id: Long, user: Long, minute: Int, typ: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        user, typ, 1.0)
    // controlled constants: conversion +10, miss −3, boundaries ±25
    val (kp, kn, a) = (10L, -3L, 25L)

    // batch 1, arm 0 (user 4): p,c,p → LLR 10, 7, 17 — no crossing yet;
    // arm 1 (user 5): 5 clicks → LLR −15 — no crossing yet
    writeBatch(dir, "b1",
      Seq(ev(1, 4, 0, "purchase"), ev(2, 4, 1, "click"),
        ev(3, 4, 2, "purchase")) ++
        (1 to 5).map(i => ev(10 + i, 5, i, "click")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.streamingSprt(stream, kp, kn, a)

    spark.streams.active.filter(_.name == "ssprt_test").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("ssprt_test").start()
    }
    try {
      q.processAllAvailable()
      assert(spark.table("ssprt_test").isEmpty,
        "no arm has crossed a boundary yet")

      // batch 2: arm 0 converts again → LLR 27 ≥ 25 fires accept_h1 at
      // n=4, conv=3; arm 1 takes 4 more misses → LLR −27 ≤ −25 fires
      // accept_h0 at n=9, conv=0
      writeBatch(dir, "b2",
        Seq(ev(4, 4, 10, "purchase")) ++
          (6 to 9).map(i => ev(10 + i, 5, i, "click")))
      q.processAllAvailable()
      val afterB2 = spark.table("ssprt_test")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(afterB2 == Set(
        (0L, 4L, 3L, 27L, "accept_h1"),
        (1L, 9L, 0L, -27L, "accept_h0")), s"got $afterB2")

      // batch 3: both arms keep receiving events — NOTHING re-emits
      // (a decided test never re-opens)
      writeBatch(dir, "b3",
        Seq(ev(5, 4, 20, "purchase"), ev(20, 5, 20, "purchase")))
      q.processAllAvailable()
      val afterB3 = spark.table("ssprt_test")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(afterB3 == afterB2, "decided arms must stay frozen")
    } finally q.stop()
  }

  test("sprt: checkpointed restart resumes mid-test, decided state survives") {
    val dir = Scratch.dir("graft_sprtr_in")
    val ckpt = Scratch.dir("graft_sprtr_ck")
    val outDir = Scratch.dir("graft_sprtr_out")
    def ev(id: Long, user: Long, minute: Int, typ: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        user, typ, 1.0)
    val (kp, kn, a) = (10L, -3L, 25L)

    // pre-restart: arm 0 at LLR 17 (undecided)
    writeBatch(dir, "b1",
      Seq(ev(1, 4, 0, "purchase"), ev(2, 4, 1, "click"),
        ev(3, 4, 2, "purchase")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.streamingSprt(stream, kp, kn, a).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).isEmpty)

    // restart: one more conversion crosses at n=4 — the (n, cum) state
    // must have survived the restart, not recount from zero
    writeBatch(dir, "b2", Seq(ev(4, 4, 10, "purchase")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val afterB2 = spark.read.parquet(outDir)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(afterB2 == Set((0L, 4L, 3L, 27L, "accept_h1")), s"got $afterB2")

    // second restart: the DECIDED flag must also survive — more
    // conversions emit nothing
    writeBatch(dir, "b3", Seq(ev(5, 4, 20, "purchase")))
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val afterB3 = spark.read.parquet(outDir)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(afterB3 == afterB2, "decided state must survive restart")
  }

  test("clamped balance: zero floor binds mid-stream and state carries over") {
    val dir = Scratch.dir("graft_sclamp")
    def ev(id: Long, minute: Int, typ: String, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        7L, typ, value)

    // batch 1: +5.00 → bal 500, peak 500
    writeBatch(dir, "b1", Seq(ev(1, 0, "purchase", 5.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.streamingClampedBalance(stream)

    spark.streams.active.filter(_.name == "sclamp_test").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("sclamp_test").start()
    }
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("sclamp_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB1 == Set((7L, 1L, 500L, 500L)))

      // batch 2: −8.00 clamps at ZERO (not −300), then +2.00 → 200;
      // a signed running sum would say −100 — the clamp is the point.
      // Peak stays 500 from batch 1's carried state.
      writeBatch(dir, "b2",
        Seq(ev(2, 10, "click", 8.0), ev(3, 20, "purchase", 2.0)))
      q.processAllAvailable()
      val afterB2 = spark.table("sclamp_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB2 == afterB1 + ((7L, 3L, 200L, 500L)),
        s"Lindley fold must clamp at zero and carry state: $afterB2")
    } finally q.stop()
  }

  test("streaming EWMA resumes the fold from carried state") {
    val dir = Scratch.dir("graft_sewma")
    def ev(id: Long, minute: Int, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        7L, "click", value)

    // batch 1: s = 1.0, then (1.0 + 3.0) / 2 = 2.0
    writeBatch(dir, "b1", Seq(ev(1, 0, 1.0), ev(2, 5, 3.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.streamingEwma(stream)

    spark.streams.active.filter(_.name == "sewma_test").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("sewma_test").start()
    }
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("sewma_test")
        .as[(Long, Double, Long)].collect().toSet
      assert(afterB1 == Set((7L, 2.0, 2L)))

      // batch 2: the fold must RESUME at 2.0 → (2.0 + 6.0) / 2 = 4.0,
      // not restart at 6.0
      writeBatch(dir, "b2", Seq(ev(3, 10, 6.0)))
      q.processAllAvailable()
      val afterB2 = spark.table("sewma_test")
        .as[(Long, Double, Long)].collect().toSet
      assert(afterB2 == afterB1 + ((7L, 4.0, 3L)),
        s"EWMA state must carry across micro-batches: $afterB2")
    } finally q.stop()
  }

  test("streaming Holt resumes level AND trend from carried state") {
    val dir = Scratch.dir("graft_sholt")
    def ev(id: Long, minute: Int, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        7L, "click", value)

    // batch 1: l=1, b=0; then l=(3+(1+0))/2=2, b=((2-1)+0)/2=0.5
    writeBatch(dir, "b1", Seq(ev(1, 0, 1.0), ev(2, 5, 3.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.streamingHolt(stream)

    spark.streams.active.filter(_.name == "sholt_test").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("sholt_test").start()
    }
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("sholt_test")
        .as[(Long, Double, Double, Long)].collect().toSet
      assert(afterB1 == Set((7L, 2.0, 0.5, 2L)))

      // batch 2 must resume BOTH components: l=(6+(2+0.5))/2=4.25,
      // b=((4.25-2)+0.5)/2=1.375 — a restart-at-zero trend would differ
      writeBatch(dir, "b2", Seq(ev(3, 10, 6.0)))
      q.processAllAvailable()
      val afterB2 = spark.table("sholt_test")
        .as[(Long, Double, Double, Long)].collect().toSet
      assert(afterB2 == afterB1 + ((7L, 4.25, 1.375, 3L)),
        s"Holt level+trend must carry across micro-batches: $afterB2")
    } finally q.stop()
  }

  test("left-outer stream join: null rows emit only when the watermark releases them") {
    val dir = Scratch.dir("graft_loj")
    def ev(id: Long, user: Long, kind: String, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, kind, 1.0)

    // batch 1: user 1 purchase has a view in the trailing hour (matched);
    // user 2 purchase has none (outer candidate)
    writeBatch(dir, "b1", Seq(
      ev(1, 1, "view", "09:30:00"), ev(2, 1, "purchase", "10:00:00"),
      ev(3, 2, "purchase", "10:00:00")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.viewPurchaseLeftJoin(stream)

    spark.streams.active.filter(_.name == "loj_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("loj_test").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("loj_test")
        .select("purchase_id", "view_id").as[(Long, Option[Long])].collect().toSet
      // the match emits eagerly; the unmatched purchase must NOT produce
      // a null row yet — a future view could still join it
      assert(afterB1 == Set((2L, Some(1L))), s"got $afterB1")

      // batch 2 advances BOTH sides' watermarks past 10:00 + horizon
      // (the global watermark is the MIN across the two withWatermark
      // nodes, so a future view alone would release nothing)
      writeBatch(dir, "b2", Seq(
        ev(4, 8, "view", "14:00:00"), ev(5, 9, "purchase", "14:00:00")))
      q.processAllAvailable()
      val afterB2 = spark.table("loj_test")
        .select("purchase_id", "view_id").as[(Long, Option[Long])].collect().toSet
      // user 2's purchase is released as a null-match; user 9's sits
      // inside the final horizon and stays in state
      assert(afterB2 == Set((2L, Some(1L)), (3L, None)), s"got $afterB2")
    } finally q.stop()
  }

  test("finalized sessions: in-batch close emits immediately, timeout closes the tail") {
    val dir = Scratch.dir("graft_fsess")
    def ev(id: Long, user: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, "click", 1.0)
    def ms(time: String): Long = Timestamp.valueOf(s"2024-01-01 $time").getTime

    // batch 1: u1 has two events 5 min apart (one open session), then a
    // 40-min gap to a third event — the first session closes IN BATCH
    // (no watermark needed) and must emit right away
    writeBatch(dir, "b1", Seq(ev(1, 1, "10:00:00"), ev(2, 1, "10:05:00"),
      ev(3, 1, "10:45:00")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    // 30 min gap, 1 h horizon
    val out = EventStreams.finalizedSessions(stream, gapMs = 30 * 60 * 1000,
      horizon = "1 hour").toDF()

    spark.streams.active.filter(_.name == "fsess_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fsess_test").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("fsess_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB1 == Set((1L, ms("10:00:00"), ms("10:05:00"), 2L)),
        s"session closed by a later event must emit in-batch: $afterB1")

      // batch 2: another user far in the future advances the watermark
      // (14:00 − 1 h = 13:00) past u1's open-session timeout
      // (10:45 + 30 min = 11:15) → the tail session emits via timeout
      writeBatch(dir, "b2", Seq(ev(4, 9, "14:00:00")))
      q.processAllAvailable()
      val afterB2 = spark.table("fsess_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB2.contains((1L, ms("10:45:00"), ms("10:45:00"), 1L)),
        s"tail session must emit once the watermark passes end+gap: $afterB2")

      // batch 3: u1 returns at 14:10 (fresh open session — its old state
      // was removed at timeout); watermark only reaches 13:10, so u9's
      // open session (timeout 14:30) must NOT have emitted
      writeBatch(dir, "b3", Seq(ev(5, 1, "14:10:00")))
      q.processAllAvailable()
      val afterB3 = spark.table("fsess_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(!afterB3.exists(_._1 == 9L),
        s"u9's open session is inside the horizon and must not emit: $afterB3")

      // batch 4: a later u1 event closes the 14:10 session in-batch —
      // it emits as a FRESH 1-event session, and the expired 10:45
      // session does NOT re-emit (its state really was removed)
      writeBatch(dir, "b4", Seq(ev(6, 1, "15:30:00")))
      q.processAllAvailable()
      val afterB4 = spark.table("fsess_test")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(afterB4.contains((1L, ms("14:10:00"), ms("14:10:00"), 1L)),
        s"a returning user starts a fresh session after expiry: $afterB4")
      assert(afterB4.count(_ == ((1L, ms("10:45:00"), ms("10:45:00"), 1L))) == 1,
        s"an expired session must emit exactly once: $afterB4")
    } finally q.stop()
  }

  test("finalized sessions merge in-horizon out-of-order arrivals backward") {
    val dir = Scratch.dir("graft_ooo")
    def ev(id: Long, user: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, "click", 1.0)
    def ms(time: String): Long = Timestamp.valueOf(s"2024-01-01 $time").getTime

    // batch 1: u1 at 10:30 and 10:35 → open session (10:30, 10:35);
    // watermark after b1 = 10:35 − 2 h = 08:35
    writeBatch(dir, "b1", Seq(ev(1, 1, "10:30:00"), ev(2, 1, "10:35:00")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    val out = EventStreams.finalizedSessions(stream, gapMs = 30 * 60 * 1000,
      horizon = "2 hours").toDF()

    spark.streams.active.filter(_.name == "ooo_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ooo_test").start()
    try {
      q.processAllAvailable()

      // batch 2, out-of-order but in-horizon (both > 08:35): 10:10 is
      // within gap-reach of the open session's start (10:30 − 30 min =
      // 10:00) → must MERGE, extending the start backward; 09:00
      // predates the start by more than the gap → finalizes alone
      writeBatch(dir, "b2", Seq(ev(3, 1, "09:00:00"), ev(4, 1, "10:10:00")))
      q.processAllAvailable()
      val afterB2 = spark.table("ooo_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB2 == Set((1L, ms("09:00:00"), ms("09:00:00"), 1L)),
        s"too-old stray emits alone, in-gap-reach event merges silently: $afterB2")

      // batch 3: far-future u9 event pushes the watermark past the
      // merged session's timeout (10:35 + 30 min) → it emits with the
      // start extended BACK to 10:10 and all three events counted
      writeBatch(dir, "b3", Seq(ev(5, 9, "16:00:00")))
      q.processAllAvailable()
      val afterB3 = spark.table("ooo_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB3.contains((1L, ms("10:10:00"), ms("10:35:00"), 3L)),
        s"out-of-order arrival must extend session_start_ms backward: $afterB3")
    } finally q.stop()
  }

  test("finalized sessions: lone cross-batch stray before the open start merges backward") {
    // The minimal red-before/green-after case for the
    // `min(s.startMs, ms)` merge line: the ONLY event of a later
    // micro-batch predates the open session's start (but is within
    // gap-reach and in-horizon). Without the backward extension the
    // emitted session starts at 11:00 with 2 events.
    val dir = Scratch.dir("graft_ooo_lone")
    def ev(id: Long, user: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, "click", 1.0)
    def ms(time: String): Long = Timestamp.valueOf(s"2024-01-01 $time").getTime

    writeBatch(dir, "b1", Seq(ev(1, 1, "11:00:00")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    val out = EventStreams.finalizedSessions(stream, gapMs = 30 * 60 * 1000,
      horizon = "2 hours").toDF()

    spark.streams.active.filter(_.name == "ooo_lone_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ooo_lone_test").start()
    try {
      q.processAllAvailable()
      // batch 2: ONE stray at 10:40 — 20 min before the open start,
      // within the 30-min gap, above the b1 watermark (09:00)
      writeBatch(dir, "b2", Seq(ev(2, 1, "10:40:00")))
      q.processAllAvailable()
      assert(spark.table("ooo_lone_test").isEmpty,
        "the merge must be silent — nothing finalizes yet")
      // batch 3: far-future event expires the merged session
      writeBatch(dir, "b3", Seq(ev(3, 9, "16:00:00")))
      q.processAllAvailable()
      val fin = spark.table("ooo_lone_test")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(fin.contains((1L, ms("10:40:00"), ms("11:00:00"), 2L)),
        s"lone cross-batch stray must extend the start to 10:40: $fin")
    } finally q.stop()
  }

  test("checkpointed restart is exactly-once: window state survives, no re-emits") {
    val dir = Scratch.dir("graft_ckpt_in")
    val ckpt = Scratch.dir("graft_ckpt")
    val outDir = Scratch.dir("graft_ckpt_out")
    def ev(id: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), 1L, "click", 1.0)
    def epoch(time: String): Long =
      Timestamp.valueOf(s"2024-01-01 $time").getTime / 1000

    // batch 1: 10:00 + 10:10 fill window [10:00); 12:30 starts window
    // [12:00) AND advances the watermark (1 h) to 11:30, finalizing
    // [10:00) into the file sink before the stop
    writeBatch(dir, "b1", Seq(ev(1, "10:00:00"), ev(2, "10:10:00"), ev(3, "12:30:00")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.hourlyCounts(stream).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start()
    q1.processAllAvailable(); q1.stop()

    // STOP → RESTART from the checkpoint. Batch 2: 12:40 must land in
    // the SAME [12:00) window as pre-restart 12:30 (aggregation state
    // recovered, not recomputed); 14:30 advances the watermark to
    // 13:30, finalizing [12:00) with BOTH events
    writeBatch(dir, "b2", Seq(ev(4, "12:40:00"), ev(5, "14:30:00")))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    // the file sink's _spark_metadata commit log gives the exactly-once
    // read view across the restart
    val got = spark.read.parquet(outDir)
      .select("hour_epoch", "event_type", "n_events", "value_sum")
      .as[(Long, String, Long, Double)].collect().toSeq

    // one-shot reference: the same files through a fresh query
    val oneCkpt = Scratch.dir("graft_ckpt2")
    val oneOut = Scratch.dir("graft_ckpt_out2")
    val oneStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q3 = EventStreams.hourlyCounts(oneStream).writeStream
      .outputMode(OutputMode.Append()).format("parquet")
      .option("path", oneOut).option("checkpointLocation", oneCkpt)
      .start()
    q3.processAllAvailable(); q3.stop()
    val oneShot = spark.read.parquet(oneOut)
      .select("hour_epoch", "event_type", "n_events", "value_sum")
      .as[(Long, String, Long, Double)].collect().toSeq

    // multiset equality: a duplicated emit (lost commit log) or a lost
    // window (lost state) both fail loudly
    assert(got.sorted == oneShot.sorted,
      s"restarted output must equal the one-shot run: $got vs $oneShot")
    assert(got.count(_._1 == epoch("12:00:00")) == 1 &&
      got.find(_._1 == epoch("12:00:00")).get._3 == 2L,
      s"the [12:00) window must combine pre- and post-restart events: $got")
    assert(got.count(_._1 == epoch("10:00:00")) == 1,
      s"the pre-restart [10:00) window must emit exactly once: $got")
  }

  test("checkpointed restart recovers flatMapGroupsWithState session state") {
    val dir = Scratch.dir("graft_fsr_in")
    val ckpt = Scratch.dir("graft_fsr_ck")
    val outDir = Scratch.dir("graft_fsr_out")
    def ev(id: Long, user: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, "click", 1.0)
    def ms(time: String): Long = Timestamp.valueOf(s"2024-01-01 $time").getTime

    // batch 1: u1's session OPENS (two events) but cannot close yet
    writeBatch(dir, "b1", Seq(ev(1, 1, "10:00:00"), ev(2, 1, "10:05:00")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .as[EventStreams.Event]
      EventStreams.finalizedSessions(stream, gapMs = 30 * 60 * 1000,
          horizon = "1 hour").toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start()
    q1.processAllAvailable(); q1.stop()

    // STOP → RESTART. Batch 2: 10:10 must EXTEND the open session
    // recovered from the checkpointed GroupState (not start a fresh
    // one); 13:00 pushes the watermark to 12:00, past the session's
    // 10:40 timeout → it finalizes with all THREE events
    writeBatch(dir, "b2", Seq(ev(3, 1, "10:10:00"), ev(4, 9, "13:00:00")))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, ms("10:00:00"), ms("10:10:00"), 3L)),
      s"session spanning the restart must finalize ONCE with merged state: $got")
  }

  test("watermarked dedup: suppresses within the horizon, expires state beyond it") {
    val dir = Scratch.dir("graft_ddwm")
    def ev(id: Long, user: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, "click", 1.0)

    // batch 1: u1 at 10:00, u9 at 12:30 — the 1 h horizon puts the
    // watermark at 11:30 after this batch, past u1's state expiry
    // (10:00 + 1 h = 11:00) but not u9's (13:30)
    writeBatch(dir, "b1", Seq(ev(1, 1, "10:00:00"), ev(2, 9, "12:30:00")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.dedupPairsWatermarked(stream, horizon = "1 hour")

    spark.streams.active.filter(_.name == "ddwm_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ddwm_test").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("ddwm_test").as[(Long, String)].collect().toSeq
      assert(afterB1.sorted == Seq((1L, "click"), (9L, "click")))

      // batch 2: u1's duplicate arrives beyond the horizon → its state
      // is expired and it RE-EMITS (the deliberate bounded-memory
      // trade); u9's duplicate is inside the horizon → suppressed
      writeBatch(dir, "b2", Seq(ev(3, 1, "12:40:00"), ev(4, 9, "12:45:00")))
      q.processAllAvailable()
      val afterB2 = spark.table("ddwm_test").as[(Long, String)].collect().toSeq
      assert(afterB2.sorted == Seq((1L, "click"), (1L, "click"), (9L, "click")),
        s"expired pair must re-emit, in-horizon duplicate must not: $afterB2")
    } finally q.stop()
  }

  test("foreachBatch upsert folds batches and is idempotent under re-folds") {
    val dir = Scratch.dir("graft_fel_in")
    val table = Scratch.dir("graft_fel_t") + "/latest"
    def ev(id: Long, user: Long, time: String, kind: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, kind, 1.0)
    def read() = spark.read.parquet(table)
      .select("user_id", "event_id", "event_type")
      .as[(Long, Long, String)].collect().toSet

    writeBatch(dir, "b1", Seq(ev(1, 1, "10:00:00", "view")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def run(): Unit = EventStreams.latestPerUser(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir), table)

    run()
    assert(read() == Set((1L, 1L, "view")))

    // a newer u1 event supersedes; u2 appears; the old u1 row must be
    // REPLACED in the table, not appended (upsert, not insert)
    writeBatch(dir, "b2", Seq(ev(2, 1, "11:00:00", "purchase"),
      ev(3, 2, "10:30:00", "view")))
    run()
    val after = read()
    assert(after == Set((1L, 2L, "purchase"), (2L, 3L, "view")), after.toString)

    // re-fold the same files (an at-least-once retry): table unchanged
    run()
    assert(read() == after, "re-processing a batch must be a no-op")
  }

  test("foreachBatch upsert fails on an unreadable table and leaves it in place") {
    val dir = Scratch.dir("graft_fel_in")
    val table = Scratch.dir("graft_fel_t") + "/latest"
    writeBatch(dir, "b1", Seq(EventStreams.Event(1L,
      Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view", 1.0)))
    val junk = java.nio.file.Paths.get(table, "part-0.parquet")
    Files.createDirectories(junk.getParent)
    Files.write(junk, "not parquet".getBytes("UTF-8"))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      EventStreams.latestPerUser(spark.readStream.schema(schema).parquet(dir), table))
    assert(new String(Files.readAllBytes(junk), "UTF-8") == "not parquet",
      "an unreadable table must not be replaced by the batch")
  }

  test("state-store metrics: watermarked dedup EVICTS state, exact dedup only grows") {
    // the empirical half of the bounded-state claim: same two phases of
    // 500 distinct pairs 10 h apart, measure numRowsTotal from the
    // state-store progress of each plan
    def ev(id: Long, user: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, "click", 1.0)
    val phase1 = (0L until 500L).map(u => ev(u, u, "10:00:00"))
    val phase2 = (0L until 500L).map(u => ev(1000 + u, 1000 + u, "20:00:00"))

    def finalStateRows(name: String,
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
      val dir = Scratch.dir(s"graft_ss_$name")
      writeBatch(dir, "b1", phase1)
      val schema = spark.read.parquet(s"$dir/b1.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      spark.streams.active.filter(_.name == name).foreach(_.stop())
      val q = mk(stream).writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        writeBatch(dir, "b2", phase2)
        q.processAllAvailable()
        q.recentProgress.reverse.iterator
          .map(_.stateOperators).find(_.nonEmpty).get.head.numRowsTotal
      } finally q.stop()
    }

    val unbounded = finalStateRows("ss_exact", EventStreams.dedupPairs)
    val bounded = finalStateRows("ss_wm",
      df => EventStreams.dedupPairsWatermarked(df, horizon = "1 hour"))
    // exact dedup keeps every pair ever seen; the watermarked twin has
    // dropped phase 1 once the watermark (20:00 − 1 h) passed it
    assert(unbounded == 1000L, s"exact dedup state: $unbounded")
    assert(bounded <= 500L && bounded > 0L,
      s"watermarked state must have evicted phase 1: $bounded")
  }

  test("hopping windows: every overlapping window counts the event; late data dropped") {
    val dir = Scratch.dir("graft_hop")
    def ev(id: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), 1L, "click", 1.0)
    def ms(time: String): Long = Timestamp.valueOf(s"2024-01-01 $time").getTime

    // 10:20 lands in the four 1 h/15 min windows starting 09:30..10:15;
    // 12:40 advances the watermark (1 h) to 11:40 — all four finalize
    writeBatch(dir, "b1", Seq(ev(1, "10:20:00"), ev(2, "12:40:00")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.hoppingCounts(stream)

    spark.streams.active.filter(_.name == "hop_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("hop_test").start()
    try {
      q.processAllAvailable()
      // 10:25 is behind the 11:40 watermark: its windows already closed,
      // the event must be dropped, counts unchanged
      writeBatch(dir, "b2", Seq(ev(3, "10:25:00")))
      q.processAllAvailable()

      val rows = spark.table("hop_test")
        .select("window_start_ms", "n_events").as[(Long, Long)].collect().toSeq
      val expected = Seq("09:30:00", "09:45:00", "10:00:00", "10:15:00").map(ms)
      val got = rows.toMap
      expected.foreach { w =>
        assert(got.get(w) == Some(1L),
          s"window $w must hold exactly the one pre-watermark event: $rows")
      }
      // row COUNT makes the drop observable: a re-created window would
      // re-emit a duplicate (window, 1) row that toMap would swallow
      assert(rows.size == expected.size,
        s"late event must not re-emit or reopen windows: $rows")
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    val dir = Scratch.dir("graft_wm")
    def ev(id: Long, time: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), 1L, "click", 1.0)
    def epoch(time: String): Long =
      Timestamp.valueOf(s"2024-01-01 $time").getTime / 1000

    // batch 1: window [10:00) gets one event; 12:30 advances the
    // watermark (1 h) to 11:30, past that window's end
    writeBatch(dir, "b1", Seq(ev(1, "10:00:00"), ev(2, "12:30:00")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.hourlyCounts(stream)

    spark.streams.active.filter(_.name == "wm_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_test").start()
    try {
      q.processAllAvailable()
      // batch 2: 10:15 is behind the 11:30 watermark → must be dropped;
      // 14:30 advances the watermark to 13:30 so window [12:00) finalizes
      writeBatch(dir, "b2", Seq(ev(3, "10:15:00"), ev(4, "14:30:00")))
      q.processAllAvailable()

      val got = spark.table("wm_test")
        .select("hour_epoch", "n_events").as[(Long, Long)].collect().toMap
      assert(got.get(epoch("10:00:00")) == Some(1L),
        s"late event must not reopen the finalized 10:00 window: $got")
      assert(got.get(epoch("12:00:00")) == Some(1L),
        s"12:00 window should finalize once the watermark passes it: $got")
      assert(!got.contains(epoch("14:00:00")),
        "the 14:00 window is still open and must not be in append output")
    } finally q.stop()
  }

  test("checkpointed restart recovers transformWithState RocksDB state") {
    val dir = Scratch.dir("graft_twsr_in")
    val ckpt = Scratch.dir("graft_twsr_ck")
    val outDir = Scratch.dir("graft_twsr_out")
    def ev(id: Long, minute: Int, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
        3L, "click", value)

    writeBatch(dir, "b1", Seq(ev(1, 0, 1.0), ev(2, 5, 2.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.runningUserStats(stream).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start()
    q1.processAllAvailable(); q1.stop()

    // restart from the checkpoint: the RocksDB ValueState must resume
    // at (seq=2, cum=300), not recount from zero
    writeBatch(dir, "b2", Seq(ev(3, 10, 0.5)))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(outDir)
      .select("event_id", "seq", "cum_cents")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 100L), (2L, 2L, 300L), (3L, 3L, 350L)),
      s"state API v2 must recover across restart: $got")
  }

  test("topK state: checkpointed restart recovers; batch split order is irrelevant") {
    val ckpt = Scratch.dir("graft_topk_ck")
    val outDir = Scratch.dir("graft_topk_out")
    val dir = Scratch.dir("graft_topk_in")
    def ev(id: Long, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf("2024-01-01 10:00:00"),
        1L, "purchase", value)

    // batch 1 holds the eventual #2 and #4; batch 2 (post-restart)
    // delivers the #1 and #3 — the leaderboard must merge, not reset,
    // and (5.0, id 4) must evict nothing while (9.0, id 3) displaces
    writeBatch(dir, "b1", Seq(ev(1, 7.0), ev(2, 3.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.streamingTopK(stream, 3).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    writeBatch(dir, "b2", Seq(ev(3, 9.0), ev(4, 5.0)))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()

    val fin = spark.read.parquet(outDir)
      .orderBy(col("n_seen").desc).limit(1)
      .select("n_seen", "top_cents", "top_ids")
      .as[(Long, Seq[Long], Seq[Long])].head()
    assert(fin == ((4L, Seq(900L, 700L, 500L), Seq(3L, 1L, 4L))),
      s"restart must merge into the carried leaderboard: $fin")

    // permutation-invariance: the same four events in one batch,
    // reversed order, land on the identical state (no ordering caveat)
    val dir2 = Scratch.dir("graft_topk_in2")
    writeBatch(dir2, "all", Seq(ev(4, 5.0), ev(3, 9.0), ev(2, 3.0), ev(1, 7.0)))
    val q3 = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema).parquet(dir2)
      EventStreams.streamingTopK(stream, 3).writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName("graft_topk_one").start()
    }
    try {
      q3.processAllAvailable()
      val one = spark.table("graft_topk_one")
        .select("top_cents", "top_ids").as[(Seq[Long], Seq[Long])].head()
      assert(one == ((fin._2, fin._3)),
        s"one-shot reversed-order run must equal the split run: $one")
    } finally q3.stop()
  }

  test("kmv state: restart merges the sketch; split equals one-shot equals batch") {
    val ckpt = Scratch.dir("graft_kmv_ck")
    val outDir = Scratch.dir("graft_kmv_out")
    val dir = Scratch.dir("graft_kmv_in")
    def ev(id: Long, user: Long): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf("2024-01-01 10:00:00"),
        user, "view", 0.0)
    def h(user: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(user.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    }
    // users 1..10 split across a restart, with repeats (set semantics)
    writeBatch(dir, "b1", (1L to 6L).map(u => ev(u, u)) :+ ev(100L, 3L))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start(k: Int) = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.streamingKmv(stream, k).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start(4); q1.processAllAvailable(); q1.stop()
    writeBatch(dir, "b2", (7L to 10L).map(u => ev(u + 200L, u)))
    val q2 = start(4); q2.processAllAvailable(); q2.stop()
    val fin = spark.read.parquet(outDir)
      .orderBy(col("n_seen").desc).limit(1)
      .select("n_seen", "ks").as[(Long, Seq[Long])].head()
    val expect = (1L to 10L).map(h).distinct.sorted.take(4)
    assert(fin._1 == 11L, s"n_seen counts rows, repeats included: $fin")
    assert(fin._2 == expect,
      s"sketch must merge across the restart into the batch k-min: $fin")
  }

  test("token bucket: refill/consume trajectory carries across a restart") {
    val ckpt = Scratch.dir("graft_tb_ck")
    val outDir = Scratch.dir("graft_tb_out")
    val dir = Scratch.dir("graft_tb_in")
    def ev(id: Long, ms: Long): EventStreams.Event =
      EventStreams.Event(id, new Timestamp(ms), 1L, "click", 0.0)
    val t0 = 1704067200000L
    // burst of 6 at t0 drains the 5-token bucket (1 throttled)...
    writeBatch(dir, "b1", (1L to 6L).map(i => ev(i, t0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.streamingTokenBucket(stream).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // ...after a restart, 5 minutes later: half a token refilled —
    // still < 1, so the next event throttles too; 10 more minutes
    // refill a full token and the next event passes
    writeBatch(dir, "b2", Seq(ev(7L, t0 + 300000L)))
    writeBatch(dir, "b3", Seq(ev(8L, t0 + 900000L)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val fin = spark.read.parquet(outDir)
      .orderBy(col("n_events").desc).limit(1)
      .select("n_events", "n_throttled", "tokens_micro")
      .as[(Long, Long, Long)].head()
    // trajectory: 5 allowed, then throttle at #6; #7 at +5min has
    // 0 + 500000 micro -> throttled; #8 at +15min has 500000 + 1000000
    // capped... = 1500000 -> allowed, leaving 500000
    assert(fin == ((8L, 2L, 500000L)),
      s"restart must carry the micro-token balance: $fin")
  }

  test("observability: observe() metrics and state-operator progress surface") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener.{QueryStartedEvent, QueryProgressEvent, QueryTerminatedEvent}

    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val terminated = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = { started.incrementAndGet(); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { terminated.incrementAndGet(); () }
    }
    spark.streams.addListener(listener)
    try {
      val dir = Scratch.dir("graft_obs")
      def ev(id: Long, user: Long, minute: Int): EventStreams.Event =
        EventStreams.Event(id, Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"),
          user, "click", 1.0)
      writeBatch(dir, "b1", Seq(ev(1, 1, 0), ev(2, 1, 0), ev(3, 2, 5)))
      val schema = spark.read.parquet(s"$dir/b1.parquet").schema
      val stream = spark.readStream.schema(schema)
        .parquet(dir)
        // observe(): named arbitrary aggregates evaluated over each
        // micro-batch's rows, surfaced in StreamingQueryProgress — the
        // zero-cost pipeline-health hook (no extra pass over the data)
        .observe("src", count(lit(1)).as("rows"), sum(col("value")).as("value_sum"))
      val out = EventStreams.dedupPairsWatermarked(stream, "2 hours")
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("graft_obs").start()
      try {
        q.processAllAvailable()
        val progs = q.recentProgress.toSeq
        assert(progs.nonEmpty, "processAllAvailable must leave progress records")
        // observed metrics: total rows across micro-batches == input rows
        val observed = progs.flatMap(p =>
          Option(p.observedMetrics.get("src")).map(_.getLong(0)))
        assert(observed.sum == 3L,
          s"observe() must count every input row exactly once: $observed")
        // the dedup state operator reports its state size: 2 distinct
        // (user, type) pairs held within the watermark horizon
        val stateRows = progs.flatMap(_.stateOperators.toSeq)
          .map(_.numRowsTotal).max
        assert(stateRows == 2L,
          s"dropDuplicatesWithinWatermark must hold one state row per " +
            s"distinct in-horizon pair: $stateRows")
      } finally q.stop()
      // listener lifecycle events are delivered asynchronously
      val deadline = System.nanoTime() + 10_000_000_000L
      while ((started.get() < 1 || terminated.get() < 1) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(started.get() >= 1 && terminated.get() >= 1,
        s"listener must see start+termination: ${started.get()}/${terminated.get()}")
    } finally spark.streams.removeListener(listener)
  }

  test("CEP sessions assemble the pattern across micro-batches and emit the verdict once") {
    val dir = Scratch.dir("graft_cep")
    def ev(id: Long, user: Long, time: String, typ: String): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(s"2024-01-01 $time"), user, typ, 1.0)
    def ms(time: String): Long = Timestamp.valueOf(s"2024-01-01 $time").getTime

    // batch 1: u1 view,view (open session); u2 view,purchase (one v only)
    writeBatch(dir, "b1", Seq(
      ev(1, 1, "10:00:00", "view"), ev(2, 1, "10:05:00", "view"),
      ev(3, 2, "10:00:00", "view"), ev(4, 2, "10:02:00", "purchase")))

    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    val out = EventStreams.cepSessions(stream, "v.*v.*p",
      gapMs = 30 * 60 * 1000, horizon = "1 hour").toDF()

    spark.streams.active.filter(_.name == "cep_test").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cep_test").start()
    try {
      q.processAllAvailable()
      // batch 2: the purchase lands in a LATER micro-batch but inside
      // u1's open session — the pattern must complete across batches
      writeBatch(dir, "b2", Seq(ev(5, 1, "10:10:00", "purchase")))
      q.processAllAvailable()
      // batch 3: far-future event advances the watermark past both
      // open-session timeouts → both sessions finalize
      writeBatch(dir, "b3", Seq(ev(6, 9, "14:00:00", "click")))
      q.processAllAvailable()
      val rows = spark.table("cep_test")
        .select("user_id", "session_start_ms", "n_events", "seq", "matched")
        .as[(Long, Long, Long, String, Boolean)].collect().toSet
      assert(rows.contains((1L, ms("10:00:00"), 3L, "vvp", true)),
        s"u1's cross-batch session must emit vvp/matched: $rows")
      assert(rows.contains((2L, ms("10:00:00"), 2L, "vp", false)),
        s"u2's single-view session must emit vp/unmatched: $rows")
      assert(rows.count(_._1 == 1L) == 1, s"one emission per session: $rows")
    } finally q.stop()
  }

  // --- sub-ms collision pins: every stateful processor sorts with the
  // ONE total order (eventOrder = full-precision ts, then event_id);
  // these fix two same-user events in the SAME millisecond whose
  // microsecond order is OPPOSITE to their id order -----------------

  test("sub-ms collisions: tws running fold follows microseconds, not id order") {
    val dir = Scratch.dir("graft_subms_tws")
    writeBatch(dir, "b1", Seq(
      EventStreams.Event(5L,
        Timestamp.valueOf("2024-01-01 10:00:00.000700"), 7L, "click", 2.0),
      EventStreams.Event(9L,
        Timestamp.valueOf("2024-01-01 10:00:00.000400"), 7L, "click", 1.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = EventStreams.runningUserStats(stream)
    spark.streams.active.filter(_.name == "subms_tws").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("subms_tws").start()
    }
    try {
      q.processAllAvailable()
      val rows = spark.table("subms_tws")
        .select("event_id", "seq", "cum_cents")
        .as[(Long, Long, Long)].collect().toSet
      // an (ms, id) sort would fold id 5 first → (5,1,200),(9,2,300)
      assert(rows == Set((9L, 1L, 100L), (5L, 2L, 300L)),
        s"id 9 (.0004) must fold before id 5 (.0007): $rows")
    } finally q.stop()
  }

  test("sub-ms collisions: sessionize counts are within-ms order-invariant") {
    val dir = Scratch.dir("graft_subms_sess")
    writeBatch(dir, "b1", Seq(
      EventStreams.Event(5L,
        Timestamp.valueOf("2024-01-01 10:00:00.000700"), 7L, "click", 1.0),
      EventStreams.Event(9L,
        Timestamp.valueOf("2024-01-01 10:00:00.000400"), 7L, "click", 1.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    val out = EventStreams.sessionize(stream, gapMs = 30 * 60 * 1000).toDF()
    spark.streams.active.filter(_.name == "subms_sess").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("subms_sess").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("subms_sess")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((7L, 1L, 2L)),
        s"same-ms pair is one 2-event session under any fold order: $rows")
    } finally q.stop()
  }

  test("sub-ms collisions: CEP seq string stays (ms, id)-ordered like the batch slice") {
    val dir = Scratch.dir("graft_subms_cep")
    // µs order is purchase(id 9) BEFORE view(id 5); the buffer string
    // orders by (ms, id) — matching the batch twin's slice — so it
    // must spell "vp" (id 5 first), not the fold order "pv"
    writeBatch(dir, "b1", Seq(
      EventStreams.Event(9L,
        Timestamp.valueOf("2024-01-01 10:00:00.000400"), 7L, "purchase", 1.0),
      EventStreams.Event(5L,
        Timestamp.valueOf("2024-01-01 10:00:00.000700"), 7L, "view", 1.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[EventStreams.Event]
    val out = EventStreams.cepSessions(stream, "v.*p",
      gapMs = 30 * 60 * 1000, horizon = "1 hour").toDF()
    spark.streams.active.filter(_.name == "subms_cep").foreach(_.stop())
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("subms_cep").start()
    try {
      q.processAllAvailable()
      // far-future event advances the watermark → session finalizes
      writeBatch(dir, "b2", Seq(EventStreams.Event(6L,
        Timestamp.valueOf("2024-01-01 14:00:00"), 8L, "click", 1.0)))
      q.processAllAvailable()
      writeBatch(dir, "b3", Seq(EventStreams.Event(7L,
        Timestamp.valueOf("2024-01-01 18:00:00"), 8L, "click", 1.0)))
      q.processAllAvailable()
      val rows = spark.table("subms_cep")
        .select("user_id", "n_events", "seq", "matched")
        .as[(Long, Long, String, Boolean)].collect().toSet
      assert(rows.contains((7L, 2L, "vp", true)),
        s"seq must be (ms, id)-ordered 'vp' and match v.*p: $rows")
    } finally q.stop()
  }

  test("kll tws: checkpointed restart resumes the serialized sketch state") {
    val dir = Scratch.dir("graft_kllr_in")
    val ckpt = Scratch.dir("graft_kllr_ck")
    val outDir = Scratch.dir("graft_kllr_out")
    def ev(id: Long, day: Int, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"),
        7L, "click", value)

    // k=64 >> value count: the sketch never compacts, so level 0 holds
    // every value EXACTLY and the median readout is the exact
    // lower-median order statistic — restart correctness is graded on
    // exact numbers, not a rank band. Jan 1 2024 is a Monday; days
    // 1-7 land in one week key, day 8 opens a second key.
    writeBatch(dir, "b1", Seq(ev(1, 1, 10.0), ev(2, 2, 20.0), ev(3, 3, 30.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    def start() = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      EventStreams.streamingKllWeekly(stream, 64).writeStream
        .outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    def latest(): Map[String, (Long, Double)] = {
      val df = spark.read.parquet(outDir)
      df.groupBy(col("week"))
        .agg(max_by(col("sketch"), col("n")).as("sk"), max(col("n")).as("n"))
        .select(col("week"), col("n"),
          graft.plans.KllSketch.kllQuantile(col("sk"), 0.5).as("med"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
    }
    assert(latest() == Map("2024-01-01" -> ((3L, 20.0))))

    // restart: the serialized buffer must resume at n=3 — two more
    // values make n=5, exact median 25.0; a reset-to-empty state would
    // read n=2 / median 40.0
    writeBatch(dir, "b2", Seq(ev(4, 4, 25.0), ev(5, 5, 40.0)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(latest() == Map("2024-01-01" -> ((5L, 25.0))),
      "sketch state must survive the restart")

    // second restart, new week key: day 8 opens 2024-01-08 while the
    // first week's state stays intact
    writeBatch(dir, "b3", Seq(ev(6, 8, 99.0), ev(7, 6, 35.0)))
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    assert(latest() == Map(
      "2024-01-01" -> ((6L, 25.0)), // values 10,20,25,30,35,40 → lower median 25
      "2024-01-08" -> ((1L, 99.0))))
  }

  test("kll tws: TTL'd processing-time variant computes the sketch, stops clean") {
    // a TTL'd stateful operator schedules maintenance micro-batches
    // forever — that IS how state TTL works — so the query is a
    // continuous one: processAllAvailable()/AvailableNow never
    // terminate it (measured both). The supported production shape is
    // a PACED processing-time trigger + lifecycle stop; this pins it:
    // the sketch lands correctly and the query stops cleanly.
    val dir = Scratch.dir("graft_kllttl")
    def ev(id: Long, day: Int, value: Double): EventStreams.Event =
      EventStreams.Event(id, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"),
        7L, "click", value)
    writeBatch(dir, "b1", Seq(ev(1, 1, 10.0), ev(2, 2, 20.0), ev(3, 3, 30.0)))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    spark.streams.active.filter(_.name == "kllttl_test").foreach(_.stop())
    val q = EventStreams.withRocksDbState(spark) {
      val stream = spark.readStream.schema(schema).parquet(dir)
      EventStreams.streamingKllWeekly(stream, 64,
          ttl = Some(java.time.Duration.ofDays(35)))
        .writeStream.outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .format("memory").queryName("kllttl_test").start()
    }
    try {
      def rows(): Map[String, (Long, Double)] = spark.table("kllttl_test")
        .groupBy(col("week"))
        .agg(max_by(col("sketch"), col("n")).as("sk"), max(col("n")).as("n"))
        .select(col("week"), col("n"),
          graft.plans.KllSketch.kllQuantile(col("sk"), 0.5).as("med"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val deadline = System.currentTimeMillis() + 120000
      var got = rows()
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500); got = rows()
      }
      assert(got == Map("2024-01-01" -> ((3L, 20.0))))
    } finally q.stop()
  }
}
