package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Joins, Windows}

/** Skew stress bench (VERDICT-r3 #5): measures the chunked skew escape
  * hatches against the plain single-task-per-hot-key shapes on a
  * deliberately hostile input — 90% of rows on ONE key, ~10× the sf0.1
  * events volume. ChunkedPropsSpec already pins output equality on
  * random skewed timelines; this records the PERF claim ("a hot key
  * spreads over #chunks tasks"). Numbers live in BASELINE.md.
  *
  * Inputs are materialized to parquet first so every variant reads the
  * identical bytes and the timing is the operator, not the generator.
  * All columns derive from xxhash64(id) — deterministic, no rand().
  */
object SkewBench {
  private val DayMs = 24L * 3600 * 1000
  private val SpanMs = 30 * DayMs // event times cover 30 days

  private def drive(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "1000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Session("graft-skew-bench")

    // 90% of rows on user_id 0, the rest uniform over 99 cold keys
    def skewKey(salt: Int): org.apache.spark.sql.Column =
      when(pmod(xxhash64(col("id"), lit(salt)), lit(10)) < 9, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(salt + 1)), lit(99)) + 1)

    val tmp = graft.util.Scratch.dir("graft_skew")
    spark.range(n).select(
        skewKey(10).as("user_id"),
        pmod(xxhash64(col("id"), lit(12)), lit(SpanMs)).as("t"),
        col("id").as("event_id"))
      .write.parquet(s"$tmp/events")
    // right side: 5% of the volume, same skew; unique per (key, time)
    // as the asofJoin contract requires
    spark.range(n / 20).select(
        skewKey(20).as("user_id"),
        pmod(xxhash64(col("id"), lit(22)), lit(SpanMs)).as("qt"),
        pmod(xxhash64(col("id"), lit(23)), lit(10000)).as("quote"))
      .groupBy("user_id", "qt").agg(max("quote").as("quote"))
      .write.parquet(s"$tmp/quotes")
    val events = spark.read.parquet(s"$tmp/events")
    val quotes = spark.read.parquet(s"$tmp/quotes")

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "asof_plain" -> (() =>
        Joins.asofJoin(events, "t", quotes, "qt", Seq("user_id"))),
      // 30 one-day chunks: the hot key's sort spreads over 30 tasks
      "asof_chunked" -> (() =>
        Joins.asofJoin(events, "t", quotes, "qt", Seq("user_id"),
          chunkSpan = Some(DayMs))),
      "rolling_plain" -> (() =>
        Windows.trailingRangeAgg(events, Seq("user_id"), "t", 3600000L,
          Seq("n_1h" -> count(lit(1)), "sum_1h" -> sum(col("event_id"))))),
      // 6-hour chunks: 120 tasks for the hot key, ≤1.2× replication
      "rolling_chunked" -> (() =>
        Windows.trailingRangeAgg(events, Seq("user_id"), "t", 3600000L,
          Seq("n_1h" -> count(lit(1)), "sum_1h" -> sum(col("event_id"))),
          chunkSpan = Some(6L * 3600 * 1000))))

    val results = variants.map { case (name, mk) =>
      drive(mk()) // warm-up
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        drive(mk())
        (System.nanoTime() - t0) / 1e9
      }
      val med = median(times)
      System.err.println(f"[skew-bench] $name%-16s $med%8.2f s  " +
        f"(reps: ${times.map(t => f"$t%.2f").mkString(", ")})")
      name -> med
    }
    val qs = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"skew_stress","rows":$n,"hot_share":0.9,"queries":$qs,"reps":$reps}""")
  }
}
