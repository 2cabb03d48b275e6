package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact INTERPOLATED quantiles (`quantile_cont` semantics) computed
  * DISTRIBUTED — the replacement for Spark's exact `percentile`
  * aggregate, whose aggregation buffer holds EVERY value of a group on
  * one task (an OpenHashMap of counts merged to a single final buffer:
  * fine at sf0.1, a memory funnel for a 10⁹-row group at 100 TB).
  *
  * Shape: [[cumCounts]] — per-(group, value) counts, ONE [[Ids.prefixSum]]
  * range scan over ascending value (no task ever holds more than its
  * range partition; the partition count comes from the session and
  * never changes a result), and each group's total — then each
  * requested percentile picks its two bracketing order statistics by
  * INTEGER rank (smallest value whose cumulative count reaches the
  * rank) and interpolates linearly:
  * t = (n−1)·p, result = v⌊t⌋₊₁ + (t − ⌊t⌋)·(v⌈t⌉₊₁ − v⌊t⌋₊₁) — the
  * identical definition Spark's `percentile` and DuckDB's
  * `quantile_cont` both implement, so existing oracle parity (within
  * the callers' cent/day rounding slack) is preserved.
  */
object Quantiles {

  /** The count→scan→total prelude every exact rank statistic starts
    * from: one row per (`by` group, distinct value of `value`) with
    * columns (by…, v, cnt, cum, n) — `cnt` the value's multiplicity,
    * `cum` the inclusive cumulative count over ascending `v` within the
    * group, `n` the group's row count. Groups match null-safely; empty
    * `by` is one global group. `by` must not name v, cnt, cum or n.
    */
  def cumCounts(df: DataFrame, value: String, by: Seq[String] = Nil): DataFrame = {
    val pv = df.groupBy((by.map(col) :+ col(value).as("v")): _*)
      .agg(count(lit(1)).as("cnt"))
    val cum = Ids.prefixSum(pv, Seq(col("v")), "cum", Some("cnt"), by)
    val tot = cum.groupBy(by.map(g => col(g).as(s"_t_$g")): _*)
      .agg(max(col("cum")).as("n"))
    val on = by.map(g => col(g) <=> col(s"_t_$g")).foldLeft(lit(true))(_ && _)
    cum.join(broadcast(tot), on).drop(by.map(g => s"_t_$g"): _*)
  }

  /** One row per (group, p) with the interpolated quantile `q` as
    * double. `valueCol` is GROUPED ON (the per-value count table is
    * the whole point), so the real precondition is group-by-equality
    * soundness, not integrality: integral/decimal columns always
    * qualify; double columns qualify when every engine being compared
    * reads bit-identical values (parquet-sourced doubles do — the
    * callers passing doubles, o_totalprice / robust-scale deviations,
    * hash-match their oracles on exactly that), and must not contain
    * NaN or signed zeros (distinct group keys that compare equal).
    * `groupCols` empty → global quantiles, output columns (p, q).
    */
  def interpolated(df: DataFrame, valueCol: String, groupCols: Seq[String],
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty)
    def t(p: Double) = (col("n") - 1L).cast("double") * lit(p)
    // ALL bracketing picks ride ONE aggregate pass over the scan output
    // (2·|ps| conditional mins), then the interpolations explode back
    // to (group, p, q) rows — |ps| never multiplies the passes
    val aggs = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        min(when(col("cum") >= floor(t(p)).cast("long") + 1L, col("v")))
          .as(s"_vlo$i"),
        min(when(col("cum") >= ceil(t(p)).cast("long") + 1L, col("v")))
          .as(s"_vhi$i"))
    }
    val picked = cumCounts(df, valueCol, groupCols)
      .groupBy((groupCols :+ "n").map(col): _*).agg(aggs.head, aggs.tail: _*)
    val qCols = ps.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"),
        (col(s"_vlo$i").cast("double") +
          (col(s"_vhi$i") - col(s"_vlo$i")).cast("double") * (t(p) - floor(t(p))))
          .as("q"))
    }
    picked.select((groupCols.map(col) :+ explode(array(qCols: _*)).as("_x")): _*)
      .select((groupCols.map(col) :+ col("_x.p").as("p") :+ col("_x.q").as("q")): _*)
  }
}
