package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Exact ranks and running sums WITHOUT a global sort-to-one-task: the
  * standard two-pass offset pattern every large-scale pipeline uses to
  * number 1e11 rows (training-example ids, surrogate keys) or to run a
  * cumulative total over them.
  *
  *   1. range-partition on (group, order) and sort within partitions —
  *      partitions now hold disjoint, ordered key ranges;
  *   2. first pass sums each group's values per partition (one long per
  *      (partition, group) to the driver — bounded by partitions plus
  *      groups, never rows: range partitioning keeps a group in few
  *      partitions), and the driver folds them in partition-range order
  *      into each (partition, group)'s starting offset;
  *   3. second pass walks each partition once, accumulating from its
  *      offsets.
  *
  * The result equals the one-task window (`ROW_NUMBER`, or a running
  * `SUM ... ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW`) exactly,
  * but no single task ever sees more than its partition — a 3-group
  * running sum over 1e10 rows is 3 tasks in the window plan and every
  * range partition here. The partition count is the session's
  * `spark.sql.shuffle.partitions` (`graft.Session` sets it to the core
  * count), passed explicitly to `repartitionByRange` so adaptive
  * execution cannot coalesce it. Where the range boundaries land (they
  * come from sampling) and how many partitions there are affect only
  * which task computes which span, never the results, because offsets
  * are accumulated in partition-range order.
  */
object Ids {

  /** Append `out`, the inclusive running sum of the LongType column
    * `value` within each `by` group, in `order` (ascending or
    * descending columns; they must be a total order within a group —
    * include a unique tiebreak). `value = None` counts rows, so `out`
    * equals `ROW_NUMBER() OVER (PARTITION BY by ORDER BY order)`;
    * empty `by` is one global group. The sum is accumulated in Long
    * arithmetic (cast narrower integers up, or scale doubles to
    * fixed-point, before calling).
    *
    * Both passes run over the SAME persisted range-partitioned RDD, so
    * the sampled boundaries are computed once and shared — re-running
    * the range shuffle per pass could sample different boundaries and
    * corrupt the offsets. The result is eagerly [[Checkpoints.round]]ed
    * before that RDD is unpersisted (a reliable checkpoint re-reads
    * it), so the returned plan never re-runs the sampling.
    */
  def prefixSum(df: DataFrame, order: Seq[Column], out: String,
      value: Option[String] = None, by: Seq[String] = Nil): DataFrame = {
    require(order.nonEmpty)
    value.foreach { v =>
      require(df.schema(v).dataType == LongType,
        s"prefixSum: $v must be LongType, got ${df.schema(v).dataType.simpleString}")
    }
    val spark = df.sparkSession
    val schema = df.schema
    val keys = by.map(col) ++ order
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df.repartitionByRange(nParts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val byIdx = by.map(schema.fieldIndex)
      val vIdx = value.map(schema.fieldIndex)
      val group: Row => Seq[Any] = r => byIdx.map(r.get)
      val step: Row => Long = r => vIdx.fold(1L)(r.getLong)
      // pass 1: per-(partition, group) sums
      val sums = ranged.mapPartitionsWithIndex { (i, it) =>
        val s = mutable.LinkedHashMap.empty[Seq[Any], Long]
        it.foreach { r => val g = group(r); s(g) = s.getOrElse(g, 0L) + step(r) }
        s.iterator.map { case (g, v) => (i, g, v) }
      }.collect()
      // fold in partition order → starting offset of each group in each
      // partition
      val running = mutable.HashMap.empty[Seq[Any], Long]
      val offsets: Map[(Int, Seq[Any]), Long] =
        sums.sortBy(_._1).map { case (i, g, s) =>
          val start = running.getOrElse(g, 0L)
          running(g) = start + s
          (i, g) -> start
        }.toMap
      val bc = spark.sparkContext.broadcast(offsets)
      // pass 2: accumulate within each partition from the offsets
      val withSum = ranged.mapPartitionsWithIndex { (i, it) =>
        val acc = mutable.HashMap.empty[Seq[Any], Long]
        it.map { r =>
          val g = group(r)
          val c = acc.getOrElse(g, bc.value.getOrElse((i, g), 0L)) + step(r)
          acc(g) = c
          Row.fromSeq(r.toSeq :+ c)
        }
      }
      Checkpoints.round(
        spark.createDataFrame(withSum, schema.add(out, LongType, nullable = false)))
    } finally ranged.unpersist(blocking = false)
  }
}
