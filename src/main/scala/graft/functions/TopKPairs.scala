package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Shared bounded top-k core: k-sized associative buffer over
  * (score, payload) pairs, ordered by (score DESC, payload ASC) — the
  * tie-break a deterministic ranking needs. Concrete payloads
  * ([[TopKPairs]]: Long id, [[TopKNamed]]: String name) only supply
  * encoders.
  *
  * Why it matters at scale: partial aggregation keeps at most k pairs
  * per group per map partition, so a brute-force scorer shuffles
  * O(partitions × k) rows per query instead of funneling ALL N×Q scored
  * rows into Q window tasks. Same math, bounded memory, bounded shuffle.
  */
abstract class BoundedTopK[P](k: Int)(implicit pOrd: Ordering[P])
    extends Aggregator[(Double, P), List[(Double, P)], Seq[(Double, P)]] {
  require(k > 0)

  private val ord: Ordering[(Double, P)] =
    Ordering.by { case (score, p) => (-score, p) }

  final override def zero: List[(Double, P)] = Nil

  final override def reduce(buf: List[(Double, P)], v: (Double, P)): List[(Double, P)] =
    trim(v :: buf)

  final override def merge(a: List[(Double, P)], b: List[(Double, P)]): List[(Double, P)] =
    trim(a ::: b)

  private def trim(xs: List[(Double, P)]): List[(Double, P)] =
    xs.sorted(ord).take(k)

  final override def finish(buf: List[(Double, P)]): Seq[(Double, P)] =
    buf.sorted(ord)
}

/** [[BoundedTopK]] with a Long id payload: the id rides alongside the
  * score, so a per-query nearest-neighbour rank can be rebuilt from the
  * aggregate output without a global `row_number` window.
  */
final case class TopKPairs(k: Int) extends BoundedTopK[Long](k) {
  override def bufferEncoder: Encoder[List[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()

  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
}

object TopKPairs {
  /** Untyped column form for use inside `groupBy(...).agg(...)`:
    * `topK(k)(scoreCol, idCol)` returns `array<struct<_1,_2>>` sorted by
    * (score DESC, id ASC).
    */
  def topK(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(
      TopKPairs(k), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
}
