package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator` keeping the top-k (score, id) pairs per group in a
  * bounded buffer — per-key top-k WITHOUT a window sort: one partial
  * aggregation pass (each map task keeps ≤k pairs per key), then a k-way
  * merge per key on the reduce side. At scale this replaces the
  * `Window.partitionBy(..).orderBy(..)` + `row_number <= k` pattern whose
  * shuffle carries every row; this shuffle carries at most k·keys rows.
  *
  * Usage:
  * {{{
  * val topk = new TopKAggregator(3).toColumn
  * ds.groupByKey(_.custkey).agg(topk)
  * }}}
  */
class TopKAggregator[I](k: Int, scoreOf: I => Double, idOf: I => Long)
    extends Aggregator[I, Seq[(Double, Long)], Seq[(Double, Long)]] {

  override def zero: Seq[(Double, Long)] = Vector.empty

  private def trim(buf: Seq[(Double, Long)]): Seq[(Double, Long)] =
    buf.sortBy { case (score, id) => (-score, id) }.take(k)

  override def reduce(buf: Seq[(Double, Long)], in: I): Seq[(Double, Long)] =
    trim(buf :+ ((scoreOf(in), idOf(in))))

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    trim(a ++ b)

  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(buf)

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()

  override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
}
