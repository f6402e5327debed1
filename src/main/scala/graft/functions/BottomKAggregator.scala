package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** [[Summary]] keeping the k (key, id) pairs with the SMALLEST keys per
  * group — the ascending sibling of [[TopKAggregator]], used by
  * [[graft.ops.Sampling.uniformExactKPerGroup]] for hash-order-statistic
  * sampling and by [[graft.ops.Curation.capPerGroupBounded]]: each map
  * task keeps ≤k pairs per group (partial aggregation), the reduce side
  * k-way-merges them, so the group shuffle carries at most k·groups rows
  * and NO group is ever sorted whole. The window formulation
  * (`row_number` over `orderBy(key)`) is result-identical but sorts every
  * group's full row set — with million-row groups that sort spills where
  * this buffer cannot (it is k pairs, period).
  *
  * Keys are expected distinct within a group (the sampling hash is a
  * bijection); (key, id) ordering makes the buffer total either way, so
  * the result is deterministic under any partitioning or merge order.
  * The id is a long, or a string ranked on `(xxhash64(id), id)`: the raw
  * id only decides on a 64-bit hash collision between two distinct ids,
  * where Java-lexicographic vs UTF-8-byte order divergence (non-BMP code
  * points) is a 2^-64-scale event per colliding pair; the keep set is
  * deterministic either way. */
class BottomKAggregator[ID: Ordering: TypeTag](k: Int)
    extends Summary[(Long, ID), Seq[(Long, ID)], Seq[(Long, ID)]](
      ExpressionEncoder[(Long, ID)](), ExpressionEncoder[Seq[(Long, ID)]](),
      ExpressionEncoder[Seq[(Long, ID)]]()) {
  require(k >= 1, "bottom-k needs k >= 1")

  override def zero: Seq[(Long, ID)] = Vector.empty

  private def trim(buf: Seq[(Long, ID)]): Seq[(Long, ID)] =
    buf.sorted.take(k)

  override def add(buf: Seq[(Long, ID)], in: (Long, ID)): Seq[(Long, ID)] =
    // skip the sort while the buffer is not full-and-beaten: the common
    // row is ABOVE the current k-th key and never enters the buffer
    if (buf.size >= k && in._1 > buf.last._1) buf else trim(buf :+ in)

  override def merge(a: Seq[(Long, ID)], b: Seq[(Long, ID)]): Seq[(Long, ID)] =
    trim(a ++ b)

  override def finish(buf: Seq[(Long, ID)]): Seq[(Long, ID)] = trim(buf)
}
