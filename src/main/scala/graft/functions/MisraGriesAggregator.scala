package graft.functions

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Misra–Gries heavy-hitters summary as a [[Summary]]: find the
  * frequent tokens of a corpus WITHOUT shuffling the full distinct-token
  * space. An exact `groupBy(token).count().orderBy(...)` shuffles one row
  * per distinct token — at web scale that is 10^9–10^10 rows of shuffle
  * for an answer whose useful part is the top handful. This summary keeps
  * at most `k` counters per partial aggregate, so the shuffle carries
  * `≤ k × partitions` entries regardless of corpus or vocabulary size.
  *
  * Algorithm (Misra & Gries 1982; mergeable form per Agarwal et al.,
  * "Mergeable Summaries", PODS 2012): per item, increment a tracked
  * counter, else insert if there is room, else decrement ALL counters by
  * one (dropping zeros). Merge sums two summaries and, if over capacity,
  * subtracts the (k+1)-st largest count from every counter, dropping
  * non-positives — exactly the same undercount mechanism, so the bound
  * composes across any merge tree (Spark's partial/final aggregation
  * included).
  *
  * Guarantees, independent of partitioning and merge order:
  *   - estimates never OVER-count: `est(t) ≤ true(t)`;
  *   - undercount is bounded: `est(t) ≥ true(t) − N/(k+1)` for total
  *     stream length N — so every token with `true(t) > N/(k+1)` is
  *     guaranteed present in the final summary;
  *   - with `k ≥` the number of distinct tokens, nothing is ever
  *     decremented and the summary IS the exact count map (the regime
  *     the q131 oracle hash-checks; the approximate-regime guarantees
  *     are property-pinned in MisraGriesSpec across repartitionings).
  *
  * The buffer is an immutable map (encoder-friendly); updates in the
  * common tracked-token case are O(1) map updates, and the O(k)
  * decrement amortizes to O(1) per item (each decrement pays for k
  * prior insertions). Spark keeps the buffer as a live object within a
  * partition and serializes only at the exchange, so the per-row cost
  * is the map update, not an encode/decode. Its roll-up IS the merge, so
  * rolling up k-summaries of streams S₁…Sₘ yields a valid k-summary of
  * their concatenation (undercount ≤ |S₁…Sₘ|/(k+1)). */
class MisraGriesAggregator(k: Int)
    extends Summary[String, Map[String, Long], Map[String, Long]](Encoders.STRING,
      ExpressionEncoder[Map[String, Long]](), ExpressionEncoder[Map[String, Long]]()) {
  require(k >= 1, "summary capacity must be >= 1")

  override def zero: Map[String, Long] = Map.empty

  override def add(buf: Map[String, Long], tok: String): Map[String, Long] =
    buf.get(tok) match {
      case Some(c) => buf.updated(tok, c + 1L)
      case None if buf.size < k => buf.updated(tok, 1L)
      case None =>
        // full and untracked: decrement everything, drop zeros (the new
        // token is consumed by its own decrement and never inserted)
        buf.flatMap { case (t, c) => if (c > 1L) Some(t -> (c - 1L)) else None }
    }

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
    val sum = b.foldLeft(a) { case (m, (t, c)) =>
      m.updated(t, m.getOrElse(t, 0L) + c)
    }
    if (sum.size <= k) sum
    else {
      // subtract the (k+1)-st largest count from all, keep positives:
      // at most k survive, and every counter lost exactly what the
      // decrement bound already accounts for. Selection, not a sort:
      // n ≤ 2k here (both inputs are k-summaries), but at a
      // k=10^5-tracking configuration an O(n log n) sort per merge
      // would BE the merge cost — quickselect keeps it O(n) expected.
      val kth = selectKthLargest(sum.values.toArray, k)
      sum.flatMap { case (t, c) => if (c > kth) Some(t -> (c - kth)) else None }
    }
  }

  /** The (k0+1)-st largest value of `vals` (0-indexed rank `k0` in
    * descending order) by in-place quickselect — O(n) expected, O(n²)
    * only on adversarial pivot runs, which counter values (data-derived
    * longs, median-of-three pivot) don't produce in practice. */
  private def selectKthLargest(vals: Array[Long], k0: Int): Long = {
    var lo = 0
    var hi = vals.length - 1
    val target = k0 // rank in DESCENDING order
    while (lo < hi) {
      // median-of-three pivot (descending comparisons)
      val mid = lo + (hi - lo) / 2
      if (vals(mid) > vals(lo)) { val t = vals(lo); vals(lo) = vals(mid); vals(mid) = t }
      if (vals(hi) > vals(lo)) { val t = vals(lo); vals(lo) = vals(hi); vals(hi) = t }
      if (vals(hi) > vals(mid)) { val t = vals(mid); vals(mid) = vals(hi); vals(hi) = t }
      val pivot = vals(mid)
      var i = lo
      var j = hi
      while (i <= j) {
        while (vals(i) > pivot) i += 1
        while (vals(j) < pivot) j -= 1
        if (i <= j) {
          val t = vals(i); vals(i) = vals(j); vals(j) = t
          i += 1; j -= 1
        }
      }
      if (target <= j) hi = j
      else if (target >= i) lo = i
      else return vals(target)
    }
    vals(target)
  }
}
