package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval) join: match points to intervals `[lo, hi)` without the
  * cross-product a naive theta-join plans (Spark turns a pure inequality
  * join into BroadcastNestedLoopJoin — O(n·m) compares).
  *
  * The scale trick is binning: intervals register under every fixed-width
  * bin they overlap, points under their own bin, and the join becomes an
  * EQUI-join on the bin id followed by the exact predicate. Cost is
  * O(points + intervals·span/bin + matches) with an ordinary hash-shuffle
  * join — AQE/skew handling apply as usual. Candidate volume is
  * ∝ density·(span + binWidth) while interval registrations are
  * ∝ span/binWidth, so when the interval side broadcasts (registrations
  * cheap) the optimum sits BELOW the typical span — measured ~span/2 at
  * sf0.1 (2.1× over span-width bins; the sweep is in BENCH_NOTES.md
  * Round 3). Without the broadcast, wider bins re-balance
  * toward fewer registrations.
  */
object RangeJoin {

  /** Join `points` (value column `pt`) to `intervals` (columns `lo`,`hi`)
    * on `lo <= pt < hi`. Returns all columns of both sides.
    *
    * `broadcastIntervals` (default true) broadcasts the binned interval
    * side: bin ids are usually low-cardinality, so a shuffled hash join on
    * them lands everything on a handful of reducers — a map-side broadcast
    * join sidesteps that skew entirely. Set false only when the interval
    * table is too large to broadcast (then pick a binWidth that spreads
    * keys, and rely on AQE skew splitting).
    */
  def pointInInterval(points: DataFrame, pt: String,
      intervals: DataFrame, lo: String, hi: String,
      binWidth: Double, broadcastIntervals: Boolean = true): DataFrame = {
    require(binWidth > 0)
    val pBinned = points.withColumn("__bin", floor(col(pt) / binWidth).cast("long"))
    val iBinned = intervals
      .withColumn("__bin",
        explode(sequence(floor(col(lo) / binWidth).cast("long"),
          floor(col(hi) / binWidth).cast("long"))))
    val right = if (broadcastIntervals) broadcast(iBinned) else iBinned
    pBinned.join(right, Seq("__bin"))
      .filter(col(pt) >= col(lo) && col(pt) < col(hi))
      .drop("__bin")
  }
}
