package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Skew-handling join utilities for the 100 TB path.
  *
  * AQE's skew-join splitting (on by default in GraftSession) handles most
  * runtime skew for sort-merge joins. Salting is the *semantic* fallback
  * when one side has pathological hot keys and the other side is small
  * enough to replicate per salt — e.g. joining petabyte-scale events
  * against a per-key dimension where 1% of keys carry 90% of rows.
  */
object Skew {

  /** Salted equi-join: the skewed (big) side gets a random salt in
    * [0, buckets); the small side is replicated `buckets` times via an
    * exploded salt column; the join key becomes (key, salt), spreading
    * each hot key over `buckets` reducers.
    *
    * Determinism note: the salt uses a hash of the whole row (not rand())
    * so re-runs produce identical partitioning — important for retries
    * and for the driver's hash-compare.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int = 16, joinType: String = "inner"): DataFrame = {
    // Replicating the small side per salt is only sound when unmatched
    // SMALL-side rows never surface: a right/full outer join would emit
    // each unmatched small row once PER SALT (`buckets` duplicate
    // null-padded rows). Big-side-preserving types are fine — the big side
    // carries exactly one salt per row.
    val okTypes = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti", "cross")
    require(okTypes.contains(joinType.toLowerCase.replace(" ", "_")),
      s"saltedJoin: joinType '$joinType' would duplicate unmatched small-side " +
        "rows (one per salt); use inner/left/left_semi/left_anti")
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(ArraySeq.unsafeWrapArray(big.columns.map(col)): _*)),
        lit(buckets)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Key-frequency profile: the first thing to look at when a join is
    * slow — returns the heaviest keys and their share of rows.
    *
    * One scan, fully parallel: the raw input is grouped once; the total
    * comes from a parallel aggregate over those per-key counts, attached
    * via a broadcast of its single row. Both consumers share the same
    * grouping Exchange (ReuseExchange), so the raw data is read and
    * shuffled exactly once — and, unlike an unpartitioned window over
    * the counts, no step funnels the (potentially high-cardinality)
    * distinct-key set through a single task. */
  def keyProfile(df: DataFrame, key: String, topK: Int = 20): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("__total"))))
      .withColumn("share", col("n").cast("double") / col("__total"))
      .drop("__total")
      .orderBy(desc("n"))
      .limit(topK)
  }
}
