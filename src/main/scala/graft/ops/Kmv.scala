package graft.ops

import graft.functions.{KmvBits, NativeFunctions, Summary}
import org.apache.spark.sql.{Column, Encoders}

/** K-Minimum-Values (theta) sketch — the SET-OPERATION member of the
  * mergeable sketch family ([[Bloom]] membership, [[CountMin]] frequency,
  * [[Hll]] distinct, [[DdSketch]] quantiles). A shard-audit question the
  * others can't answer: "how many distinct urls do shard A and shard B
  * SHARE?" — HLL intersects only by inclusion–exclusion (error ∝ union
  * size), while two KMV sketches answer union, intersection, and Jaccard
  * directly ([[unionEst]] / [[interEst]]). See [[KmvBits]] for the math
  * and the canonical byte layout.
  *
  * Same scale contract as the HLL build:
  *  - [[sketch]] is a [[graft.functions.Summary]] with map-side partials —
  *    shuffle is one ≤(9 + 8k)-byte row per group per mapper, never keys;
  *  - sketch(A ∪ B) is BIT-IDENTICAL to merge(sketch(A), sketch(B))
  *    regardless of partitioning — unconditionally (no collapse cap), so
  *    per-shard sketches stored next to the data roll up exactly
  *    (KmvSpec pins this);
  *  - a sketch that never filled holds its whole hashed key set, so
  *    small-set estimates (and set ops between two unfilled sketches)
  *    are EXACT, not approximate.
  *
  * Default k = 1024: 8 KiB per group, rse ≈ 1/√(k−2) ≈ 3.1%.
  */
object Kmv {

  /** Default retained values: 8 KiB per sketch, rse ≈ 3.1%. */
  val DefaultK: Int = 1024

  /** Grouped sketch build over long keys. NULL keys skip the fold —
    * COUNT(DISTINCT) semantics (the [[Hll.HllAggregator]] contract). Its
    * roll-up (per-shard → global) refuses a sketch of another `k`
    * ([[KmvBits.merged]]). */
  private[graft] class KmvAggregator(k: Int)
      extends Summary[java.lang.Long, Array[Byte], Array[Byte]](
        Encoders.LONG, Encoders.BINARY, Encoders.BINARY) {
    require(k >= 16 && k <= (1 << 20), s"KMV k must be in [16, 2^20], got $k")
    override def zero: Array[Byte] = KmvBits.empty(k)
    override def add(buf: Array[Byte], key: java.lang.Long): Array[Byte] =
      KmvBits.add(buf, key.longValue())
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      KmvBits.merged(a, b)
    override def finish(buf: Array[Byte]): Array[Byte] = KmvBits.compact(buf)
  }

  /** Aggregate column building a sketch from a long key column —
    * `df.groupBy(...).agg(Kmv.sketch(col("k")))`. */
  def sketch(keyCol: Column, k: Int = DefaultK): Column =
    new KmvAggregator(k).column(keyCol.cast("long"))

  /** Aggregate column merging sketch columns (the per-shard roll-up). */
  def merge(sketchCol: Column, k: Int = DefaultK): Column =
    new KmvAggregator(k).rollUp(sketchCol)

  /** Distinct-count estimate (codegen'd `graft_kmv_est`). */
  def estimate(sketchCol: Column): Column =
    NativeFunctions.graft_kmv_est(sketchCol)

  /** |A ∪ B| estimate from two sketch columns (codegen'd). */
  def unionEst(a: Column, b: Column): Column =
    NativeFunctions.graft_kmv_union(a, b)

  /** |A ∩ B| estimate from two sketch columns (codegen'd). */
  def interEst(a: Column, b: Column): Column =
    NativeFunctions.graft_kmv_inter(a, b)
}
