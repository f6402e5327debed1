package graft.ops

import graft.functions.{HllBits, NativeFunctions, Summary}
import org.apache.spark.sql.{Column, DataFrame, Encoders}

/** HyperLogLog distinct-count sketch — the mergeable companion to
  * [[CountMin]] (frequency) and [[Bloom]] (membership). A corpus pipeline
  * asks "how many distinct documents / urls / n-grams per shard, and in
  * total?" constantly; at 100 TB an exact COUNT(DISTINCT) shuffles every
  * distinct key, and worse, per-shard exact counts CANNOT be added up
  * (shards share keys). The HLL register array is 2^p bytes, and its merge
  * (elementwise max) is a commutative idempotent monoid, so:
  *
  *  - the grouped build ([[sketch]]) is a [[graft.functions.Summary]] with
  *    map-side partial aggregation — shuffle is one 2^p-byte row per
  *    group per mapper, never the keys;
  *  - per-shard sketches union EXACTLY ([[merge]]): sketch(A ∪ B) is
  *    bit-identical to merge(sketch(A), sketch(B)) however rows were
  *    partitioned (HllSpec pins this) — so sketches can be stored next to
  *    each shard and rolled up later, the bookkeeping pattern exact counts
  *    can't support;
  *  - estimation ([[estimate]]) is the codegen'd `graft_hll_est`
  *    expression: one compiled fold over the registers per sketch row.
  *
  * Default p = 12: 4096 registers = 4 KiB per group, relative standard
  * error 1.04/√m ≈ 1.6%. Keys are avalanche-mixed 64-bit longs
  * ([[graft.functions.BloomBits.mix]]); text keys go through the
  * engine-independent `graft_fingerprint` like the other sketches.
  */
object Hll {

  /** Default precision: 2^12 = 4096 registers, rsd ≈ 1.6%. */
  val DefaultP: Int = 12

  /** Grouped sketch build: fold long keys into a register array (NULL
    * keys skip the fold — COUNT(DISTINCT) semantics). Its roll-up
    * max-merges built sketches and refuses another precision. */
  private[graft] class HllAggregator(p: Int)
      extends Summary[java.lang.Long, Array[Byte], Array[Byte]](
        Encoders.LONG, Encoders.BINARY, Encoders.BINARY) {
    require(p >= 4 && p <= 18, s"HLL precision must be in [4, 18], got $p")
    override def zero: Array[Byte] = new Array[Byte](1 << p)
    override def add(buf: Array[Byte], key: java.lang.Long): Array[Byte] = {
      HllBits.add(buf, key.longValue(), p); buf
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      HllBits.mergeInto(a, b)
    override def reopen(sk: Array[Byte]): Array[Byte] = {
      require(sk.length == 1 << p,
        s"HLL merge: precision mismatch (${sk.length} vs ${1 << p} registers)")
      sk
    }
  }

  /** Aggregate column building a sketch from a long key column —
    * `df.groupBy(...).agg(Hll.sketch(col("k")))`. Map-side partials apply
    * (Aggregator merge is the monoid), so shuffle ∝ groups, not keys. */
  def sketch(keyCol: Column, p: Int = DefaultP): Column =
    new HllAggregator(p).column(keyCol.cast("long"))

  /** Aggregate column merging sketch columns (the per-shard roll-up):
    * `perShard.groupBy(...).agg(Hll.merge(col("sk")))`. */
  def merge(sketchCol: Column, p: Int = DefaultP): Column =
    new HllAggregator(p).rollUp(sketchCol)

  /** Cardinality estimate over a sketch column (codegen'd — see
    * [[graft.functions.HllEstExpr]]). */
  def estimate(sketchCol: Column): Column =
    NativeFunctions.graft_hll_est(sketchCol)

  /** Whole-DataFrame build returning the single register array (the
    * [[Bloom.build]] shape: runs a Spark job eagerly, collects exactly
    * one 2^p-byte row — never the keys). */
  def build(df: DataFrame, keyCol: Column, p: Int = DefaultP): Array[Byte] =
    new HllAggregator(p).collect(df, keyCol.cast("long"))
}
