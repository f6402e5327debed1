package graft.ops

import graft.functions.{HllBits, NativeFunctions}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch — the mergeable companion to
  * [[CountMin]] (frequency) and [[Bloom]] (membership). A corpus pipeline
  * asks "how many distinct documents / urls / n-grams per shard, and in
  * total?" constantly; at 100 TB an exact COUNT(DISTINCT) shuffles every
  * distinct key, and worse, per-shard exact counts CANNOT be added up
  * (shards share keys). The HLL register array is 2^p bytes, and its merge
  * (elementwise max) is a commutative idempotent monoid, so:
  *
  *  - the grouped build ([[sketch]]) is a typed [[Aggregator]] with
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

  private def checkP(p: Int): Unit =
    require(p >= 4 && p <= 18, s"HLL precision must be in [4, 18], got $p")

  /** Grouped sketch build: fold long keys into a register array. Input is
    * boxed (nullable) so NULL keys skip the fold — COUNT(DISTINCT)
    * semantics — instead of polluting the sketch with a sentinel. */
  private[graft] class HllAggregator(p: Int)
      extends Aggregator[java.lang.Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](1 << p)
    override def reduce(buf: Array[Byte], key: java.lang.Long): Array[Byte] = {
      if (key != null) HllBits.add(buf, key.longValue(), p)
      buf
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      HllBits.mergeInto(a, b)
    override def finish(buf: Array[Byte]): Array[Byte] = buf
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Sketch-of-sketches roll-up: elementwise-max merge of already-built
    * register arrays (per-shard → per-group → global). Null or
    * zero-length inputs (empty shards) merge as identity. */
  private[graft] class HllMergeAggregator(p: Int)
      extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](1 << p)
    override def reduce(buf: Array[Byte], sk: Array[Byte]): Array[Byte] =
      if (sk == null || sk.isEmpty) buf
      else {
        require(sk.length == buf.length,
          s"HLL merge: precision mismatch (${sk.length} vs ${buf.length} registers)")
        HllBits.mergeInto(buf, sk)
      }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      HllBits.mergeInto(a, b)
    override def finish(buf: Array[Byte]): Array[Byte] = buf
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Aggregate column building a sketch from a long key column —
    * `df.groupBy(...).agg(Hll.sketch(col("k")))`. Map-side partials apply
    * (Aggregator merge is the monoid), so shuffle ∝ groups, not keys. */
  def sketch(keyCol: Column, p: Int = DefaultP): Column = {
    checkP(p)
    udaf(new HllAggregator(p), Encoders.LONG).apply(keyCol.cast("long"))
  }

  /** Aggregate column merging sketch columns (the per-shard roll-up):
    * `perShard.groupBy(...).agg(Hll.merge(col("sk")))`. */
  def merge(sketchCol: Column, p: Int = DefaultP): Column = {
    checkP(p)
    udaf(new HllMergeAggregator(p), Encoders.BINARY).apply(sketchCol)
  }

  /** Cardinality estimate over a sketch column (codegen'd — see
    * [[graft.functions.HllEstExpr]]). */
  def estimate(sketchCol: Column): Column =
    NativeFunctions.graft_hll_est(sketchCol)

  /** Sketch a TEXT column via the engine-independent rolling-hash
    * fingerprint (the [[Bloom.buildFromText]] twin). */
  def sketchText(textCol: Column, p: Int = DefaultP): Column =
    sketch(NativeFunctions.graft_fingerprint(textCol), p)

  /** Whole-DataFrame build returning the single register array (the
    * [[Bloom.build]] shape: runs a Spark job eagerly, collects exactly
    * one 2^p-byte row — never the keys). */
  def build(df: DataFrame, keyCol: Column, p: Int = DefaultP): Array[Byte] = {
    checkP(p)
    val rows = df.filter(keyCol.isNotNull)
      .agg(sketch(keyCol, p).as("sk"))
      .collect()
    if (rows.isEmpty || rows.head.isNullAt(0)) new Array[Byte](1 << p)
    else rows.head.getAs[Array[Byte]](0)
  }
}
