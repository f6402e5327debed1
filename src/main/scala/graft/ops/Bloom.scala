package graft.ops

import graft.functions.{BloomBits, NativeFunctions, Summary}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Bloom-filter prefilter for decontamination-shaped problems: build a
  * compact bit set from the SMALL side (an eval/benchmark suite), then
  * probe it per-row over the BIG side (the 100 TB training corpus) as a
  * codegen'd expression — the corpus never shuffles, never joins, never
  * even sees a broadcast exchange, and the surviving ~0.1% goes on to the
  * exact check ([[Dedup.contaminationPairs]] or an equality join).
  *
  * The build itself is DISTRIBUTED: a [[graft.functions.Summary]] whose buffer is
  * the bit array (reduce = set bits, merge = bitwise OR — a commutative
  * monoid, so map-side partial aggregation applies and the driver receives
  * exactly ONE array, never the keys). An eval side of 100M rows builds in
  * one pass with a single `numBits/8`-byte row collected. Spark's own
  * `InjectRuntimeFilter` uses this exact physical shape internally
  * (BloomFilterAggregate → literalized probe); this operator exposes it as
  * a first-class, user-aimable tool with an engine-independent key
  * (`graft_fingerprint`, Rabin–Karp mod 2^31-1 — not Spark's xxhash64).
  *
  * Guarantees: NO false negatives (every key set is always found); false
  * positives at rate ≈ (1-e^(-kn/m))^k — with the default m = 2^20 bits
  * and k = 3, an eval side of 10k keys gives ~3·10^-6. Size `numBits` at
  * ~64 bits/key and the rate stays negligible.
  */
object Bloom {

  /** Default filter width: 2^20 bits = 128 KiB — negligible plan baggage,
    * ~3·10^-6 false-positive rate at 10k keys / k=3. */
  val DefaultNumBits: Int = 1 << 20

  /** Default hash count (optimal k = m/n·ln2 is flat near small k; 3 keeps
    * the probe cheap). */
  val DefaultK: Int = 3

  /** Distributed bloom build: one pass over `keys`, map-side partial bit
    * arrays OR-merged up the tree, one array row collected. */
  private class BloomAggregator(numBits: Int, k: Int)
      extends Summary[java.lang.Long, Array[Long], Array[Long]](Encoders.LONG,
        ExpressionEncoder[Array[Long]](), ExpressionEncoder[Array[Long]]()) {
    override def zero: Array[Long] = new Array[Long](numBits >>> 6)
    override def add(buf: Array[Long], key: java.lang.Long): Array[Long] = {
      BloomBits.set(buf, key.longValue(), k); buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
  }

  /** Build the bit array from a long key column of `df` (runs a Spark job
    * EAGERLY — the filter must exist before the probe plan is built; the
    * collected result is the single bit-array row, never the keys).
    * `numBits` must be a power of two. */
  def build(df: DataFrame, keyCol: Column,
      numBits: Int = DefaultNumBits, k: Int = DefaultK): Array[Long] = {
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      "numBits must be a power of two >= 64")
    new BloomAggregator(numBits, k).collect(df, keyCol.cast("long"))
  }

  /** Convenience: build from a TEXT column keyed by the engine-independent
    * rolling-hash fingerprint (`graft_fingerprint`). */
  def buildFromText(df: DataFrame, textCol: Column,
      numBits: Int = DefaultNumBits, k: Int = DefaultK): Array[Long] =
    build(df, NativeFunctions.graft_fingerprint(textCol), numBits, k)

  /** Probe column: true iff `keyCol` might be in the filter (codegen'd
    * per-row bit test — see [[graft.functions.BloomContainsExpr]]). */
  def mightContain(keyCol: Column, bits: Array[Long], k: Int = DefaultK): Column =
    NativeFunctions.graft_bloom_contains(keyCol, bits, k)

  /** Probe by text fingerprint (the build twin of [[buildFromText]]). */
  def mightContainText(textCol: Column, bits: Array[Long], k: Int = DefaultK): Column =
    mightContain(NativeFunctions.graft_fingerprint(textCol), bits, k)
}
