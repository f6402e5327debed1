package graft.functions

/** DDSketch quantile math + canonical serialization, shared by the
  * build/merge aggregators ([[graft.ops.DdSketch]]) and the native
  * quantile expression ([[DdQuantileExpr]]).
  *
  * The quantile member of the sketch family (Bloom membership, CMS
  * frequency, HLL distinct): log-γ bucketed value histogram with
  * γ = (1+α)/(1−α), after "DDSketch: A Fast and Fully-Mergeable Quantile
  * Sketch with Relative-Error Guarantees" (Masson, Rim, Lee — VLDB 2019).
  * A value x > 0 lands in bucket i = ⌈log_γ x⌉, i.e. x ∈ (γ^(i-1), γ^i];
  * the bucket midpoint estimate 2γ^i/(γ+1) is within relative error α of
  * EVERY value in the bucket — so any rank query answers within α of the
  * true order statistic. Negative values mirror into a second store,
  * zeros count separately: the sketch covers the full double line.
  *
  * Why this sketch and not KLL/t-digest: their compactions are
  * order-dependent, so per-shard sketches of the same multiset differ by
  * partitioning and the store-next-to-shard roll-up can't be audited
  * bit-for-bit. DDSketch's merge is BUCKET-COUNT ADDITION — commutative,
  * associative, and (below the collapse cap) sketch(A ∪ B) is
  * bit-identical to merge(sketch(A), sketch(B)) however rows were
  * partitioned, the same exact-mergeability contract [[HllBits]] gives
  * distinct counts. All bucket math runs on StrictMath (fdlibm): the
  * same value buckets identically on every JVM, executor, and round.
  *
  * Canonical layout (big-endian), stable across any build order:
  * {{{
  *   [version: u8 = 1]
  *   [alpha: f64 raw bits]
  *   [zeroCount: i64]
  *   [nNeg: i32] [(idx: i32, cnt: i64) * nNeg]   idx ascending, cnt > 0
  *   [nPos: i32] [(idx: i32, cnt: i64) * nPos]   idx ascending, cnt > 0
  * }}}
  */
object DdBits {

  final val Version: Byte = 1

  def gamma(alpha: Double): Double = (1.0 + alpha) / (1.0 - alpha)

  /** Bucket index of a positive value: ⌈log_γ x⌉ via StrictMath (exact
    * same bucket on every platform — Math.log is only 1-ulp-specified). */
  def indexOf(x: Double, gamma: Double): Int = {
    require(x > 0.0, "indexOf is defined on positive values")
    StrictMath.ceil(StrictMath.log(x) / StrictMath.log(gamma)).toInt
  }

  /** Midpoint estimate of bucket i: 2γ^i/(γ+1), within α of every value
    * in (γ^(i-1), γ^i]. */
  def valueOf(i: Int, gamma: Double): Double =
    2.0 * StrictMath.pow(gamma, i.toDouble) / (gamma + 1.0)

  /** Serialize to the canonical byte layout (entries sorted by index). */
  def serialize(alpha: Double, zero: Long,
      neg: Map[Int, Long], pos: Map[Int, Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(
      1 + 8 + 8 + 4 + neg.size * 12 + 4 + pos.size * 12)
    bb.put(Version)
    bb.putDouble(alpha)
    bb.putLong(zero)
    def putStore(m: Map[Int, Long]): Unit = {
      bb.putInt(m.size)
      m.toArray.sortBy(_._1).foreach { case (i, c) => bb.putInt(i); bb.putLong(c) }
    }
    putStore(neg)
    putStore(pos)
    bb.array()
  }

  /** Parsed sketch: (alpha, zeroCount, negStore, posStore) with stores as
    * idx-ascending parallel arrays. */
  final case class Parsed(alpha: Double, zero: Long,
      negIdx: Array[Int], negCnt: Array[Long],
      posIdx: Array[Int], posCnt: Array[Long]) {
    def count: Long = zero + negCnt.sum + posCnt.sum
    def toMaps: (Map[Int, Long], Map[Int, Long]) =
      (negIdx.zip(negCnt).toMap, posIdx.zip(posCnt).toMap)
  }

  def parse(bytes: Array[Byte]): Parsed = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val v = bb.get()
    require(v == Version, s"unknown DDSketch version $v")
    val alpha = bb.getDouble
    val zero = bb.getLong
    def getStore(): (Array[Int], Array[Long]) = {
      val n = bb.getInt
      val idx = new Array[Int](n)
      val cnt = new Array[Long](n)
      var i = 0
      while (i < n) { idx(i) = bb.getInt; cnt(i) = bb.getLong; i += 1 }
      (idx, cnt)
    }
    val (ni, nc) = getStore()
    val (pi, pc) = getStore()
    Parsed(alpha, zero, ni, nc, pi, pc)
  }

  /** Rank-`q` estimate over a serialized sketch. Walks buckets in value
    * order — negatives from most-negative (largest mirrored index) down,
    * the zero bucket, then positives ascending — to the bucket covering
    * rank q·(n−1) (the element-quantile convention `approx_percentile`
    * uses). Returns NaN on an empty sketch ([[quantileOrNull]] surfaces
    * that as SQL NULL, the `percentile`-on-no-rows contract). */
  def quantile(bytes: Array[Byte], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile fraction out of [0,1]: $q")
    val p = parse(bytes)
    val n = p.count
    if (n == 0L) return Double.NaN
    val g = gamma(p.alpha)
    val rank = q * (n - 1).toDouble
    var cum = 0L
    var i = p.negIdx.length - 1
    while (i >= 0) { // most negative value = largest mirrored index
      cum += p.negCnt(i)
      if (cum > rank) return -valueOf(p.negIdx(i), g)
      i -= 1
    }
    cum += p.zero
    if (cum > rank) return 0.0
    i = 0
    while (i < p.posIdx.length) {
      cum += p.posCnt(i)
      if (cum > rank) return valueOf(p.posIdx(i), g)
      i += 1
    }
    // rank == n-1 lands here only through floating accumulation; the
    // largest bucket owns it
    if (p.posIdx.nonEmpty) valueOf(p.posIdx.last, g)
    else if (p.zero > 0L) 0.0
    else -valueOf(p.negIdx(0), g)
  }

  /** Total value count of a serialized sketch. */
  def count(bytes: Array[Byte]): Long = parse(bytes).count

  /** The `graft_dd_quantile` kernel: [[quantile]] with an empty
    * sketch's NaN boxed as null, so the call returns SQL NULL. */
  def quantileOrNull(bytes: Array[Byte], q: Double): java.lang.Double = {
    val r = quantile(bytes, q)
    if (java.lang.Double.isNaN(r)) null else r
  }
}
