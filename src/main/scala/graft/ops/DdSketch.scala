package graft.ops

import graft.functions.{DdBits, NativeFunctions, Summary}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Mergeable DDSketch quantile sketch — the member that completes the
  * sketch family: [[Bloom]] (membership), [[CountMin]] (frequency),
  * [[Hll]] (distinct), and now quantiles. The operational gap it closes:
  * per-shard `approx_percentile` / `percentile` results CANNOT be rolled
  * up (order statistics don't add), so "store a quantile summary next to
  * each shard, combine later" — the bookkeeping pattern a 100 TB corpus
  * needs for drift monitoring, global p95s over daily partitions,
  * length/score distribution tracking — is impossible with them. DDSketch
  * (Masson, Rim, Lee — VLDB 2019) stores log-γ bucket COUNTS, so:
  *
  *  - the grouped build ([[sketch]]) is a [[graft.functions.Summary]] with
  *    map-side partials — shuffle is one sketch per group per mapper
  *    (bucket count ∝ the data's dynamic range, NOT its row count);
  *  - per-shard sketches union EXACTLY ([[merge]]): bucket-count addition
  *    is commutative/associative, and below the collapse cap
  *    sketch(A ∪ B) is BIT-IDENTICAL to merge(sketch(A), sketch(B))
  *    however rows were partitioned (DdSketchSpec pins this — the same
  *    exact-mergeability contract as [[Hll]]);
  *  - any rank query afterwards ([[quantile]], codegen'd
  *    `graft_dd_quantile`) answers within RELATIVE error α of the true
  *    order statistic — a guarantee `approx_percentile`'s rank-error
  *    sketch does not give on skewed value ranges.
  *
  * Default α = 1%: a value estimated as 100.0 is truly in [99, 101].
  * NaN / ±Infinity values are skipped like NULLs (the `percentile`
  * contract has no place for them; Spark's own percentile sorts NaN last,
  * which no bucketed sketch can reproduce — documented divergence).
  * [[MaxBucketsPerStore]] caps memory: if a store exceeds it, the
  * lowest-VALUE buckets collapse into their ceiling bucket (the paper's
  * collapsing store — upper quantiles keep full accuracy, the far lower
  * tail degrades gracefully). With α = 1% the default cap covers ~e^41
  * of dynamic range, so collapse only fires on adversarial inputs — and
  * only then can the bit-identity above weaken to α-accuracy.
  */
object DdSketch {

  /** Default relative accuracy: 1%. */
  val DefaultAlpha: Double = 0.01

  /** Collapse cap per store (positive / negative each): 2048 buckets ×
    * 12 bytes ≈ 24 KiB worst-case per store. */
  val MaxBucketsPerStore: Int = 2048

  /** Aggregation buffer: zero count + the two bucket stores. Immutable
    * maps — ExpressionEncoder round-trips them between partial and final
    * aggregation, and map addition is order-independent, so any merge
    * tree yields the same buffer. */
  private[graft] case class Buf(zero: Long, neg: Map[Int, Long], pos: Map[Int, Long])

  private def collapse(m: Map[Int, Long], lowestFirst: Boolean): Map[Int, Long] = {
    if (m.size <= MaxBucketsPerStore) m
    else {
      // collapse lowest VALUES: for the pos store that is the smallest
      // index; for the neg (mirrored) store the LARGEST index is the most
      // negative value, so it collapses from the top instead
      val sorted = m.toArray.sortBy(_._1)
      val (spill, keep) =
        if (lowestFirst) sorted.splitAt(m.size - MaxBucketsPerStore + 1)
        else {
          val (k, s) = sorted.splitAt(MaxBucketsPerStore - 1)
          (s, k)
        }
      val boundary = if (lowestFirst) spill.last._1 else spill.head._1
      (keep :+ (boundary -> spill.map(_._2).sum)).groupBy(_._1)
        .map { case (i, cs) => i -> cs.map(_._2).sum }
    }
  }

  private def added(m: Map[Int, Long], i: Int, c: Long): Map[Int, Long] =
    m.updated(i, m.getOrElse(i, 0L) + c)

  /** Grouped sketch build over a double value column. NULL (and NaN/Inf)
    * values are skipped — `percentile` semantics. Its roll-up adds the
    * bucket counts of already-built sketches (per-shard → per-group →
    * global) and refuses a sketch of another α (its buckets mean
    * different value ranges). */
  private[graft] class DdAggregator(alpha: Double)
      extends Summary[java.lang.Double, Buf, Array[Byte]](
        Encoders.DOUBLE, ExpressionEncoder[Buf](), Encoders.BINARY) {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    private val g = DdBits.gamma(alpha)
    override def zero: Buf = Buf(0L, Map.empty, Map.empty)
    override def add(b: Buf, v: java.lang.Double): Buf = {
      val x = v.doubleValue
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) b
      else if (x == 0.0) b.copy(zero = b.zero + 1L)
      else if (x > 0.0)
        b.copy(pos = collapse(added(b.pos, DdBits.indexOf(x, g), 1L), lowestFirst = true))
      else
        b.copy(neg = collapse(added(b.neg, DdBits.indexOf(-x, g), 1L), lowestFirst = false))
    }
    override def merge(a: Buf, b: Buf): Buf = Buf(a.zero + b.zero,
      collapse(b.neg.foldLeft(a.neg) { case (m, (i, c)) => added(m, i, c) },
        lowestFirst = false),
      collapse(b.pos.foldLeft(a.pos) { case (m, (i, c)) => added(m, i, c) },
        lowestFirst = true))
    override def finish(b: Buf): Array[Byte] =
      DdBits.serialize(alpha, b.zero, b.neg, b.pos)
    override def reopen(sk: Array[Byte]): Buf = {
      val p = DdBits.parse(sk)
      require(p.alpha == alpha,
        s"DDSketch merge: alpha mismatch (${p.alpha} vs $alpha)")
      val (n, po) = p.toMaps
      Buf(p.zero, n, po)
    }
  }

  /** Aggregate column building a sketch from a numeric column —
    * `df.groupBy(...).agg(DdSketch.sketch(col("v")))`. Map-side partials
    * apply, so shuffle ∝ groups × sketch size, never rows. */
  def sketch(valCol: Column, alpha: Double = DefaultAlpha): Column =
    new DdAggregator(alpha).column(valCol.cast("double"))

  /** Aggregate column merging sketch columns (the per-shard roll-up):
    * `perShard.groupBy(...).agg(DdSketch.merge(col("sk")))`. */
  def merge(sketchCol: Column, alpha: Double = DefaultAlpha): Column =
    new DdAggregator(alpha).rollUp(sketchCol)

  /** Rank-q estimate over a sketch column (codegen'd — see
    * [[graft.functions.DdQuantileExpr]]). NULL for empty sketches. */
  def quantile(sketchCol: Column, q: Double): Column =
    NativeFunctions.graft_dd_quantile(sketchCol, q)

  /** Whole-DataFrame build returning the single serialized sketch (the
    * [[Hll.build]] shape: one Spark job, collects exactly one sketch row,
    * never the values). */
  def build(df: DataFrame, valCol: Column, alpha: Double = DefaultAlpha): Array[Byte] =
    new DdAggregator(alpha).collect(df, valCol.cast("double"))
}
