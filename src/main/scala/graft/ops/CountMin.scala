package graft.ops

import graft.functions.{CmsBits, NativeFunctions, Summary}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Count-min sketch: sublinear-memory frequency estimation for heavy-hitter
  * detection (boilerplate n-grams, hot domains, template sentences) — the
  * questions a 100 TB curation pass asks where an exact `groupBy` over
  * billions of distinct keys would shuffle the world. One d×w grid of
  * longs answers "how often does KEY occur, roughly" for EVERY key at once:
  * estimates are never below the true count (cells only accumulate) and
  * overshoot by at most ~2N/w with probability 1−2^−d.
  *
  * Same physical recipe as [[Bloom]]: the grid is built DISTRIBUTED by a
  * [[graft.functions.Summary]] whose merge is elementwise sum (a commutative
  * monoid → map-side partials; the driver collects exactly ONE grid row),
  * then estimation over any corpus is the codegen'd `graft_cms_est`
  * expression — d array reads per row, no join against the sketch. */
object CountMin {

  /** Default width: 2^16 cells/row — ε = 2/w ≈ 3·10^-5 of the stream mass. */
  val DefaultWidth: Int = 1 << 16

  /** Default depth: 4 rows — overshoot probability 2^-4 per query. */
  val DefaultDepth: Int = 4

  private class CmsAggregator(w: Int, d: Int)
      extends Summary[java.lang.Long, Array[Long], Array[Long]](Encoders.LONG,
        ExpressionEncoder[Array[Long]](), ExpressionEncoder[Array[Long]]()) {
    override def zero: Array[Long] = new Array[Long](w * d)
    override def add(buf: Array[Long], key: java.lang.Long): Array[Long] = {
      CmsBits.add(buf, key.longValue(), w, d); buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
  }

  /** Build the grid from a long key column — one occurrence per row (runs
    * a Spark job EAGERLY, like [[Bloom.build]]; the collected result is
    * the single grid row). `w` must be a power of two. */
  def build(df: DataFrame, keyCol: Column,
      w: Int = DefaultWidth, d: Int = DefaultDepth): Array[Long] = {
    require(w >= 64 && (w & (w - 1)) == 0, "width must be a power of two >= 64")
    require(d >= 1)
    new CmsAggregator(w, d).collect(df, keyCol.cast("long"))
  }

  /** Build keyed by the engine-independent text fingerprint. */
  def buildFromText(df: DataFrame, textCol: Column,
      w: Int = DefaultWidth, d: Int = DefaultDepth): Array[Long] =
    build(df, NativeFunctions.graft_fingerprint(textCol), w, d)

  /** Point-estimate column (codegen'd — see
    * [[graft.functions.CmsEstExpr]]). */
  def estimate(keyCol: Column, grid: Array[Long],
      w: Int = DefaultWidth, d: Int = DefaultDepth): Column =
    NativeFunctions.graft_cms_est(keyCol, grid, w, d)

  /** Estimate by text fingerprint (the probe twin of [[buildFromText]]). */
  def estimateText(textCol: Column, grid: Array[Long],
      w: Int = DefaultWidth, d: Int = DefaultDepth): Column =
    estimate(NativeFunctions.graft_fingerprint(textCol), grid, w, d)
}
