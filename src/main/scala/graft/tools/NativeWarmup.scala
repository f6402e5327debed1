package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NativeFunctions => NF}
import graft.ops.{DdSketch, Hll, Kmv}

/** Pre-timing JIT warm-up for the native expression family.
  *
  * Round 9 root-caused the q44-class bench bimodality to tiered-JIT
  * warm-up: every native expression's hot loop lives in a SHARED static
  * helper (`graft.functions.Hashing.*` — both the interpreted and the
  * generated path of each kernel call the same method), so the first few
  * thousand rows of any signature-heavy query execute interpreter-tier
  * bytecode.
  * Min-of-2 sampling lands anywhere on that compile curve.
  *
  * This warm-up drives EVERY registered native function over a few
  * thousand synthetic rows before timing starts, pushing the shared
  * helpers through the C1/C2 thresholds once per JVM (~100 ms total)
  * instead of once per first-touching query. Inputs are built from the
  * range id (non-foldable — constant folding would collapse a literal
  * argument to a single driver-side eval and warm nothing).
  *
  * Coverage contract: [[exercised]] must name every
  * `NativeFunctions.builders` entry — FunctionsSpec pins the two sets
  * equal, so a new native function cannot silently miss warm-up. */
object NativeWarmup {

  /** Function names the warm-up frame exercises (spec-pinned ==
    * builders). */
  private[graft] def exercised: Seq[String] =
    warmCols.map(_._1) ++ sketchNames

  private val sketchNames = Seq("graft_hll_est", "graft_kmv_est",
    "graft_kmv_union", "graft_kmv_inter", "graft_dd_quantile")

  private def warmCols: Seq[(String, Column)] = {
    val text = concat(lit("the quick brown fox jumps over the lazy dog "),
      col("id").cast("string"))
    val vec = array((0 until 8).map(i =>
      col("id").cast("double") / 97.0 + lit(i * 0.125)): _*)
    val toks = split(text, " ")
    val centroid = Array.tabulate(8)(_ * 0.125)
    Seq(
      "graft_fingerprint" -> NF.graft_fingerprint(text),
      "graft_simhash" -> NF.graft_simhash(text),
      "graft_word_shingles" -> NF.graft_word_shingles(text, 2),
      "graft_dot" -> NF.graft_dot(vec, vec),
      "graft_minhash" -> NF.graft_minhash(text, 3, 16),
      "graft_bloom_contains" -> NF.graft_bloom_contains(
        col("id"), Array(0x5a5a5a5aL, 0x0f0f0f0fL), 3),
      "graft_bpe_merge" -> NF.graft_bpe_merge(toks, "the", "quick"),
      "graft_cms_est" -> NF.graft_cms_est(col("id"), Array.fill(128)(1L), 64, 2),
      "graft_winnow" -> NF.graft_winnow(text, 4, 5),
      "graft_l2sq" -> NF.graft_l2sq(vec, centroid),
      "graft_argmin_l2" -> NF.graft_argmin_l2(vec,
        centroid ++ centroid.map(_ + 0.5), 8).getField("i"),
      "graft_cells_by_dist" -> NF.graft_cells_by_dist(vec,
        centroid ++ centroid.map(_ + 0.5), 8),
      "graft_hplane_sig" -> NF.graft_hplane_sig(vec, 8, 8, 42),
      "graft_shingle_fps" -> NF.graft_shingle_fps(text, 3),
      "graft_gram_buckets" -> NF.graft_gram_buckets(text, 64),
      "graft_despan" -> NF.graft_despan(text, 4),
      "graft_fix_mojibake" -> NF.graft_fix_mojibake(text),
      "graft_byte_tokens" -> NF.graft_byte_tokens(text),
      "graft_byte_token_ids" -> NF.graft_byte_token_ids(text),
      "graft_bpe_merge_ids" -> NF.graft_bpe_merge_ids(
        NF.graft_byte_token_ids(text), 116, 104, 257),
      "graft_deflate_ratio" -> NF.graft_deflate_ratio(text),
      "graft_dedup_key" -> NF.graft_dedup_key(text),
      "graft_url_parts" -> NF.graft_url_parts(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("https://www.Example.COM/a/?utm_source=x&b="),
          text)),
    )
  }

  /** Sketch-consuming functions need well-formed sketch binaries; build
    * them once with the aggregators (one tiny job), then exercise the
    * estimators with the sketch as a literal ANDed to a per-row value
    * so folding cannot collapse the scan. */
  private def sketchCols(spark: SparkSession): Seq[(String, Column)] = {
    import spark.implicits._
    val skRow = (0L until 64L).toDF("id").agg(
      Hll.sketch(col("id")).as("hll"),
      Kmv.sketch(col("id")).as("kmv"),
      DdSketch.sketch(col("id").cast("double")).as("dd")).head()
    val hll = lit(skRow.getAs[Array[Byte]](0))
    val kmv = lit(skRow.getAs[Array[Byte]](1))
    val dd = lit(skRow.getAs[Array[Byte]](2))
    // a per-row branch defeats constant folding while keeping the
    // sketch payload parse on the hot path
    def perRow(sk: Column): Column =
      when(col("id") < 0L, lit(null).cast("binary")).otherwise(sk)
    val cols = Seq(
      NF.graft_hll_est(perRow(hll)),
      NF.graft_kmv_est(perRow(kmv)),
      NF.graft_kmv_union(perRow(kmv), perRow(kmv)),
      NF.graft_kmv_inter(perRow(kmv), perRow(kmv)),
      NF.graft_dd_quantile(perRow(dd), 0.5))
    sketchNames.zip(cols)
  }

  /** Run the warm-up: `rows` per pass, `passes` passes (several distinct
    * jobs so the generated classes and the shared helpers both see
    * repeated invocation). Returns the exercised function names. */
  def warmup(spark: SparkSession, rows: Long = 4096L,
      passes: Int = 3): Seq[String] = {
    val f = frame(spark, rows)
    (1 to passes).foreach(_ =>
      f.write.format("noop").mode("overwrite").save())
    f.columns.toSeq
  }

  /** One column per native function, named after it, over `rows` ids. */
  private[graft] def frame(spark: SparkSession, rows: Long): DataFrame =
    spark.range(rows).select(
      (warmCols ++ sketchCols(spark)).map { case (n, c) => c.as(n) }: _*)
}
