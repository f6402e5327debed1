package graft.ops

import graft.GraftSession
import graft.functions.DdBits
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The DDSketch contract: exact mergeability (bit-identical roll-up, the
  * HllSpec twin), the α relative-error guarantee against true order
  * statistics, and percentile-style null semantics. */
class DdSketchSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  /** Driver-side reference: exact element quantile of a sorted sample. */
  private def exactQ(vs: Seq[Double], q: Double): Double = {
    val s = vs.sorted
    s((q * (s.size - 1)).toInt)
  }

  private def relErrOk(est: Double, truth: Double, alpha: Double): Boolean =
    math.abs(est - truth) <= math.abs(truth) * alpha + 1e-9

  test("merge associativity: sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-for-bit") {
    // mixed-sign + zeros + heavy ties, split arbitrarily
    val vs = (1 to 5000).map(i => (i % 97).toDouble * (if (i % 3 == 0) -1.13 else 2.71))
    val (a, b) = vs.splitAt(1713)
    val skAll = DdSketch.build(vs.toDF("v"), col("v"))
    val skA = DdSketch.build(a.toDF("v"), col("v"))
    val skB = DdSketch.build(b.toDF("v"), col("v"))
    val merged = Seq(skA, skB).toDF("sk").agg(DdSketch.merge(col("sk")))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(skAll, merged),
      "per-shard sketches must roll up bit-identically to the direct build")
    // and repartitioning the build must not matter either
    val skShuffled = DdSketch.build(vs.toDF("v").repartition(13), col("v"))
    assert(java.util.Arrays.equals(skAll, skShuffled))
  }

  test("relative-error guarantee across distributions (uniform, log-spread, negative, ties)") {
    val dists: Map[String, Seq[Double]] = Map(
      "uniform" -> (1 to 10000).map(_.toDouble),
      // 6 orders of magnitude — the regime where approx_percentile's
      // RANK-error sketch gives weak VALUE bounds and DDSketch shines
      "logspread" -> (1 to 10000).map(i => StrictMath.pow(10.0, i / 1667.0)),
      "negative" -> (1 to 5000).map(i => -i.toDouble * 0.37),
      "ties" -> (1 to 8000).map(i => (i % 5).toDouble))
    for ((name, vs) <- dists; q <- Seq(0.01, 0.25, 0.5, 0.9, 0.95, 0.99)) {
      val sk = DdSketch.build(vs.toDF("v").repartition(7), col("v"))
      val est = DdBits.quantile(sk, q)
      val truth = exactQ(vs, q)
      assert(relErrOk(est, truth, 0.01),
        s"$name q=$q: est $est vs exact $truth exceeds alpha=1%")
    }
  }

  test("null and NaN/Inf values are skipped; empty sketch answers NULL") {
    graft.functions.NativeFunctions.register(spark)
    val df = Seq[Option[Double]](Some(1.0), None, Some(Double.NaN),
      Some(Double.PositiveInfinity), Some(3.0)).toDF("v")
    val sk = DdSketch.build(df, col("v"))
    assert(DdBits.count(sk) == 2L)
    assert(relErrOk(DdBits.quantile(sk, 1.0), 3.0, 0.01))
    val empty = DdSketch.build(Seq.empty[Double].toDF("v"), col("v"))
    assert(DdBits.count(empty) == 0L)
    val row = Seq(empty).toDF("sk")
      .select(DdSketch.quantile(col("sk"), 0.5).as("p"))
      .head()
    assert(row.isNullAt(0), "empty sketch must answer NULL, not a value")
  }

  test("codegen'd quantile expression agrees with driver-side walk; non-binary input fails analysis") {
    graft.functions.NativeFunctions.register(spark)
    val vs = (1 to 3000).map(i => (i * i % 1009).toDouble)
    val est = vs.toDF("v").agg(DdSketch.sketch(col("v")).as("sk"))
      .select(DdSketch.quantile(col("sk"), 0.5).as("p50"),
        DdSketch.quantile(col("sk"), 0.99).as("p99"), col("sk"))
      .head()
    assert(est.getDouble(0) == DdBits.quantile(est.getAs[Array[Byte]](2), 0.5))
    assert(est.getDouble(1) == DdBits.quantile(est.getAs[Array[Byte]](2), 0.99))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      vs.toDF("v").select(DdSketch.quantile(col("v"), 0.5)).collect()
    }
    assert(ex.getMessage.contains("BINARY"), ex.getMessage)
  }

  test("grouped build + roll-up: sharded merge equals direct group sketch (q85 contract)") {
    val df = (1 to 9000)
      .map(i => (Seq("a", "b", "c")(i % 3), i % 11, (i % 211).toDouble * 1.37))
      .toDF("g", "shard", "v")
    val direct = df.groupBy("g").agg(DdSketch.sketch(col("v")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val rolled = df.groupBy("g", "shard").agg(DdSketch.sketch(col("v")).as("sk"))
      .groupBy("g").agg(DdSketch.merge(col("sk")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(direct.keySet == rolled.keySet)
    direct.foreach { case (g, sk) =>
      assert(java.util.Arrays.equals(sk, rolled(g)), s"group $g diverged")
    }
  }

  test("collapse guard: adversarial dynamic range stays bounded, upper quantiles stay accurate") {
    // 1.2^1200 spans ~e^219 of dynamic range → ~2190 buckets at alpha=5%
    // (gamma ~ 1.105): forces the collapsing store; upper quantiles must
    // keep the guarantee (only the lowest-value tail degrades)
    val alpha = 0.05
    val vs = (0 until 3000).map(i => StrictMath.pow(1.2, (i % 1200).toDouble))
    val sk = DdSketch.build(vs.toDF("v"), col("v"), alpha)
    val p = DdBits.parse(sk)
    assert(p.posIdx.length <= DdSketch.MaxBucketsPerStore)
    for (q <- Seq(0.9, 0.99)) {
      assert(relErrOk(DdBits.quantile(sk, q), exactQ(vs, q), alpha),
        s"upper quantile $q lost accuracy under collapse")
    }
  }

  test("roll-up guards: mixed alphas fail by name; a null or zero-length sketch is the identity") {
    val vs = (1 to 3000).map(i => (i % 89).toDouble * 1.37).toDF("v")
    val sk = DdSketch.build(vs, col("v"))
    def rollUp(sks: Seq[Option[Array[Byte]]]): Array[Byte] =
      sks.toDF("sk").agg(DdSketch.merge(col("sk"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(rollUp(Seq(Some(sk), None)), sk))
    assert(java.util.Arrays.equals(rollUp(Seq(Some(sk), Some(Array.empty[Byte]))), sk))
    val ex = intercept[Exception](
      rollUp(Seq(Some(sk), Some(DdSketch.build(vs, col("v"), alpha = 0.05)))))
    assert(ex.getMessage.contains("DDSketch merge: alpha mismatch (0.05 vs 0.01)"),
      ex.getMessage)
  }
}
