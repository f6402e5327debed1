package graft.ops

import graft.GraftSession
import graft.functions.HllBits
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HLL sketch contract: merge-associativity (sketch(A∪B) bit-identical to
  * merge(sketch(A), sketch(B)) — the property that makes per-shard
  * distinct accounting sound), estimation accuracy across the
  * linear-counting and raw-estimate regimes, null-key COUNT(DISTINCT)
  * semantics, and codegen/driver agreement. */
class HllSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def driverSketch(keys: Seq[Long], p: Int = Hll.DefaultP): Array[Byte] = {
    val regs = new Array[Byte](1 << p)
    keys.foreach(HllBits.add(regs, _, p))
    regs
  }

  test("merge associativity: sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-for-bit") {
    val a = (1L to 40000L).map(_ * 7919L)
    val b = (20000L to 70000L).map(_ * 7919L) // overlapping range
    val whole = driverSketch(a ++ b)
    val merged = HllBits.mergeInto(driverSketch(a), driverSketch(b))
    assert(java.util.Arrays.equals(whole, merged))
    // and merge order is immaterial (commutativity)
    val mergedRev = HllBits.mergeInto(driverSketch(b), driverSketch(a))
    assert(java.util.Arrays.equals(whole, mergedRev))
  }

  test("estimation accuracy across regimes (deterministic, hash-based)") {
    // linear-counting regime (n << m): near-exact
    val small = HllBits.estimate(driverSketch((1L to 100L).map(_ * 104729L)))
    assert(math.abs(small - 100L) <= 3, s"small-range estimate $small vs 100")
    // raw-estimate regime (n >> m): within ~4 rsd of 1.6%
    val n = 200000
    val big = HllBits.estimate(driverSketch((1L to n.toLong).map(_ * 2654435761L)))
    assert(math.abs(big - n) <= n * 0.07, s"large-range estimate $big vs $n")
    // empty sketch estimates zero
    assert(HllBits.estimate(new Array[Byte](1 << Hll.DefaultP)) == 0L)
  }

  test("distributed grouped build equals driver-side reference build") {
    import spark.implicits._
    val keys = (1L to 30000L).map(i => i * 6364136223846793005L)
    val df = keys.toDF("k").repartition(8)
    val distributed = df.agg(Hll.sketch(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(distributed, driverSketch(keys)))
  }

  test("shard roll-up merge equals direct build (the q76 contract), null keys skipped") {
    import spark.implicits._
    val rows = (1L to 20000L).map(i => (i % 7, i * 31L)) ++
      Seq((0L, -1L), (1L, -1L)) // sentinel rows become null keys below
    val df = rows.toDF("shard", "k")
      .select(col("shard"), when(col("k") === -1L, lit(null)).otherwise(col("k")).as("k"))
    val direct = df.agg(Hll.sketch(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val rolled = df.groupBy("shard").agg(Hll.sketch(col("k")).as("sk"))
      .agg(Hll.merge(col("sk")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, rolled))
    // nulls contributed nothing: same sketch as the explicit filter
    val filtered = df.filter(col("k").isNotNull).agg(Hll.sketch(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, filtered))
  }

  test("codegen'd estimate expression agrees with driver-side estimate") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val groups = Seq("a", "b", "c")
    val df = (1L to 9000L).map(i => (groups((i % 3).toInt), i * 2654435761L))
      .toDF("g", "k")
    val est = df.groupBy("g").agg(Hll.sketch(col("k")).as("sk"))
      .select(col("g"), Hll.estimate(col("sk")).as("est"), col("sk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2)))
    est.foreach { case (_, e, sk) => assert(e == HllBits.estimate(sk)) }
    est.foreach { case (g, e, _) =>
      assert(math.abs(e - 3000L) <= 3000 * 0.07, s"group $g estimate $e vs 3000")
    }
  }

  test("graft_hll_est over a non-binary column fails at analysis, not mid-job") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val df = Seq(("a", 1L)).toDF("g", "k")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Hll.estimate(col("k"))).collect()
    }
    assert(ex.getMessage.contains("BINARY"), ex.getMessage)
  }

  test("Hll.build collects one row and matches reference; empty input is all-zero") {
    import spark.implicits._
    val keys = (1L to 5000L).map(_ * 48271L)
    val built = Hll.build(keys.toDF("k").repartition(4), col("k"))
    assert(java.util.Arrays.equals(built, driverSketch(keys)))
    val empty = Hll.build(Seq.empty[Long].toDF("k"), col("k"))
    assert(empty.forall(_ == 0) && HllBits.estimate(empty) == 0L)
  }

  test("roll-up guards: mixed precisions fail by name; a null or zero-length sketch is the identity") {
    import spark.implicits._
    val keys = (1L to 3000L).map(_ * 48271L).toDF("k")
    val sk = Hll.build(keys, col("k"))
    def rollUp(sks: Seq[Option[Array[Byte]]]): Array[Byte] =
      sks.toDF("sk").agg(Hll.merge(col("sk"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(rollUp(Seq(Some(sk), None)), sk))
    assert(java.util.Arrays.equals(rollUp(Seq(Some(sk), Some(Array.empty[Byte]))), sk))
    val ex = intercept[Exception](rollUp(Seq(Some(sk), Some(Hll.build(keys, col("k"), p = 10)))))
    assert(ex.getMessage.contains("HLL merge: precision mismatch (1024 vs 4096 registers)"),
      ex.getMessage)
  }
}
