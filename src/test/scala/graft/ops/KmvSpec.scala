package graft.ops

import graft.GraftSession
import graft.functions.{BloomBits, KmvBits}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV (theta) sketch contract: unconditional merge-associativity
  * (sketch(A∪B) bit-identical to merge(sketch(A), sketch(B)) — no
  * collapse cap, unlike DDSketch), exactness below capacity, estimation
  * accuracy above it, set-operation estimates across overlap regimes
  * (including the disjoint and small-overlap cases q88 doesn't cover),
  * null-key skipping, and distributed/driver build agreement. */
class KmvSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def driverSketch(keys: Seq[Long], k: Int = Kmv.DefaultK): Array[Byte] = {
    val buf = KmvBits.empty(k)
    keys.foreach(KmvBits.add(buf, _))
    KmvBits.compact(buf)
  }

  test("canonical bytes: build order and duplicates never change the sketch") {
    val keys = (1L to 5000L).map(_ * 7919L)
    val fwd = driverSketch(keys)
    val rev = driverSketch(keys.reverse)
    val dup = driverSketch(keys ++ keys ++ keys.take(100))
    assert(java.util.Arrays.equals(fwd, rev))
    assert(java.util.Arrays.equals(fwd, dup))
    // values are distinct, ascending-unsigned, and capped at k
    val n = KmvBits.nOf(fwd)
    assert(n == Kmv.DefaultK)
    val vals = (0 until n).map(KmvBits.valueAt(fwd, _))
    assert(vals.sliding(2).forall { case Seq(a, b) =>
      java.lang.Long.compareUnsigned(a, b) < 0 })
  }

  test("merge associativity: sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-for-bit") {
    val a = (1L to 40000L).map(_ * 7919L)
    val b = (20000L to 70000L).map(_ * 7919L) // overlapping range
    val whole = driverSketch(a ++ b)
    val merged = KmvBits.compact(KmvBits.merged(driverSketch(a), driverSketch(b)))
    val mergedRev = KmvBits.compact(KmvBits.merged(driverSketch(b), driverSketch(a)))
    assert(java.util.Arrays.equals(whole, merged))
    assert(java.util.Arrays.equals(whole, mergedRev))
    // three-way re-association
    val c = (60000L to 90000L).map(_ * 7919L)
    val abc1 = KmvBits.compact(KmvBits.merged(
      KmvBits.merged(driverSketch(a), driverSketch(b)), driverSketch(c)))
    val abc2 = KmvBits.compact(KmvBits.merged(
      driverSketch(a), KmvBits.merged(driverSketch(b), driverSketch(c))))
    assert(java.util.Arrays.equals(abc1, abc2))
  }

  test("below capacity the sketch is EXACT; above it, within ~3 rse") {
    // n < k: holds the whole hashed set
    val small = driverSketch((1L to 700L).map(_ * 104729L))
    assert(KmvBits.estimate(small) == 700L)
    // n >> k: (k-1)/v_k within 3 * 3.1%
    val n = 250000
    val big = driverSketch((1L to n.toLong).map(_ * 2654435761L))
    val est = KmvBits.estimate(big)
    assert(math.abs(est - n) <= n * 0.10, s"estimate $est vs $n")
    // empty sketch
    assert(KmvBits.estimate(KmvBits.compact(KmvBits.empty(Kmv.DefaultK))) == 0L)
  }

  test("set-operation estimates across overlap regimes") {
    def keysOf(r: Range) = r.map(_.toLong * 6364136223846793005L)
    // both below capacity: union/intersection are EXACT
    val sa = driverSketch(keysOf(1 to 600))
    val sb = driverSketch(keysOf(301 to 900))
    assert(KmvBits.unionEstimate(sa, sb) == 900L)
    assert(KmvBits.interEstimate(sa, sb) == 300L)
    // disjoint large sets: intersection estimates ~0 (inclusion–exclusion
    // on HLL would see error ∝ 100k here)
    val da = driverSketch(keysOf(1 to 100000))
    val db = driverSketch(keysOf(200001 to 300000))
    assert(KmvBits.interEstimate(da, db) <= 600L)
    val u = KmvBits.unionEstimate(da, db)
    assert(math.abs(u - 200000L) <= 200000L * 0.12, s"disjoint union $u")
    // small overlap (5%) between large sets
    val oa = driverSketch(keysOf(1 to 100000))
    val ob = driverSketch(keysOf(95001 to 195000))
    val inter = KmvBits.interEstimate(oa, ob)
    assert(math.abs(inter - 5000L) <= 5000L * 0.5 + 200,
      s"small-overlap intersection $inter vs 5000")
  }

  test("distributed grouped build equals driver-side reference build; nulls skipped") {
    import spark.implicits._
    val keys = (1L to 30000L).map(i => i * 31L)
    val df = keys.toDF("k").repartition(8)
      .select(when(col("k") % 97 === 0, lit(null)).otherwise(col("k")).as("k"))
    val distributed = df.agg(Kmv.sketch(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val expected = driverSketch(keys.filter(_ % 97 != 0))
    assert(java.util.Arrays.equals(distributed, expected))
  }

  test("shard roll-up merge equals direct build (the q88 contract)") {
    import spark.implicits._
    val rows = (1L to 20000L).map(i => (i % 8, i * 31L))
    val df = rows.toDF("shard", "k").repartition(16)
    val direct = df.agg(Kmv.sketch(col("k")).as("sk"))
      .head().getAs[Array[Byte]](0)
    val rolled = df.groupBy("shard").agg(Kmv.sketch(col("k")).as("sk"))
      .agg(Kmv.merge(col("sk")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, rolled))
  }

  test("codegen expressions agree with driver math; analysis-time type checks") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val a = (1L to 50000L).map(_ * 7919L)
    val b = (25000L to 60000L).map(_ * 7919L)
    val df = Seq((driverSketch(a), driverSketch(b))).toDF("sa", "sb")
    val row = df.select(
      Kmv.estimate(col("sa")).as("ea"),
      Kmv.unionEst(col("sa"), col("sb")).as("u"),
      Kmv.interEst(col("sa"), col("sb")).as("i")).head()
    assert(row.getLong(0) == KmvBits.estimate(driverSketch(a)))
    assert(row.getLong(1) == KmvBits.unionEstimate(driverSketch(a), driverSketch(b)))
    assert(row.getLong(2) == KmvBits.interEstimate(driverSketch(a), driverSketch(b)))
    // non-binary input fails at analysis, not mid-job (the HllEstExpr care)
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x").select(Kmv.estimate(col("x"))).collect()
    }
    assert(bad.getMessage.contains("BINARY"))
    val badPair = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(Kmv.interEst(col("sa"), lit("nope"))).collect()
    }
    assert(badPair.getMessage.contains("BINARY"))
  }

  test("hash layer is the shared splitmix64 avalanche") {
    // pins the hash so persisted sketches stay comparable across versions
    val buf = KmvBits.empty(16)
    KmvBits.add(buf, 42L)
    assert(KmvBits.valueAt(buf, 0) == BloomBits.mix(42L))
  }

  test("roll-up guards: mixed k fails by name; a null or zero-length sketch is the identity") {
    import spark.implicits._
    val keys = (1L to 3000L).map(_ * 48271L)
    val sk = driverSketch(keys)
    def rollUp(sks: Seq[Option[Array[Byte]]]): Array[Byte] =
      sks.toDF("sk").agg(Kmv.merge(col("sk"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(rollUp(Seq(Some(sk), None)), sk))
    assert(java.util.Arrays.equals(rollUp(Seq(Some(sk), Some(Array.empty[Byte]))), sk))
    val ex = intercept[Exception](rollUp(Seq(Some(sk), Some(driverSketch(keys, k = 64)))))
    assert(ex.getMessage.contains("KMV merge: k mismatch (64 vs 1024)"), ex.getMessage)
  }
}
