package graft.ops

import graft.GraftSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.ArraySeq

/** Product-quantization contract: shape and range of codes, determinism
  * of training+encoding, reconstruction-error ordering vs the null
  * quantizer, and ADC (lookup-table) distance quality against exact
  * brute force. */
class PqSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  val sf = "/root/testdata/sf0.001"

  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  lazy val model = Pq.train(emb, "embedding")

  test("codes: m per vector, all within [0, codes)") {
    val coded = emb.select(Pq.encode(model, col("embedding")).as("c"))
    val bad = coded.filter(size(col("c")) =!= model.m ||
      array_min(col("c")) < 0 || array_max(col("c")) >= model.codes)
    assert(bad.count() == 0)
    // codes actually use the codebook (not all collapsed to one entry)
    val distinct = coded.select(explode(col("c")).as("code")).distinct().count()
    assert(distinct > model.codes / 2, s"only $distinct distinct codes used")
  }

  test("training and encoding are deterministic across runs") {
    val again = Pq.train(emb, "embedding")
    assert(model.codebooks.flatten.flatten.toSeq == again.codebooks.flatten.flatten.toSeq)
    val a = emb.select(col("vec_id"), Pq.encode(model, col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = emb.select(col("vec_id"), Pq.encode(again, col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
  }

  test("native per-subspace argmin == composed formulation (codes and distances)") {
    graft.functions.NativeFunctions.register(spark)
    // one subspace per plan: the FULL m × codes composed unroll is the
    // very 64 KB-overflow shape the native kernel exists to retire —
    // comparing it whole would re-create the codegen fallback this suite
    // must stay free of; per-subspace trees compile, and ∀j equality is
    // the same guarantee
    (0 until model.m).foreach { j =>
      val native = Pq.encode(model, col("embedding"))(j).as("n")
      val composed = Pq.bestComposed(model, col("embedding"), j)
        .getField("i").cast("int").as("c")
      assert(emb.select(native, composed)
        .filter(col("n") =!= col("c")).count() == 0, s"subspace $j codes")
      val nd = graft.functions.NativeFunctions.graft_argmin_l2(
        slice(col("embedding"), j * model.subDim + 1, model.subDim),
        model.codebooks(j).flatten, model.subDim).getField("d").as("nd")
      val cd = Pq.bestComposed(model, col("embedding"), j).getField("d").as("cd")
      assert(emb.select(nd, cd)
        .filter(col("nd") =!= col("cd")).count() == 0, s"subspace $j dist")
    }
  }

  test("reconstruction error: 16-code codebooks beat the 1-code null quantizer") {
    val nullM = Pq.train(emb, "embedding", codes = 1)
    val r = emb.agg(
      sum(Pq.reconSe(model, col("embedding"))).as("se"),
      sum(Pq.reconSe(nullM, col("embedding"))).as("se0")).head()
    val (se, se0) = (r.getDouble(0), r.getDouble(1))
    assert(se < se0, s"PQ recon $se not better than null quantizer $se0")
    // and materially so — k-means should cut the subspace variance hard
    assert(se < se0 * 0.9, s"PQ recon $se vs null $se0: < 10% improvement")
  }

  test("ADC top-1 is near the exact neighbor; ADC equals driver-side LUT math") {
    val qv = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    def trueSe(vec: org.apache.spark.sql.Column) =
      aggregate(zip_with(vec, array(ArraySeq.unsafeWrapArray(qv.map(lit(_))): _*),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, v) => acc + v)
    val others = emb.filter(col("vec_id") =!= 0)
    val dExact = others.agg(min(trueSe(col("embedding")))).head().getDouble(0)
    val coded = others.select(col("vec_id"), col("embedding"),
      Pq.encode(model, col("embedding")).as("codes"))
    val pick = Pq.topKAdc(model, coded, "vec_id", "codes", qv, k = 1).head()
    val dAdcTrue = others.filter(col("vec_id") === pick.getLong(0))
      .select(trueSe(col("embedding"))).head().getDouble(0)
    info(s"exact NN d²=$dExact, ADC pick true d²=$dAdcTrue " +
      f"(ratio ${dAdcTrue / math.max(dExact, 1e-12)}%.2f)")
    assert(dAdcTrue <= dExact * 4.0 + 1.0,
      s"ADC pick true distance $dAdcTrue too far from exact NN $dExact")
    // the plan-side ADC number agrees with the same LUT computed on the
    // driver for the picked row
    val pickedCodes = coded.filter(col("vec_id") === pick.getLong(0))
      .select("codes").head().getSeq[Int](0)
    val driverAdc = (0 until model.m).map { j =>
      val qSub = qv.slice(j * model.subDim, (j + 1) * model.subDim)
      val c = model.codebooks(j)(pickedCodes(j))
      c.zip(qSub).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum
    assert(math.abs(pick.getDouble(1) - driverAdc) < 1e-9)
  }
}
