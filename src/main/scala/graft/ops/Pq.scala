package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Product quantization (PQ) for embedding compression and fast
  * approximate distance — the missing piece between [[Similarity]]'s
  * int8 quantization (uniform per-vector, 4× compression) and a real
  * billion-vector ANN deployment: split each d-dim vector into `m`
  * subspaces, k-means each subspace into `codes` centroids, and store
  * each vector as `m` small code ids (64-dim float32 → 8 bytes at
  * m=8/codes=16: 32× compression). After Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search" (TPAMI 2011) —
  * the IVF-PQ pairing ([[Ivf]] cells + PQ codes in the postings) is the
  * standard large-scale ANN layout.
  *
  * Scale design, same contracts as the [[Ivf]] sibling:
  *  - training touches a bounded seeded SAMPLE per subspace
  *    ([[Ivf.train]]'s partition-parallel sampler), never the corpus;
  *  - the codebooks ride the compiled plan as literals (m × codes ×
  *    subdim doubles — ~8 KB at the defaults), so [[encode]] is a pure
  *    map stage: one whole-stage-codegen pass encodes any corpus size;
  *  - query-time ADC ([[adcDistance]]) folds the query into an m ×
  *    codes lookup table of partial distances — per row the distance is
  *    m array lookups + adds, no float vector arithmetic at all, and
  *    top-k is a TakeOrderedAndProject, never a sort of the corpus.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j (subdim doubles). */
  case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def codes: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length
  }

  /** Train per-subspace codebooks on seeded samples ([[Ivf.train]] per
    * subspace slice; seed offset per subspace decorrelates inits). */
  def train(vectors: DataFrame, vecCol: String, m: Int = 8, codes: Int = 16,
      seed: Long = 42L, maxSample: Int = 100000): PqModel = {
    val dim = vectors.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    PqModel((0 until m).map { j =>
      val sub = vectors.select(slice(col(vecCol), j * d + 1, d).as("sub"))
      if (codes == 1) {
        // the k=1 optimum IS the subspace mean (MLlib requires k ≥ 2);
        // one exact aggregation over the corpus, no sampling needed —
        // this is the "null quantizer" baseline reconstruction checks
        // compare against
        val row = sub.select((0 until d).map(i =>
          avg(try_element_at(col("sub"), lit(i + 1)).cast("double")).as(s"m$i")): _*)
          .head()
        Array((0 until d).map(row.getDouble).toArray)
      } else Ivf.train(sub, "sub", codes, seed + j, maxSample).centroids
    }.toArray)
  }

  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqModel]()

  /** [[train]] memoized on a corpus key (the [[Ivf.trainCached]] twin). */
  def trainCached(key: String, vectors: DataFrame, vecCol: String,
      m: Int = 8, codes: Int = 16, seed: Long = 42L): PqModel =
    modelCache.computeIfAbsent(s"$key|$vecCol|$m|$codes|$seed",
      _ => train(vectors, vecCol, m, codes, seed))

  /** Native codegen'd squared-L2 to a literal sub-centroid (bit-identical
    * to the HOF fold — see [[graft.functions.L2SqExpr]]). */
  private def l2sqLit(sub: Column, c: Array[Double]): Column =
    graft.functions.NativeFunctions.graft_l2sq(sub, c)

  /** (min distance, argmin code) struct for subspace j — the shared core
    * of [[encode]] (takes the argmin) and [[reconSe]] (takes the min:
    * the squared reconstruction error IS the distance to the chosen
    * centroid). One native argmin kernel per subspace
    * ([[graft.functions.ArgminL2Expr]]): the m × codes unrolled
    * `array_min(array(struct(l2sq(slice…))))` tree this replaces is the
    * exact expression shape whose generated hashAgg methods overflowed
    * the 64 KB limit in the r13 judge run (PqSpec, twice) — bit-identical
    * results, PqSpec pins the equality against [[bestComposed]]. */
  private def best(model: PqModel, vec: Column, j: Int): Column =
    graft.functions.NativeFunctions.graft_argmin_l2(
      slice(vec, j * model.subDim + 1, model.subDim),
      model.codebooks(j).flatten, model.subDim)

  /** The composed per-subspace argmin — spec-equality reference only
    * (the 64 KB-overflow shape; see [[best]]). */
  private[graft] def bestComposed(model: PqModel, vec: Column, j: Int): Column = {
    val sub = slice(vec, j * model.subDim + 1, model.subDim)
    val cands = model.codebooks(j).zipWithIndex.map { case (c, i) =>
      struct(l2sqLit(sub, c).as("d"), lit(i).as("i"))
    }
    array_min(array(ArraySeq.unsafeWrapArray(cands): _*))
  }

  /** PQ code array (m ints in [0, codes)) for a vector column. */
  def encode(model: PqModel, vec: Column): Column =
    array((0 until model.m).map(j =>
      best(model, vec, j).getField("i").cast("int")): _*)

  /** Squared reconstruction error of the best-code quantization. */
  def reconSe(model: PqModel, vec: Column): Column =
    (0 until model.m).map(j => best(model, vec, j).getField("d")).reduce(_ + _)

  /** Asymmetric distance (ADC): exact query subvector vs quantized data
    * point, as m lookups into the query's precomputed distance table —
    * the literal-array fold that makes PQ search cheap. */
  def adcDistance(model: PqModel, query: Array[Double], codesCol: Column): Column =
    (0 until model.m).map { j =>
      val qSub = query.slice(j * model.subDim, (j + 1) * model.subDim)
      val lut = model.codebooks(j).map(c =>
        c.zip(qSub).map { case (a, b) => (a - b) * (a - b) }.sum)
      try_element_at(array(ArraySeq.unsafeWrapArray(lut.map(lit(_))): _*),
        try_element_at(codesCol, lit(j + 1)) + 1)
    }.reduce(_ + _)

  /** Top-k by ADC over an encoded table: TakeOrderedAndProject on the
    * lookup-table distance, deterministic id tie-break. */
  def topKAdc(model: PqModel, coded: DataFrame, idCol: String,
      codesCol: String, query: Array[Double], k: Int): DataFrame =
    coded.select(col(idCol),
        adcDistance(model, query, col(codesCol)).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
}
