package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design (100 TB / billions of vectors):
  *  - Brute-force top-k is the exactness baseline: one map stage computing
  *    the score + `TakeOrderedAndProject` (per-partition heap, driver
  *    merge). Linear scan, no shuffle — bounded by scan throughput.
  *  - The scale path is LSH bucketing (random hyperplane signatures):
  *    vectors hash into buckets; a query probes only its bucket (and
  *    optionally neighboring bands). The bucket join replaces the full
  *    scan with an equi-join shuffle on signature keys. An IVF variant
  *    would replace the hash with nearest-centroid assignment — same
  *    plumbing, different bucketing function.
  *
  * All dot products use `zip_with` + `aggregate` in double precision,
  * sequentially over the array — deterministic and codegen-friendly.
  */
object Similarity {

  /** Dot product of two float/double-array columns, accumulated in double
    * in index order (deterministic): the native codegen'd expression
    * ([[graft.functions.DotProductExpr]] — one compiled loop, bit-identical
    * to [[dotHof]] and to DuckDB's list_dot_product). */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.graft_dot(
      a.cast("array<double>"), b.cast("array<double>"))

  /** The composed higher-order-function formulation of [[dot]] — the
    * readable spec the native expression is pinned against
    * (FunctionsSpec); interpreted, so not on the hot path. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns. Division semantics are
    * the raw engine ones (ANSI: ÷0 THROWS) — the top-k paths keep this
    * form because their DuckDB value oracles replay the exact division;
    * pair-generating dedup paths use [[cosineSafe]]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Zero-norm-safe cosine: 0.0 when either vector has zero norm. A zero
    * vector is a near-duplicate of NOTHING — and the raw [[cosine]]
    * division kills the whole job under ANSI (DIVIDE_BY_ZERO, found by
    * the ScaleSpec synthetic drill) the moment one zero embedding
    * appears in a corpus. Threshold-consistent with external SQL for any
    * threshold > 0: engines that produce NaN/Inf there also fail the ≥
    * comparison. CaseWhen evaluates the division only on the safe
    * branch. */
  def cosineSafe(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === lit(0.0), lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Exact brute-force top-k by cosine against a single query vector.
    * Compiles to scan → project(score) → TakeOrderedAndProject. */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    vectors
      .select(col(idCol), cosine(col(vecCol), q).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), asc(idCol))
      .limit(k)
  }

  /** The deterministic pseudo-random hyperplanes behind
    * [[hyperplaneSignature]], exposed so an external oracle (e.g. DuckDB
    * SQL with literal plane arrays) can reproduce the exact signatures.
    * Component j of plane i = splitmix-style mix of (seed,i,j) → [-1,1);
    * the single source of the constants is
    * [[graft.functions.Hashing.flatHyperplanes]], shared with the
    * native expression. */
  def hyperplanes(dim: Int, bits: Int, seed: Int = 42): Seq[Seq[Double]] = {
    val flat = graft.functions.Hashing.flatHyperplanes(dim, bits, seed)
    (0 until bits).map(i => (0 until dim).map(j => flat(i * dim + j)))
  }

  /** Random-hyperplane LSH signature: `bits` sign bits of dot products
    * with the [[hyperplanes]] (seeded, data-independent) — the native
    * codegen'd expression (one compiled loop; bit-identical to
    * [[hyperplaneSignatureHof]], FunctionsSpec pins it — the composed
    * form was `bits` separate dot trees whose large generated method
    * also sat in the tiered-JIT warm-up band, the q43/q44 variance
    * source). */
  def hyperplaneSignature(vecCol: Column, dim: Int, bits: Int, seed: Int = 42): Column =
    graft.functions.NativeFunctions.graft_hplane_sig(vecCol, dim, bits, seed)

  /** The composed higher-order-function formulation of
    * [[hyperplaneSignature]] — the readable spec the native expression
    * is pinned against; interpreted glue, not on the hot path. */
  def hyperplaneSignatureHof(vecCol: Column, dim: Int, bits: Int, seed: Int = 42): Column = {
    val sigBits = hyperplanes(dim, bits, seed).map { p =>
      val planeCol = array(p.map(lit(_)): _*)
      when(dot(vecCol, planeCol) >= 0, lit(1L)).otherwise(lit(0L))
    }
    // pack bits into a long (bits <= 60 to stay overflow-safe)
    sigBits.foldLeft(lit(0L))((acc, b) => acc * 2 + b)
  }

  /** Approximate NN: probe only the query's LSH bucket, then rank by exact
    * cosine within the bucket. `bits` trades recall for bucket size. */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], dim: Int, k: Int, bits: Int = 8): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val querySig = hyperplaneSignature(q, dim, bits)
    vectors
      .withColumn("bucket", hyperplaneSignature(col(vecCol), dim, bits))
      .filter(col("bucket") === querySig)
      .select(col(idCol), cosine(col(vecCol), q).as("cosine_sim"))
      .orderBy(desc("cosine_sim"), asc(idCol))
      .limit(k)
  }

  /** Signature width scaled to corpus size: targets ~2^bits buckets such
    * that the mean bucket holds ~`targetBucket` vectors — candidate pairs
    * then grow ~linearly in n instead of O(n²/2^bits) with a fixed width.
    * Clamped to [4, 24] (beyond 24 bits the planes themselves dominate
    * per-row cost; below 4 the buckets are non-discriminative). */
  def bitsFor(n: Long, targetBucket: Int = 4): Int = {
    val raw = math.ceil(math.log(math.max(n, 2).toDouble / targetBucket) / math.log(2)).toInt
    math.min(24, math.max(4, raw))
  }

  /** All near-duplicate embedding pairs by cosine ≥ threshold, bucketed by
    * LSH signature so only same-bucket pairs are compared.
    *
    * Scale guards (mirrors [[Dedup.minhashNearDups]]):
    *  - `bits <= 0` → auto-scale the signature width with the corpus size
    *    via [[bitsFor]] (one approx count job), so bucket population stays
    *    ~constant as n grows instead of pairs exploding O(n²/2^bits);
    *  - buckets larger than `maxBucket` are dropped before the pair join —
    *    a bucket of size s contributes s² candidates, and an over-full
    *    bucket means the signature failed to discriminate there (near-dup
    *    mining wants more bits, not a quadratic verify). */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int = 0, maxBucket: Int = 4096): DataFrame =
    cosineNearDupPairsWithBucket(vectors, idCol, vecCol, dim, threshold,
      bits, maxBucket).select("id_a", "id_b", "cosine_sim")

  /** [[cosineNearDupPairs]] KEEPING the bucket key on each pair: because
    * candidates come from an equi-join on the single signature, every
    * pair is intra-bucket by construction — so near-dup components
    * never span buckets, and a consumer can group them with the
    * one-shuffle [[Dedup.connectedComponentsWithinGroups]] instead of
    * the eager multi-round CC (the q104 pattern; [[Curation
    * .semanticDedup]] rides this). NOT true of banded MinHash pairs
    * (q40/q65): a document pairs through DIFFERENT band buckets there,
    * so those components genuinely need the distributed CC. */
  private[ops] def cosineNearDupPairsWithBucket(vectors: DataFrame,
      idCol: String, vecCol: String, dim: Int, threshold: Double,
      bits: Int = 0, maxBucket: Int = 4096): DataFrame = {
    val nBits =
      if (bits > 0) bits
      else bitsFor(vectors.select(approx_count_distinct(col(idCol))).head().getLong(0))
    // persisted via OpCaches (released by the caller after materialization):
    // referenced by the bucket-size profile AND both sides of the pair join
    val sigs = OpCaches.persist(
      vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("bucket", hyperplaneSignature(col("v"), dim, nBits)))
    val okBuckets = sigs.groupBy("bucket")
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > 1 && col("bsize") <= maxBucket)
      .select("bucket")
    val pruned = sigs.join(okBuckets, Seq("bucket"))
    val a = pruned.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = pruned.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("bucket"), col("id_a"), col("id_b"),
        cosineSafe(col("v_a"), col("v_b")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** Per-group centroid accumulation over the first `dims` embedding
    * dimensions, in FIXED-POINT: each component is truncated toward zero
    * to `2^qBits` resolution and summed as a long. Integer sums are
    * order-independent, so the result is deterministic under any partition
    * layout or merge order — double summation is not (FP addition is
    * non-associative), which matters both for cross-engine verification
    * and for reproducible pipelines. The centroid is `sum_q / n / 2^qBits`
    * in the consumer's precision of choice.
    *
    * Scale shape: posexplode (a Generate, no shuffle) then ONE partial
    * aggregation on (group, dim) — shuffle rows = groups × dims,
    * independent of corpus size. This is the building block for
    * cluster-based curation (semantic dedup's per-cluster centroids). */
  def groupCentroidFixedPoint(vectors: DataFrame, groupCol: String,
      vecCol: String, dims: Int, qBits: Int = 20): DataFrame = {
    require(dims >= 1 && qBits >= 0 && qBits <= 40)
    val scale = 1L << qBits
    vectors
      .select(col(groupCol), posexplode(slice(col(vecCol), 1, dims)).as(Seq("dim", "v")))
      .select(col(groupCol), col("dim"),
        (col("v").cast("double") * scale).cast("long").as("vq"))
      .groupBy(groupCol, "dim")
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("sum_q"))
  }

  /** LAION/DataComp-style embedding quality filter: keep vectors whose
    * cosine to the centroid of a curated SEED set clears a threshold —
    * the "does this look like known-good data" gate large multimodal
    * corpora are actually filtered with (Schuhmann et al., LAION-5B,
    * NeurIPS 2022 used CLIP-score thresholds the same way).
    *
    * Scale shape (the [[graft.ops.Dsir]]/[[graft.ops.Bm25]] pattern):
    * the MODEL is one aggregation over the seed set — per-dim
    * fixed-point sums ([[groupCentroidFixedPoint]]'s exact
    * order-independent idiom), `dims` rows collected once; SCORING is a
    * map-only codegen pass (centroid rides as a literal array into
    * [[cosine]]'s native dot) ending in a filter — scoring 100 TB of
    * vectors is exactly one read.
    *
    * Determinism: the centroid is derived from exact integer sums by one
    * IEEE division per dim, and the cosine is the [[dot]] sequential
    * fold — every surviving row's score replays bit-for-bit in external
    * SQL (no tolerance anywhere). */
  def embedQualityFilter(vectors: DataFrame, idCol: String, vecCol: String,
      seed: DataFrame, dims: Int, minCosine: Double,
      qBits: Int = 20): DataFrame = {
    val scale = (1L << qBits).toDouble
    val cent = groupCentroidFixedPoint(
        seed.select(lit(0).as("g"), col(vecCol)), "g", vecCol, dims, qBits)
      .select(col("dim"), (col("sum_q").cast("double") /
        (col("n").cast("double") * scale)).as("cv"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    require(cent.size == dims, s"seed set covers ${cent.size}/$dims dims")
    val centLit = array((0 until dims).map(d => lit(cent(d))): _*)
    vectors
      // cosineSafe: a zero corpus vector scores 0 (filtered for any
      // positive threshold) instead of killing the scan under ANSI;
      // survivor set matches the SQL replay (NaN fails ≥ there)
      .select(col(idCol), cosineSafe(col(vecCol), centLit).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
  }

  /** Hard-negative mining (the DPR recipe — Karpukhin et al.,
    * "Dense Passage Retrieval", EMNLP 2020): for each query vector, the
    * `k` most-cosine-similar corpus vectors EXCLUDING the query's own
    * positive set — the "looks relevant but isn't" rows a dense
    * retriever trains against.
    *
    * Scale shape: `queries` is an eval-sized table → broadcast into a
    * map-only (corpus × queries) score expansion; `positives`
    * (query_id, id) pairs anti-join out (also broadcast-sized); the
    * per-query top-k accumulates through the bounded-buffer
    * [[graft.functions.TopKAggregator]] — ≤ k candidates per query per
    * map task, so the shuffle carries k·|queries| rows, NOT the scored
    * expansion, and there is no corpus-wide window sort. One corpus
    * read regardless of |queries|.
    *
    * Deterministic: cosine is the sequential native fold; ties break by
    * ascending corpus id (the aggregator's contract). Output:
    * (query_id, rk, id, cosine_sim) with rk ∈ [1, k]. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      positives: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val scored = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(broadcast(queries.select(col(qIdCol).as("query_id"),
        col(qVecCol).as("qv"))))
      .join(broadcast(positives.select(col(qIdCol).as("query_id"),
        col(idCol).as("id"))), Seq("query_id", "id"), "left_anti")
      // cosineSafe: one zero-norm vector anywhere must not kill the
      // mining job (zero vectors score 0 and fall out of the top-k;
      // value-identical to the raw division on every nonzero pair)
      .select(col("query_id"), col("id"),
        cosineSafe(col("v"), col("qv")).as("cos"))
    topKPerQuery(scored, k, idCol)
  }

  /** The bounded-buffer per-query top-k tail shared by [[hardNegatives]]
    * and [[hardNegativesIvf]]: `scored` is (query_id, id, cos); ≤ k
    * candidates survive per query per map task, so the shuffle carries
    * k·|queries| rows and no window ever sorts the scored expansion. */
  private def topKPerQuery(scored: DataFrame, k: Int,
      idCol: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val topk = new graft.functions.TopKAggregator[(Long, Long, Double)](
      k, _._3, _._2).toColumn
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1).agg(topk).toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col._2").as(idCol), col("col._1").as("cosine_sim"))
  }

  /** ANN-bounded hard-negative mining: [[hardNegatives]] scores every
    * (corpus row × query) exact dot — right for eval-sized query sets,
    * wrong for 10k+ queries over a 100 TB corpus. This variant prunes
    * with an IVF index (the q92 composition): each query probes only
    * its `nProbe` nearest centroid cells, so scored candidates are
    * Σ_q Σ_{probed cells} s_c ≈ |queries|·nProbe·(n/k_cells) instead of
    * |queries|·n — the standard recall-for-cost ANN trade
    * ([[graft.ops.Ivf]] header).
    *
    * Plan shape: cell assignment is the same broadcast-literal codegen
    * expression the probe index uses (ONE map pass over the corpus);
    * per-query probe cells are per-ROW arithmetic on the broadcast
    * query side (array_sort over (distance, cell) structs — ties break
    * by cell id, deterministic); candidate generation is a broadcast
    * hash join on the cell key; the top-k tail is the same bounded
    * aggregation as the exact path. With `nProbe = model.centroids
    * .length` every cell is probed and the result EQUALS the exact
    * path (the spec's recall gate pins it). */
  def hardNegativesIvf(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      positives: DataFrame, k: Int, model: Ivf.IvfModel,
      nProbe: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nProbe >= 1 && nProbe <= model.centroids.length,
      s"nProbe must be in [1, ${model.centroids.length}]")
    val indexed = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", Ivf.assign(model, col("v")))
    // probe-cell ordering through the ONE native kernel
    // ([[probeCellsComposed]] retained as the spec-pinned reference):
    // the composed array_sort(array(struct(l2sq…))) tree carried
    // k × dim literal doubles through every analyzer pass and codegen
    // unit PER probe branch — q115 builds two probe branches, and its
    // driver plan/codegen time scaled with that tree (the q104 argmin
    // lesson applied to the top-nProbe case).
    val probes = queries
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("qv"))
      .withColumn("pc", slice(
        graft.functions.NativeFunctions.graft_cells_by_dist(
          col("qv"), model.centroids.flatten, model.centroids.head.length),
        1, nProbe))
      .select(col("query_id"), col("qv"), explode(col("pc")).as("cell"))
    val scored = indexed
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(positives.select(col(qIdCol).as("query_id"),
        col(idCol).as("id"))), Seq("query_id", "id"), "left_anti")
      .select(col("query_id"), col("id"),
        cosineSafe(col("v"), col("qv")).as("cos"))
    topKPerQuery(scored, k, idCol)
  }

  /** The composed probe-cell formulation (k unrolled l2sq structs under
    * array_sort) — retained ONLY as the equality reference the spec pins
    * [[hardNegativesIvf]]'s native `graft_cells_by_dist` ordering
    * against; production paths no longer build this tree. */
  private[graft] def probeCellsComposed(model: Ivf.IvfModel, vec: Column,
      nProbe: Int): Column = {
    val qdists = model.centroids.zipWithIndex.map { case (c, i) =>
      struct(graft.functions.NativeFunctions.graft_l2sq(vec, c).as("d"),
        lit(i).as("i"))
    }
    slice(array_sort(array(ArraySeq.unsafeWrapArray(qdists): _*)), 1, nProbe).getField("i")
  }

  /** L2 normalization: adds `norm` (the vector's L2 length, double) and
    * `unit` (the direction, array<double>) — the standard pre-ANN step
    * (unit vectors make cosine == dot, letting IVF/PQ/LSH all run on
    * plain inner products). Zero vectors normalize to ZERO vectors
    * (norm 0, all-zero unit) rather than killing the job with an ANSI
    * divide — the [[cosineSafe]] contract: a zero vector has no
    * direction and matches nothing. Pure per-row expression work, no
    * shuffle; every output value is IEEE-deterministic (native dot
    * fold + sqrt + one division per component), so the whole row
    * replays bit-for-bit in external SQL. */
  def l2Normalize(df: DataFrame, vecCol: String): DataFrame = {
    df.withColumn("norm", norm(col(vecCol)))
      .withColumn("unit",
        when(col("norm") === lit(0.0),
          transform(col(vecCol), _ => lit(0.0)))
          .otherwise(transform(col(vecCol), x => x.cast("double") / col("norm"))))
  }

  /** Symmetric per-vector int8 quantization — the storage/serving format
    * for embeddings at corpus scale (4× smaller than float32; dot products
    * stay integer until the final rescale). Adds `q_scale` (the vector's
    * max |x|, double) and `q_vec` (array<int> in [-127, 127]):
    * `q_i = floor(x_i·127/scale + 0.5)`, zero vectors quantize to zeros.
    *
    * Deterministic by construction: float32 → double casts are exact, and
    * the multiply/divide/floor chain is IEEE-defined — the SAME expression
    * evaluates bit-identically in any engine (the q71 oracle replays it in
    * DuckDB), unlike library round() conventions. `q_scale` is computed in
    * a separate projection so Catalyst evaluates it once per row, not once
    * per element. Per-row expression work only — no shuffle, and the
    * common subexpressions stay inside whole-stage codegen. */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val d = transform(col(vecCol), x => x.cast("double"))
    val withScale = df.withColumn("q_scale", array_max(transform(d, x => abs(x))))
    withScale.withColumn("q_vec",
      when(col("q_scale") === 0d,
        transform(d, _ => lit(0)))
      .otherwise(
        transform(d, x => floor(x * lit(127d) / col("q_scale") + lit(0.5d)).cast("int"))))
  }

  /** Max |dequantized − original| over a quantized vector: the in-query
    * audit column for [[quantizeInt8]] (bounded by scale/254 when the
    * quantizer is correct). Same IEEE-deterministic arithmetic contract. */
  def dequantMaxErr(qVec: Column, origVec: Column, scale: Column): Column =
    aggregate(
      zip_with(qVec, origVec,
        (q, x) => abs(q.cast("double") * scale / lit(127d) - x.cast("double"))),
      lit(0d), (acc, e) => greatest(acc, e))
}
