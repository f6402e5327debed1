package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection: hashed n-gram importance weighting of a raw
  * corpus toward a target distribution (Xie et al., "Data Selection for
  * Language Models via Importance Resampling", NeurIPS 2023). The raw
  * corpus is scored by how target-like its token distribution is —
  * `log p_target(x) − log p_raw(x)` under hashed bag-of-n-gram unigram
  * models — and the top-weighted documents are kept.
  *
  * Scale shape (the reason this formulation works at corpus scale):
  *  - the MODEL is two bucket-count aggregations (shuffle ∝ `buckets`
  *    after map-side partials) collected once as `buckets` longs (KBs —
  *    the [[CountMin]]/[[Bloom]] one-model-row precedent);
  *  - SCORING is a single map-only codegen pass: the per-bucket log-ratio
  *    table rides along as an 8·`buckets`-byte array literal and each
  *    document folds its hashed grams through `try_element_at` — no join,
  *    no shuffle, no per-doc model lookup traffic;
  *  - SELECTION is `orderBy(weight).limit(k)` → TakeOrderedAndProject
  *    (per-partition heaps, no global sort).
  *
  * Engine-independence: grams are hashed with the Rabin-Karp char rolling
  * hash ([[TextOps.fingerprint]], mod 2^31−1) then bucketed mod `buckets`,
  * and log-ratios are rounded to 8 decimals and scaled to integer 1e-8
  * units (the [[CorpusStats.unigramLogProb]] convention) — every stage is
  * replayable in ANSI SQL, so the whole selection has a value oracle.
  */
object Dsir {

  val DefaultBuckets = 1024

  /** Hashed feature grams of a document: whitespace unigrams plus
    * space-joined adjacent bigrams (the paper's hashed n-gram features
    * with n ≤ 2). */
  def grams(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val bigrams = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    concat(toks, bigrams)
  }

  /** Engine-independent bucket of one gram: char rolling hash mod 2^31−1
    * ([[TextOps.fingerprint]]) reduced mod `buckets` — non-negative, so
    * plain `%` replays identically in external SQL. */
  def gramBucket(gram: Column, buckets: Int): Column =
    pmod(TextOps.fingerprint(gram), lit(buckets.toLong))

  /** Hashed-gram histogram of a corpus: one row per OCCUPIED bucket.
    * Shuffle carries at most `buckets` rows per map task (map-side
    * partial aggregation over a bounded key domain). */
  def bucketCounts(docs: DataFrame, textCol: String,
      buckets: Int = DefaultBuckets): DataFrame = {
    // native codegen'd gram bucketing (FunctionsSpec pins ==
    // transform(grams(text), g => gramBucket(g, buckets)) — the HOF
    // fold re-walked every character of both bigram tokens interpreted,
    // and dominated the q93/q97 model build)
    docs.select(explode(graft.functions.NativeFunctions
        .graft_gram_buckets(col(textCol), buckets)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Per-bucket importance log-ratio in integer 1e-8 units, as a dense
    * array indexed by bucket: `round(ln p̂_target(b) − ln p̂_raw(b), 8)`
    * with add-one smoothing (`p̂(b) = (cnt_b + 1) / (total + buckets)` —
    * every bucket defined even if unseen). Runs two Spark jobs EAGERLY
    * (the [[Bloom.build]] contract) and collects `buckets` longs — the
    * model is KBs no matter the corpus size; the log arithmetic happens
    * IN the engine so the oracle can replay the identical expression
    * tree. */
  def importanceModel(target: DataFrame, raw: DataFrame, textCol: String,
      buckets: Int = DefaultBuckets): Array[Long] = {
    require(buckets >= 2 && buckets <= (1 << 22), "buckets must be in [2, 4M]")
    val t = bucketCounts(target, textCol, buckets)
      .withColumnRenamed("cnt", "ct")
    val r = bucketCounts(raw, textCol, buckets)
      .withColumnRenamed("cnt", "cr")
    val totals = t.agg(sum(col("ct")).as("nt"))
      .crossJoin(r.agg(sum(col("cr")).as("nr")))
    val rows = t.join(r, Seq("bucket"), "full_outer")
      .crossJoin(totals)
      .select(col("bucket"),
        round(round(
          log((coalesce(col("ct"), lit(0L)) + 1L).cast("double")
            / (col("nt") + buckets).cast("double"))
          - log((coalesce(col("cr"), lit(0L)) + 1L).cast("double")
            / (col("nr") + buckets).cast("double")), 8) * 1e8, 0)
          .cast("long").as("w"))
      .collect()
    val model = new Array[Long](buckets)
    // buckets occupied in NEITHER corpus: both probabilities are the
    // smoothing floor but the totals still differ. Evaluate the default
    // through the SAME engine expression tree as the occupied buckets
    // (not driver-side Math.log) so the rounding convention is identical
    // for the oracle replay.
    val trow = totals.head()
    val (nt, nr) = (trow.getLong(0), trow.getLong(1))
    val unseen = target.sparkSession.range(1)
      .select(round(round(
        log(lit(1.0) / lit((nt + buckets).toDouble))
          - log(lit(1.0) / lit((nr + buckets).toDouble)), 8) * 1e8, 0)
        .cast("long"))
      .head().getLong(0)
    java.util.Arrays.fill(model, unseen)
    rows.foreach(r => model(r.getLong(0).toInt) = r.getLong(1))
    model
  }

  /** Per-document importance weight in 1e-8 units: the sum of the model's
    * log-ratio over the document's hashed grams — one whole-stage-codegen
    * map expression, model embedded as a literal array. |weight| stays
    * far below 2^62 for any real document (each term ≤ ~3e9 units). */
  def score(model: Array[Long], text: Column): Column = {
    val m = typedLit(model.toSeq)
    // buckets arrive pre-hashed from the native pass; the remaining
    // interpreted lambda work is one array index + add per gram
    aggregate(
      graft.functions.NativeFunctions.graft_gram_buckets(text, model.length),
      lit(0L),
      (acc, b) => acc + coalesce(
        try_element_at(m, (b + 1L).cast("int")), lit(0L)))
  }

  /** The k most target-like documents (weight desc, id asc — total order,
    * reproducible): plans as TakeOrderedAndProject over the map-only
    * scored scan. */
  def selectTop(docs: DataFrame, idCol: String, textCol: String,
      model: Array[Long], k: Int): DataFrame =
    docs.select(col(idCol), score(model, col(textCol)).as("weight_x1e8"))
      .orderBy(desc("weight_x1e8"), col(idCol))
      .limit(k)

  /** Importance RESAMPLING — the DSIR paper's actual selection rule
    * (sample ∝ exp(weight), without replacement) rather than the
    * deterministic arg-top-k of [[selectTop]]: top-k by
    * `weight + Gumbel` (the Gumbel-max trick — adding iid Gumbel(0,1)
    * noise to log-weights and taking the arg-max draws from the softmax;
    * top-k without replacement, Vieira 2014). Selection stays diverse
    * instead of collapsing onto near-identical max-weight documents.
    *
    * The noise is PSEUDO-random from the seeded Knuth hash of the
    * NUMERIC document id ([[Sampling.seededKnuth]] — uniform on
    * [0, 2^31), a bijection on ids, seed-rotated; unlike a short-string
    * rolling hash it has no small-value bias), then
    * `u = (h+1)/(2^31+1) ∈ (0,1)`, `g = −ln(−ln u)` — reproducible
    * run-to-run, shard-order-independent, and replayable in external SQL
    * (same 8-decimal 1e-8-unit rounding as the weights). Still one
    * map-only pass → TakeOrderedAndProject. */
  def resampleTop(docs: DataFrame, idCol: String, textCol: String,
      model: Array[Long], k: Int, seed: Int = 0): DataFrame = {
    val h = Sampling.seededKnuth(col(idCol), seed)
    // u ∈ (0, 1) strictly: both logs finite
    val u = (h + 1L).cast("double") / lit(2147483649.0)
    val gumbel = round(round(-log(-log(u)), 8) * 1e8, 0).cast("long")
    docs.select(col(idCol), score(model, col(textCol)).as("weight_x1e8"),
        gumbel.as("gumbel_x1e8"))
      .withColumn("key_x1e8", col("weight_x1e8") + col("gumbel_x1e8"))
      .orderBy(desc("key_x1e8"), col(idCol))
      .limit(k)
  }
}
