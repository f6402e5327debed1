package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard near-dup detection.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-partitioned groupBy on the key — the shuffle
  *    carries (key-hash, id), not the documents.
  *  - MinHash signatures are computed per-row inside codegen (no UDF, no
  *    shuffle); LSH banding turns the O(n²) all-pairs problem into an
  *    equi-join on (band, band-hash) buckets, so candidate generation is a
  *    shuffle on bucket keys whose fan-out is bounded by bucket sizes.
  *    Skewed buckets (boilerplate docs) should be capped or salted.
  *  - Verification (true Jaccard / Hamming) runs only on candidate pairs.
  */
object Dedup {

  /** Exact dedup: one row per distinct `key`, keeping the smallest `idCol`
    * as the canonical representative. Map-side partial aggregation makes the
    * shuffle proportional to the number of *distinct* keys. */
  def exactDedup(df: DataFrame, key: String, idCol: String): DataFrame =
    df.groupBy(col(key))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup under [[TextOps.dedupKey]] — catches duplicates that
    * differ only in case/punctuation/whitespace (the standard pre-hash
    * normalization in CCNet-style pipelines); documents whose normalized
    * form is EMPTY (fully non-Latin/symbol text) group by their RAW text
    * instead, so they are never falsely collapsed (see
    * [[TextOps.dedupKey]] for the Latin-script scope contract). Returns
    * the input rows plus `keep` (is this row the group's canonical
    * representative, smallest id per key) and `n_copies` (group size).
    *
    * Shape: unbounded-frame window over the normalized key — ONE corpus
    * scan and ONE hash-partitioned shuffle. The groupBy-then-join-back
    * alternative reads the corpus twice and shuffles the distinct
    * normalized strings a second time (the group key IS the text), ~2×
    * the IO at any scale. Both window aggregates share the one exchange
    * (no ORDER BY ⇒ no sort-per-frame), and WindowExec's per-group
    * buffer is spillable, so a boilerplate mega-group degrades to disk
    * instead of OOM — the same skew lands on a single reducer under the
    * join formulation too, with more bytes in flight.
    *
    * KEY DEFINITION (unified round 14): ALL four normalized-dedup
    * variants — this one, the fingerprint form, and both per-group
    * forms — compute the key through the ONE compiled byte kernel
    * ([[TextOps.dedupKeyNative]]), so no pair of them can ever group
    * differently (the U+212A/U+0130 exact-vs-fingerprint divergence
    * class the r13 ADVICE scoped is gone by construction). The regex
    * formulation ([[TextOps.dedupKey]]) survives ONLY as the
    * transparent twin external-SQL oracles replay; it equals the native
    * kernel on ASCII and on every script whose lowercase stays
    * non-ASCII (FunctionsSpec pins both the equality and the one exotic
    * uppercase-maps-into-ASCII exception).
    *
    * Prefer [[exactDedupNormalizedByFingerprint]] at scale: same key,
    * but the shuffle carries 8 bytes instead of a second full copy of
    * the text. */
  def exactDedupNormalized(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    dedupByKey(df, "exactDedupNormalized",
      TextOps.dedupKeyNative(col(textCol)), idCol)

  /** The production variant of [[exactDedupNormalized]]: identical
    * semantics up to xxhash64 collisions (expected false merges
    * ≈ n²/2^65 — see [[TextOps.dedupFingerprint]] for the bound and the
    * CCNet precedent), but the one hash-partitioned shuffle carries an
    * 8-BYTE key where the exact form carries a second full copy of the
    * text — roughly HALVING dedup shuffle bytes on the engine's most
    * common operation. DedupSpec pins row-for-row equivalence with the
    * exact form on the q123 fixtures (mutant twins, empty-key and
    * non-Latin documents included). */
  def exactDedupNormalizedByFingerprint(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    dedupByKey(df, "exactDedupNormalizedByFingerprint",
      TextOps.dedupFingerprint(col(textCol)), idCol)

  /** Per-group normalized dedup — the multilingual composition the
    * [[TextOps.dedupKey]] scope contract prescribes: the ASCII
    * normalization is Latin-script-only, so a multilingual corpus
    * language-splits upstream ([[TextOps.langGuess]] or a provided
    * label) and dedups WITHIN language. The window partitions on
    * `(group, key)`, so identical texts in DIFFERENT groups never
    * collapse (a translation-pair corpus keeps both sides) while
    * within-group mutants still do. Same one-scan/one-shuffle shape as
    * [[exactDedupNormalized]] — and the same unified native key
    * definition; `byFingerprint = true` swaps in the 8-byte production
    * key ([[exactDedupNormalizedByFingerprint]]'s collision contract,
    * which the composite group key further tightens: collisions only
    * matter within one group). */
  def exactDedupNormalizedPerGroup(df: DataFrame, textCol: String,
      idCol: String, groupCol: String,
      byFingerprint: Boolean = false): DataFrame =
    dedupByKey(df, "exactDedupNormalizedPerGroup",
      if (byFingerprint) TextOps.dedupFingerprint(col(textCol))
      else TextOps.dedupKeyNative(col(textCol)),
      idCol, partitionCols = Seq(col(groupCol)))

  /** Shared keep-min-id + group-size window over an arbitrary key
    * expression (the one-shuffle shape documented on
    * [[exactDedupNormalized]]); `partitionCols` prepend extra window
    * keys (per-language/per-domain dedup). */
  private def dedupByKey(df: DataFrame, op: String, key: Column,
      idCol: String, partitionCols: Seq[Column] = Nil): DataFrame = {
    Sampling.requireFreshColumns(df, op, "keep", "n_copies", "__dedup_key")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols :+ col("__dedup_key"): _*)
    // keep ≡ id === min(id) OVER w, spelled null-safely: value-identical
    // on every input (null id ⇒ null keep, as ===; non-null id ⇒ the
    // window min is non-null, so <=> equals ===) but OPAQUE to
    // InferFiltersFromConstraints, which substitutes through plain
    // EqualTo only. With === a downstream filter(keep) on a corpus whose
    // columns are EXPRESSIONS of the id (q133's synthesized pages) gets
    // every upstream predicate re-derived onto min(id) — a
    // megabyte-scale inferred Filter re-running the whole URL chain per
    // row (measured: q133's post-window filter carried the full
    // urlpartsexpr/RLIKE tree twice and pushed 1.7 MB task binaries).
    df.withColumn("__dedup_key", key)
      .withColumn("keep", when(col(idCol).isNotNull,
        col(idCol) <=> min(col(idCol)).over(w)))
      .withColumn("n_copies", count(lit(1)).over(w))
      .drop("__dedup_key")
  }

  /** Duplicate-aware soft dedup: instead of DROPPING near-identical rows,
    * weight each row by the reciprocal of its duplicate-group size, so a
    * doc duplicated n times contributes total weight 1 — the "soft"
    * alternative published as SoftDeDup (duplicates carry signal; deleting
    * them discards it, down-weighting keeps it calibrated). Weights are
    * integer parts-per-million (`ppm / n_copies`, exact integer division)
    * so downstream sums are deterministic across engines and partition
    * orders — no float accumulation. Group key = [[TextOps.dedupKey]]
    * (normalized text, raw-text fallback for empty keys). Set
    * `byFingerprint = true` for the production 8-byte-key shuffle
    * ([[exactDedupNormalizedByFingerprint]] — same collision contract). */
  def duplicateWeights(df: DataFrame, textCol: String, idCol: String,
      ppm: Long = 1000000L, byFingerprint: Boolean = false): DataFrame = {
    Sampling.requireFreshColumns(df, "duplicateWeights", "weight_ppm")
    val marked =
      if (byFingerprint) exactDedupNormalizedByFingerprint(df, textCol, idCol)
      else exactDedupNormalized(df, textCol, idCol)
    // double division then truncate == integer division here: the
    // quotient's distance from the next integer is ≥ 1/n_copies, far
    // above double rounding error at ppm ≤ 2^52 scales
    marked.withColumn("weight_ppm", (lit(ppm) / col("n_copies")).cast("long"))
  }

  /** MinHash signature from a pre-hashed shingle array
    * ([[TextOps.hashedShingles]]): `numHashes` affine permutations
    * h_i(x) = (a_i·x + b_i) mod 2^31-1, minimized in a SINGLE pass with an
    * array accumulator — one traversal of the shingles total, all integer
    * arithmetic, ANSI-overflow-safe (products < 2^62). */
  def minhashSignature(hashedShingles: Column, numHashes: Int): Column = {
    val p = 2147483647L
    val aConsts = array((0 until numHashes).map(i => lit((1103515245L + 2L * i) % p)): _*)
    val bConsts = array((0 until numHashes).map(i => lit(12345L + i)): _*)
    aggregate(hashedShingles, array_repeat(lit(p), numHashes),
      (acc, h) => zip_with(acc,
        zip_with(aConsts, bConsts, (a, b) => pmod(h * a + b, lit(p))),
        (cur, cand) => least(cur, cand)))
  }

  /** LSH band keys from a minhash signature: splits the signature into
    * `bands` bands of `rowsPerBand` and hashes each band. Two documents
    * share a band key with probability ≈ 1-(1-j^r)^b for Jaccard j. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }: _*)

  /** Candidate near-dup pairs via MinHash + LSH banding over `textCol`.
    * Returns (id_a, id_b, jaccard_sim) with id_a < id_b, where jaccard_sim
    * is the *signature* agreement ratio (an unbiased Jaccard estimate).
    *
    * The self-join is on (band, bucket) — at scale this is the only
    * shuffle, and `distinct` on (id_a, id_b) dedups pairs found in
    * multiple bands before the verify step.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 32, bands: Int = 4,
      minSim: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    val rowsPerBand = numHashes / bands
    // signatures via the native codegen'd expression — FunctionsSpec pins
    // it equal to the composed HOF formulation
    // minhashSignature(TextOps.hashedShingles(...)), which walks
    // interpreted lambdas per token × per hash and exists as the spec
    // persisted via OpCaches (lifetime contract documented there): the
    // signature table is referenced three times below (bucket derivation +
    // both sides of the pair join); without caching the 32-hash minhash
    // computation would run once per reference
    val sigs = OpCaches.persist(df.select(
      col(idCol).as("doc_id"),
      graft.functions.NativeFunctions
        .graft_minhash(col(textCol), shingleLen, numHashes).as("sig")))
    val buckets = sigs
      .withColumn("bk", explode(lshBandKeys(col("sig"), bands, rowsPerBand)))
      .select(col("bk"), col("doc_id"))
    // Skew guard: a bucket of size s contributes s² candidate pairs. Giant
    // buckets (boilerplate / tiny-vocab corpora) are non-discriminative —
    // drop them; discrimination should come from more rows per band, not
    // from verifying millions of low-quality candidates. This is the LSH
    // equivalent of AQE's skew-join handling, applied semantically.
    val okBuckets = buckets.groupBy("bk")
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > 1 && col("bsize") <= maxBucket)
      .select("bk")
    val pruned = buckets.join(okBuckets, Seq("bk"))
    // Candidate ids first (small rows), distinct, THEN attach signatures
    // once per pair — the bucket join never carries the signature arrays.
    val pairs = pruned.select(col("bk"), col("doc_id").as("id_a"))
      .join(pruned.select(col("bk"), col("doc_id").as("id_b")), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minSim)
  }

  /** 60-bit SimHash of a token array: per-bit weighted sum of token hashes,
    * sign-compressed. 60 bits so the positional reconstruction `acc*2+bit`
    * never overflows a signed long under ANSI arithmetic. */
  def simhash(tokensCol: Column, bits: Int = 60): Column = {
    require(bits <= 60, "bits > 60 would overflow the long reconstruction")
    val counters = aggregate(
      tokensCol,
      array_repeat(lit(0L), bits),
      (acc, t) => zip_with(acc,
        array((0 until bits).map { i =>
          when(shiftright(xxhash64(t), i).bitwiseAND(lit(1L)) === 1, lit(1L))
            .otherwise(lit(-1L))
        }: _*),
        (a, b) => a + b))
    // compress sign vector to a long, MSB-first
    aggregate(reverse(counters), lit(0L),
      (acc, c) => acc * 2 + when(c > 0, lit(1L)).otherwise(lit(0L)))
  }

  /** Hamming near-dup pairs over a PACKED-LONG hash column ([[simhash]],
    * [[graft.ops.Multimodal.withImageDHash]]'s perceptual image hash):
    * pigeonhole-banded LSH, never all-pairs. The `bits` hash is split
    * into `bands` contiguous bit ranges; candidates equi-join on (band,
    * band-value) and verification is one codegen `bit_count(a XOR b)`
    * per candidate.
    *
    * RECALL GUARANTEE (the reason `bands > maxDist` is required): two
    * hashes within Hamming distance `maxDist` differ in at most
    * `maxDist` bits, which can dirty at most `maxDist` of the `bands`
    * ranges — at least one band is IDENTICAL and the pair collides
    * there. Zero recall loss, unconditionally; contrast with the
    * probabilistic recall of MinHash banding.
    *
    * Skew guard: a band bucket of size s fans out s² candidates (blank
    * images / boilerplate text all share hashes) — buckets larger than
    * `maxBucket` are dropped LOUDLY against the guarantee? No: dropping
    * would silently lose recall, so over-full buckets FAIL the job with
    * the bucket key instead; raise `maxBucket` deliberately or
    * pre-dedup exact-equal hashes (identical payloads should collapse
    * via exact dedup BEFORE a near-dup pass — the documented recipe
    * order). Returns (id_a, id_b, hamming), id_a < id_b, one row per
    * pair regardless of how many bands collide. */
  def hammingNearDupPairs(df: DataFrame, idCol: String, hashCol: String,
      bits: Int = 63, bands: Int = 7, maxDist: Int = 3,
      maxBucket: Int = 1 << 16): DataFrame = {
    val bandKeys = hammingBandKeys(col("h"), bits, bands, maxDist)
    // persisted: the guard job and both join sides reference it — the
    // upstream hash column may be an expensive decode (the dHash path)
    // that must run ONCE per row, not three times
    // persisted PRE-PARTITIONED on the band key (r14, the
    // minShingleJaccardPairs pattern): the guard groupBy and both
    // self-join sides are bk-keyed — one exchange into the cache
    // replaces their per-consumer ones, and join parallelism follows
    // the cache layout instead of the upstream (often single-task
    // decode) scan
    // loud fail on over-full buckets (see scaladoc) — folded INTO the
    // persisted subtree as a window count + raise_error filter (r15;
    // the Incremental.bucketGuarded pattern): the old eager
    // groupBy/limit/collect guard was one driver round-trip job per
    // call. The window reuses the repartition(bk) exchange (same key,
    // same partition count), so the guard costs a local sort and no
    // extra shuffle; any over-full bucket still fails the run, now when
    // the pair join (or the caller's first action) materializes the
    // banded table instead of at operator call time.
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("bk")
    val banded = OpCaches.persist(df
      .select(col(idCol).cast("long").as("id"), col(hashCol).as("h"))
      .filter(col("h").isNotNull)
      .select(col("id"), col("h"), explode(array(bandKeys: _*)).as("bk"))
      .repartition(col("bk"))
      .withColumn("__bsize", count(lit(1)).over(wb))
      .filter(when(col("__bsize") <= maxBucket, lit(true))
        .otherwise(raise_error(concat(
          lit("hammingNearDupPairs: band bucket "),
          col("bk").cast("string"), lit(" holds "), col("__bsize"),
          lit(s" rows (> maxBucket=$maxBucket) — s² candidate blowup; " +
            "exact-dedup identical hashes first, or raise maxBucket " +
            "with cluster memory")))))
      .drop("__bsize"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** The (band, band-value) key structs behind [[hammingNearDupPairs]]
    * (and the cross-run within-distance image state,
    * [[graft.ops.Incremental.dropSeenImagesWithinDist]] — the two MUST
    * band identically or the state join silently loses the pigeonhole
    * guarantee). Bits are split into `bands` contiguous ranges of width
    * `⌈bits/bands⌉` or `⌊bits/bands⌋` — EVENLY distributed, never the
    * naive uniform-ceil split whose trailing bands go EMPTY whenever
    * `(bands−1)·⌈bits/bands⌉ ≥ bits` (bits=15/bands=7 — the audio
    * default — put width 0 and NEGATIVE-shift wrap in bands 5–6, so
    * every row collided in one universal bucket: ADVICE r13 #1). Every
    * band has width ≥ 1 for any `bands ≤ bits`, keeping the pigeonhole
    * recall proof unconditional. */
  private[graft] def hammingBandKeys(h: Column, bits: Int, bands: Int,
      maxDist: Int): Seq[Column] = {
    require(bits >= 1 && bits <= 63, "bits must be in [1, 63]")
    require(bands >= 1 && bands <= bits, "bands must be in [1, bits]")
    require(maxDist >= 0 && bands > maxDist,
      "bands must exceed maxDist — the pigeonhole recall guarantee")
    val base = bits / bands
    val rem = bits % bands
    val offsets = (0 until bands).scanLeft(0) { (off, b) =>
      off + base + (if (b < rem) 1 else 0)
    }
    (0 until bands).map { b =>
      val bw = base + (if (b < rem) 1 else 0)
      struct(lit(b).as("band"),
        shiftright(h, offsets(b)).bitwiseAND(lit((1L << bw) - 1)).as("bv"))
    }
  }

  /** Exact n-gram Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** N-gram-Jaccard near-dup pairs: candidates from MinHash LSH, then exact
    * Jaccard verification on the candidate pairs only. Verification runs on
    * the PRE-HASHED shingle sets (long arrays, [[TextOps.hashedShingles]]):
    * set intersection over longs instead of strings — same Jaccard up to
    * negligible 31-bit hash collisions, a fraction of the compare cost, and
    * the shuffle carries 8-byte elements instead of shingle text. */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val cands = minhashNearDups(df, idCol, textCol, shingleLen, minSim = 0.3)
    // persisted via OpCaches: referenced by both sides of the pair join
    val sh = OpCaches.persist(df.select(col(idCol),
      array_distinct(TextOps.hashedShingles(col(textCol), shingleLen)).as("sh")))
    cands
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct word n-gram shingles with any document of an
    * evaluation set. Returns `(train_id, eval_id, n_shared)`.
    *
    * Scale design: both sides explode to (id, shingle) pairs and meet in
    * an equi-join on the shingle — but the EVAL side (benchmarks are
    * thousands of documents, not billions) is broadcast, so the train
    * corpus streams through a map-side join: no shuffle of the 100 TB
    * side at all. For a large eval set, swap the broadcast for a shuffle
    * join on 31-bit hashed shingles ([[TextOps.hashedShingles]]) and drop
    * ubiquitous boilerplate shingles first (the frequent-shingle skew cap,
    * same reasoning as the LSH bucket cap). */
  def contaminationPairs(train: DataFrame, trainId: String,
      evalDf: DataFrame, evalId: String, textCol: String,
      shingleLen: Int = 3, minShared: Long = 5L): DataFrame = {
    def shingled(df: DataFrame, idCol: String, as: String) =
      df.select(col(idCol).as(as),
        explode(array_distinct(graft.functions.NativeFunctions
          .graft_word_shingles(col(textCol), shingleLen))).as("sh"))
    shingled(train, trainId, "train_id")
      .join(broadcast(shingled(evalDf, evalId, "eval_id")), Seq("sh"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Graded decontamination report — [[contaminationPairs]]' scoring twin:
    * for every training document, the fraction of its DISTINCT word
    * n-gram shingles that appear anywhere in the evaluation set,
    * `overlap_bp = ⌊10000 · |S_doc ∩ S_eval| / |S_doc|⌋` (basis points,
    * all-integer). Pair listings answer "which docs touch the benchmark";
    * this answers "HOW contaminated is each doc" — the threshold knob a
    * curation pipeline actually tunes (drop ≥ X bp, keep the tail).
    *
    * Scale design: shingles travel as engine-independent Rabin-Karp
    * fingerprints ([[TextOps.fingerprint]] per shingle — 8-byte keys,
    * never shingle strings); the eval fingerprint set distinct-collapses
    * before a broadcast left-join (no shuffle of the training corpus, and
    * zero-overlap docs keep their row); the per-doc tally partial-aggs to
    * (id, 2 longs). Integer `div` basis points replay exactly in external
    * SQL — no float division on either side. */
  def overlapScore(train: DataFrame, trainId: String, evalDf: DataFrame,
      textCol: String, shingleLen: Int = 3): DataFrame = {
    // native codegen'd shingle fingerprints (== the HOF composition
    // array_distinct(transform(wordShingles, fingerprint)), pinned by
    // FunctionsSpec; the interpreted per-character fold dominated q94)
    def fps(df: DataFrame, keep: Seq[Column]) =
      df.select(keep :+ explode(graft.functions.NativeFunctions
        .graft_shingle_fps(col(textCol), shingleLen)).as("fp"): _*)
    val evalFps = fps(evalDf, Nil).distinct()
    fps(train, Seq(col(trainId)))
      .join(broadcast(evalFps.withColumn("hit", lit(1L))), Seq("fp"), "left")
      .groupBy(trainId)
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .withColumn("overlap_bp",
        expr("n_hits * 10000 div n_shingles"))
  }

  /** SUBSTRING-level contamination detection via winnowing fingerprints —
    * the tokenization-robust sibling of [[contaminationPairs]]: word
    * n-gram shingles miss an eval passage that was re-wrapped, partially
    * quoted, or merged into surrounding prose, while the winnowing
    * guarantee (Schleimer et al., SIGMOD 2003 — see
    * [[TextOps.winnow]]/[[graft.functions.WinnowExpr]]) promises that ANY
    * shared character substring of length ≥ w+k−1 yields at least one
    * shared selected fingerprint, at ~2/(w+1) of the k-gram density.
    * Returns `(train_id, eval_id, n_shared)` for pairs sharing ≥
    * `minShared` selected fingerprints.
    *
    * Scale shape (the [[contaminationPairs]] contract): both sides
    * explode to (id, fingerprint) — already distinct per document, the
    * winnow expression emits a sorted distinct set — and the EVAL side
    * (benchmark-sized) distinct-collapses then broadcasts, so the
    * training corpus streams through a map-side join: no shuffle of the
    * 100 TB side. Fingerprint density per doc is ~2L/(w+1) longs, ~4×
    * sparser than the full shingle set the word-level detector carries.
    *
    * SELECTIVITY NOTE: this is the PARANOID detector — any shared
    * ≥ w+k−1-char substring counts, so corpora with low character
    * diversity (templated/synthetic text, heavy boilerplate) light up
    * broadly (on the synthetic testdata, cross-doc pairs reach the same
    * shared-fingerprint counts as true containment). Production recipes
    * put the selective word-shingle detector ([[contaminationPairs]])
    * in the drop path and use this one to AUDIT what word shingles
    * missed; raise `minShared` / `w` to trade recall for precision. */
  def winnowContaminationPairs(train: DataFrame, trainId: String,
      evalDf: DataFrame, evalId: String, textCol: String,
      k: Int = 5, w: Int = 8, minShared: Long = 3L): DataFrame = {
    def fps(df: DataFrame, idCol: String, as: String) =
      df.select(col(idCol).as(as),
        explode(graft.functions.NativeFunctions
          .graft_winnow(col(textCol), k, w)).as("wfp"))
    fps(train, trainId, "train_id")
      .join(broadcast(fps(evalDf, evalId, "eval_id")), Seq("wfp"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over a near-dup pair list: groups transitive
    * duplicate chains (A~B, B~C ⇒ {A,B,C}) and returns one row per member
    * with its component's canonical (minimum) id. Dropping `id_b` of every
    * pair — the naive alternative — over-deletes on chains (B and C both
    * lose even though B was C's only witness) and under-merges across
    * bands; keep-one-per-COMPONENT is the production near-dup contract.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — see
    * [[connectedComponentsStar]]. Rounds are O(log² n) in the WORST case
    * and do not scale with component diameter, unlike plain min-label
    * propagation ([[connectedComponentsLabelProp]], kept as the
    * diameter-bounded reference implementation the OpsSpec chain test
    * contrasts): a 1000-link chain converges in a handful of star rounds
    * where label propagation needs 1000.
    *
    * EXECUTION NOTE: unlike the other operators (lazy plans), this one
    * runs Spark jobs EAGERLY at call time — iterative convergence cannot
    * be expressed as one lazy plan. Each round's edges are
    * localCheckpoint()ed; superseded rounds release their blocks
    * deterministically ([[Iterative.checkpointWithMetrics]]). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 15): DataFrame =
    connectedComponentsStar(pairs, maxIter)

  /** Alternating-star connected components. Each round applies:
    *
    *  - LARGE-STAR: every node u attaches its strictly-LARGER neighbors
    *    to m = min(Γ(u) ∪ {u});
    *  - SMALL-STAR: on the (child > parent)-oriented result, every node u
    *    attaches its smaller neighbors AND itself to m = min(Γ⁻(u) ∪ {u}).
    *
    * Both steps preserve connectivity and only ever re-attach nodes to
    * SMALLER ids, so the edge set converges to rooted stars whose root is
    * each component's minimum — the canonical label — in O(log² n) rounds
    * regardless of diameter (each star step roughly halves the depth of
    * the hanging trees, the pointer-doubling effect).
    *
    * Scale shape, per star step: one groupBy(min) + one equi-join on the
    * node key + distinct — all shuffles ∝ current edge count, and the
    * whole step materializes as ONE checkpoint job whose convergence
    * metrics (edge count + an exact decimal sum of per-edge xxhash64)
    * ride as observed metrics, the [[Iterative]] idiom. Fixpoint =
    * count AND hash-sum unchanged across a full round; a 64-bit-per-edge
    * exact-decimal collision across the pair is not a realistic event.
    * `maxIter` bounds the ROUND count (not the diameter); the method
    * refuses to return unconverged labels. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    import org.apache.spark.sql.DataFrame
    val p = OpCaches.persist(pairs.select(col("id_a"), col("id_b")))
    var roundId = 0
    def ck(df: DataFrame, prev: Option[DataFrame])
        : (DataFrame, Long, java.math.BigDecimal) = {
      val name = s"ccstar_round_$roundId"; roundId += 1
      val (c, m) = Iterative.checkpointWithMetrics(df, name, Seq(
        count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("hsum")), prev)
      (c, m.getLong(0), Option(m.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    val oriented = p.filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct()
    // LOCAL CONTRACTION (Kiveris et al. §local optimizations): collapse
    // each partition's edge set to rooted stars (node → partition-local
    // component min) with an in-memory union-find BEFORE the first star
    // round. Rides the initial checkpoint job — a narrow pass after the
    // distinct's exchange, no extra job, never more output edges than
    // input. Connectivity is preserved exactly (within a partition every
    // node stays attached to its local root; shared node ids link
    // components across partitions) and the star fixpoint labels every
    // node with its component MINIMUM regardless of input shape, so the
    // result is bit-identical — what shrinks is the round-1 shuffle
    // (locally-redundant edges are gone) and the hanging-tree depth the
    // rounds must halve. Long ids only (the LSH/near-dup callers); any
    // other id type keeps the uncontracted path unchanged. Per-partition
    // state is O(nodes in that partition) — bounded by the distinct's
    // shuffle partition sizing, the same contract as
    // [[connectedComponentsWithinGroups]]'s per-group state.
    val isLongIds = oriented.schema.fields
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    var (edges, cnt, hsum) = ck(
      if (isLongIds) ccLocalContract(oriented) else oriented, None)
    var iter = 0
    var converged = cnt == 0L
    // Round shape measured r15, kept at TWO checkpoint jobs per round:
    // fusing large+small star into one checkpoint job was tried both
    // ways and LOST same-window (q65 2.1 → 2.9 s recomputing the
    // large-star subtree for small-star's two references; → 3.8 s
    // persisting it mid-job — BlockManager puts cost more than the
    // saved driver round-trip). The checkpointed intermediate is what
    // keeps per-round work linear in the edge count.
    while (iter < maxIter && !converged) {
      val (e1, _, _) = ck(ccLargeStar(edges), Some(edges))
      val (e2, c2, h2) = ck(ccSmallStar(e1), Some(e1))
      converged = c2 == cnt && h2.compareTo(hsum) == 0
      cnt = c2; hsum = h2
      edges = e2
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "pathological input; raise maxIter (rounds grow with log² nodes, " +
        "not diameter)")
    // at fixpoint the edges are rooted stars: children carry their root,
    // roots (parents) label themselves. Lazy projection over the final
    // checkpoint — no extra job; the last round's blocks back the result.
    edges.select(col("u").as("id"), col("v").as("component"))
      .unionByName(
        edges.select(col("v").as("id"), col("v").as("component")).distinct())
  }

  /** Connected components when every edge is CONFINED to a disjoint
    * group — pairs produced by an equi-join on a bucketing key (IVF
    * cell, LSH bucket) have this shape by construction: both endpoints
    * share the key, so no component can span groups. That collapses the
    * iterative distributed problem to ONE shuffle of the edges on the
    * group key plus a local union-find per group — a single Spark job,
    * versus O(log²) eager checkpoint rounds of
    * [[connectedComponentsStar]] whose per-round scheduling latency
    * dominates on bounded-cell inputs (the q104 floor).
    *
    * Labels match [[connectedComponentsStar]] exactly: every node maps
    * to its component's MINIMUM id (union-by-min + path compression
    * makes the root the min regardless of edge order, so output is
    * deterministic under any partitioning).
    *
    * Scale contract: per-group state is O(nodes + edges in that group).
    * Groups are bounded by the caller's bucket cap (SemDeDup's
    * `maxCell`, LSH `maxBucket`) and `maxEdgesPerGroup` fails LOUDLY
    * rather than letting one degenerate bucket OOM an executor — the
    * escape for genuinely unbounded groups is the iterative
    * [[connectedComponentsStar]]. */
  def connectedComponentsWithinGroups(pairs: DataFrame, groupCol: String,
      maxEdgesPerGroup: Long = 10000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      // self-pairs carry no connectivity; dropping them up front keeps
      // the emitted node set identical to connectedComponentsStar's
      .filter(col("id_a") =!= col("id_b"))
      .select(col(groupCol).cast("long"),
        col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        var nEdges = 0L
        minRootComponents(it.map { case (_, a, b) =>
          nEdges += 1
          require(nEdges <= maxEdgesPerGroup,
            s"connectedComponentsWithinGroups: group $g exceeds " +
              s"$maxEdgesPerGroup edges — cap the bucket upstream or use " +
              "connectedComponentsStar")
          (a, b)
        })
      }
      .toDF("id", "component")
  }

  /** In-memory union-find over long-id edges, union by MIN root with path
    * compression, so every root is its component's minimum id whatever
    * the edge order. Returns (id, root) for every id an edge touched. */
  private def minRootComponents(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression: point the walked chain at the root
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
      parent.getOrElseUpdate(ra.min(rb), ra.min(rb))
    }
    // materialize the key set BEFORE the final find() pass: path
    // compression mutates the map while we walk it
    parent.keys.toArray.iterator.map(id => (id, find(id)))
  }

  /** One LARGE-STAR step over (u, v) edges (input treated as symmetric;
    * output oriented child > parent). Object-level so
    * [[graft.tools.PlanAudit]] can tabulate the per-round plan shape the
    * eager loop otherwise hides. */
  private[graft] def ccLargeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u")
      .agg(least(min(col("v")), col("u")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Per-partition union-find contraction over oriented distinct (u > v)
    * long-id edges: emits one (node → partition-local component minimum)
    * edge per non-root node, nothing for roots (each root still appears
    * as the `v` of its children — every local component has ≥ 2 nodes,
    * so no node is lost). Output keeps the u > v orientation (roots are
    * local minima) and is distinct within each partition (one row per
    * node); cross-partition duplicates are possible and harmless: a node
    * seen in several partitions emits a row in each, the star steps end
    * in `distinct()`, and only the first checkpoint's count and hash sum
    * measure the multiset.
    * Same [[minRootComponents]] core as
    * [[connectedComponentsWithinGroups]], applied per PARTITION instead
    * of per group key — it needs no grouping shuffle because it only
    * claims LOCAL minima; the star rounds finish the global merge. */
  private[graft] def ccLocalContract(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)].mapPartitions { it =>
      minRootComponents(it).filter { case (id, root) => id != root }
    }.toDF("u", "v")
  }

  /** One SMALL-STAR step over (child > parent)-oriented edges. */
  private[graft] def ccSmallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v")) // every smaller neighbor → m
      .unionByName(mins.select(col("u"), col("m").as("v"))) // u itself → m
      .filter(col("u") =!= col("v")) // drop the (m, m) self-loop
      .distinct()
  }

  /** Min-label propagation — the diameter-bounded reference formulation
    * (rounds = component diameter + 1; [[connectedComponentsStar]] is the
    * default). Every node starts as its own label; each round joins
    * labels across edges and keeps the minimum seen, ONE Spark job per
    * round (the convergence sum rides the checkpoint job as an observed
    * metric). `maxIter` bounds the supported component DIAMETER and the
    * method REFUSES to return unconverged labels. */
  def connectedComponentsLabelProp(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    import org.apache.spark.sql.DataFrame
    // persist the INPUT first: `pairs` is typically an expensive LSH plan
    // and is referenced once per direction of the edge union. The edge
    // list and every iteration's labels are localCheckpoint()ed — an
    // iterative algorithm that merely caches grows its logical plan by
    // one join per round, and analysis/optimization time (and any cache
    // miss) grows with it; truncating lineage keeps every round O(1)
    // planning, the standard Spark idiom for iterative graph algorithms.
    val p = OpCaches.persist(pairs.select(col("id_a"), col("id_b")))
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // Convergence signal: per-node labels are monotonically non-increasing
    // (min over a set containing the own label), so the label SUM strictly
    // decreases until fixpoint. Decimal sum: exact and overflow-free at
    // any id scale.
    //
    // ONE Spark job per round, not two: the sum (and row count) is
    // OBSERVED — a CollectMetrics node whose accumulators fill during the
    // checkpoint's own materialization job — instead of re-scanned as a
    // second aggregate job. The wall clock of this operator on real
    // clusters (and loaded driver machines) is dominated by per-job
    // scheduling latency, not by the tiny label shuffles, so job count is
    // the lever that makes single-shot timings robust.
    var roundId = 0
    def checkpointWithSum(df: DataFrame, prev: Option[DataFrame])
        : (DataFrame, java.math.BigDecimal, Long) = {
      val name = s"cc_round_$roundId"; roundId += 1
      val (ck, m) = Iterative.checkpointWithMetrics(df, name, Seq(
        sum(col("component").cast("decimal(38,0)")).as("label_sum"),
        count(lit(1)).as("n")), prev)
      (ck, Option(m.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO), m.getLong(1))
    }
    var (labels, prevSum, n0) = checkpointWithSum(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")), None)
    var iter = 0
    var converged = n0 == 0L // no edges → done
    // maxIter + 1: a diameter-D graph needs D label-changing rounds plus
    // ONE no-change round for the sum-based detection — maxIter bounds the
    // supported diameter, not the raw loop count
    while (iter < maxIter + 1 && !converged) {
      // min over: own label, and every neighbor's label
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("component"))
      // the new checkpoint supersedes the old labels — release those
      // blocks now rather than waiting for the ContextCleaner (edges is
      // loop-invariant and stays)
      val (next, s, _) = checkpointWithSum(
        labels.unionByName(viaEdges)
          .groupBy("id").agg(min(col("component")).as("component")),
        Some(labels))
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    Iterative.release(edges) // nothing reads the edge list after the loop
    // Refuse to return silently-wrong labels: if the last round still
    // changed something, the graph diameter exceeds maxIter and several
    // nodes carry non-minimal components — raise maxIter for such graphs
    // (near-dup clusters have tiny diameters; long chains are pathological).
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — component " +
        "diameter exceeds maxIter; raise it for long-chain graphs")
    labels
  }

  /** Near-dup removal keeping ONE document per connected component of the
    * detected pair graph: returns the ids to DROP (every member except
    * the component minimum). Compose with a left_anti join. */
  def nearDupLosers(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id"))

  /** Exact n-gram Jaccard pairs with SINGLE-permutation MinHash bucketing:
    * candidates are documents agreeing on their lexicographic minimum
    * shingle (= MinHash with one permutation, the identity ordering), then
    * exact Jaccard verification over the distinct STRING shingles.
    *
    * This is the fully SQL-expressible sibling of
    * [[ngramJaccardNearDups]]: the bucketing (`min(shingles)`), the verify
    * (`|A∩B| / |A∪B|`) and the threshold all reproduce exactly in any
    * engine with list functions — it carries shingle strings through the
    * join instead of pre-hashed longs, so at 100 TB prefer the multi-band
    * hashed variant; this one exists for cross-engine-verifiable exact
    * semantics (and as the "verify" stage spec the hashed path must match
    * up to 31-bit collisions).
    *
    * Plan shape: one groupBy profile on the min-shingle bucket + one
    * equi-join shuffle on it — same skeleton as the banded LSH path. */
  def minShingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minJaccard: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // native codegen'd shingling (FunctionsSpec pins it == the composed
    // TextOps.wordShingles HOF, which evaluates interpreted and ~10× slower)
    val shingles = graft.functions.NativeFunctions
      .graft_word_shingles(col(textCol), shingleLen)
    // persisted PRE-PARTITIONED on the bucket key (r14): every consumer
    // below is bucket-keyed — the guard groupBy and BOTH self-join sides
    // reuse the cached hash partitioning instead of re-exchanging, and
    // the verify stage's parallelism comes from the cache layout rather
    // than the (possibly single-task) scan. One shuffle of the shingle
    // table, paid once, replacing the per-consumer ones — the guide's
    // "share one exchange across keyed operations" shape.
    val sh = OpCaches.persist(df.select(
      col(idCol).as("doc_id"),
      array_distinct(shingles).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .withColumn("bucket", array_min(col("sh")))
      .repartition(col("bucket")))
    // Skew guard, same reasoning as minhashNearDups: a degenerate min
    // shingle (boilerplate openings) would otherwise contribute s² pairs.
    // Fully SQL-expressible (HAVING COUNT(*) BETWEEN 2 AND maxBucket), so
    // an oracle can replay the cap exactly.
    val okBuckets = sh.groupBy("bucket")
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > 1 && col("bsize") <= maxBucket)
      .select("bucket")
    val pruned = sh.join(okBuckets, Seq("bucket"))
    // per-pair cost: ONE array_intersect; |A∪B| = |A|+|B|-|A∩B| from the
    // precomputed set sizes (array_union would build the union array just
    // to measure it — twice the set-op work for the same integer).
    // Size-ratio prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs
    // whose set sizes are too lopsided can never reach the threshold —
    // the cheap integer conjunct short-circuits before the intersect is
    // built. Purely a skip of provably-below-threshold pairs: the result
    // set (and the SQL oracle) is unchanged.
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val sizesAdmit =
      least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")).cast("double") * minJaccard
    pruned.select(col("bucket"), col("doc_id").as("id_a"),
        col("sh").as("sh_a"), col("n_sh").as("n_a"))
      .join(pruned.select(col("bucket"), col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("n_sh").as("n_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b") && sizesAdmit)
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") / (col("n_a") + col("n_b") - inter).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** CCNet-style LINE-level dedup: documents are split into lines, each
    * distinct line keeps its single FIRST occurrence corpus-wide (CCNet
    * drops ~70% of Common Crawl by paragraph hash before any document
    * ever compares to another), and every document is reassembled from
    * its surviving lines. Units here are fixed `spanTokens`-token spans —
    * the corpus carries no newlines, and a fixed span is the same shape
    * at any granularity (paragraph/sentence splitting is just a different
    * splitter in front of the same pipeline).
    *
    * Scale design: the dedup shuffle carries (fingerprint, ord) — 16
    * bytes per line, NEVER the line text (lines group on the
    * engine-independent rolling-hash fingerprint, the q46/q86 idiom, so
    * a DuckDB oracle replays winner selection exactly, collisions and
    * all). Only the reassembly join and final per-doc groupBy touch span
    * text, and those are proportional to the OUTPUT corpus. Winner order
    * is first-seen-wins on ord = doc_id·10^6 + line_idx (line index
    * bounded by 10^6 — a guard enforces it).
    *
    * Returns one row per input document: `doc_id`, `n_lines`, `n_kept`,
    * and `new_md5` (md5 of the space-joined surviving lines; empty string
    * when every line was claimed elsewhere). */
  def lineDedupBySpan(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be positive, got $spanTokens")
    val toks = split(trim(col(textCol)), "\\s+")
    val nSpans = ceil(size(toks).cast("double") / spanTokens).cast("int")
    val spanArr = transform(sequence(lit(0), nSpans - 1),
      i => concat_ws(" ", slice(toks, i * spanTokens + 1, lit(spanTokens))))
    val spans = OpCaches.persist(df
      .select(col(idCol).cast("long").as("doc_id"), spanArr.as("sp"))
      .select(col("doc_id"), posexplode(col("sp")).as(Seq("line_idx", "line")))
      .withColumn("f", graft.functions.NativeFunctions.graft_fingerprint(col("line")))
      .withColumn("ord", when(col("line_idx") < 1000000,
        col("doc_id") * 1000000L + col("line_idx"))
        .otherwise(raise_error(concat(lit("lineDedupBySpan: doc "),
          col("doc_id"), lit(" exceeds 10^6 lines — widen the ord base"))))))
    // first-seen-wins per distinct line: shuffle ∝ distinct fingerprints,
    // payload is two longs
    val keep = spans.groupBy("f").agg(min(col("ord")).as("keep_ord"))
    // ONE per-doc aggregate (r15): the previous shape aggregated the
    // kept rows and the raw span counts separately and left-joined the
    // two — a third cache consumer, a second doc_id exchange and a join
    // for numbers one conditional aggregate produces. Kept rows are
    // flagged in place (collect_list drops the null branch, so the
    // rebuilt text sees exactly the kept spans; a doc with zero kept
    // lines yields the empty list → concat_ws "" → md5("") — the old
    // left-join-miss semantics, bit for bit).
    val isKept = col("ord") === col("keep_ord")
    spans.join(keep, Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(isKept, 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(isKept,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")))).as("new_md5"))
  }
}
