package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation recipe — the composition a training-data
  * pipeline actually runs, built from this library's operators:
  *
  *   1. language filter ([[TextOps.langGuess]] against an allow-list),
  *   2. quality floor ([[TextOps.qualityScore]]),
  *   3. exact dedup ([[Dedup.exactDedup]] — keep the smallest id per text),
  *   4. optionally near-dup removal ([[Dedup.minhashNearDups]] pairs →
  *      [[Dedup.connectedComponents]] — keep the smallest id of each
  *      transitive duplicate cluster).
  *
  * Stages 1–3 fuse into ONE Catalyst plan: the filters are per-row
  * expressions over the scan, and the dedup is a keep-min-id WINDOW over
  * the text key riding a single hash-partitioned shuffle (one corpus
  * scan, one evaluation of the regex-heavy filters — see the note inside
  * [[curate]]); stage 4 adds the banded-LSH shuffle only when enabled.
  * At 100 TB the expensive decision — whether to run near-dup removal —
  * is an explicit flag, not a default.
  */
object Curation {

  /** The domain-keyed mixture ops collect `(domain: String, n)` rows and
    * replay thresholds keyed by the string value; a non-string domain
    * column would ClassCastException deep in the collect (or worse,
    * coerce differently than the external SQL replay) — fail at entry
    * with the fix instead. */
  private def requireStringDomain(docs: DataFrame, domainCol: String,
      caller: String): Unit =
    require(docs.schema(domainCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"$caller: domain column '$domainCol' must be StringType " +
        s"(got ${docs.schema(domainCol).dataType.simpleString}) — cast it " +
        "upstream so threshold keys match an external SQL replay")

  /** Surviving documents after the curation recipe. Keeps the input
    * columns. `nearDup = true` additionally removes LSH near-duplicates,
    * keeping ONE document (the minimum id) per connected component of the
    * pair graph — note that this path runs Spark jobs EAGERLY at call
    * time (the component computation is iterative, see
    * [[Dedup.connectedComponents]]); with `nearDup = false` the result is
    * a single lazy plan. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      allowedLangs: Seq[String], minQuality: Int,
      nearDup: Boolean = false, nearDupMinSim: Double = 0.8): DataFrame = {
    Sampling.requireFreshColumns(docs, "Curation.curate", "__keep")
    val filtered = docs
      .filter(TextOps.langGuess(col(textCol)).isInCollection(allowedLangs))
      .filter(TextOps.qualityScore(col(textCol)) >= minQuality)
    // keep-min-id per text as a WINDOW over the filtered rows — ONE scan,
    // ONE evaluation of the regex-heavy filters, ONE hash-keyed shuffle.
    // The previous exactDedup + left-semi shape computed `filtered` twice
    // (both the dedup agg and the join probe side re-ran the filters over
    // a second corpus scan) and shuffled three times (text-keyed agg,
    // full rows by id, keep-ids by id). Measured on the 5M recipe drill's
    // dominant stage: 213.5 → 174.9s (source generation + persist bound
    // the rest) with shuffle spill down ~30%; the structural win — one
    // scan instead of two, one shuffle instead of three — compounds at
    // cluster scale. Same spill story as [[Dedup.exactDedupNormalized]]:
    // the per-text window group buffer is duplicate-count-sized and
    // spillable.
    //
    // The window key is xxhash64(text), NOT the text itself: the in-
    // partition sort then compares 8-byte longs instead of full document
    // strings (the exactDedupNormalizedByFingerprint pattern, raw-text
    // flavor — this dedup is deliberately raw-exact, no normalization).
    // A collision falsely merges two distinct documents and drops one;
    // expected count ≈ n²/2^65 (see [[TextOps.dedupFingerprint]]) —
    // the CCNet-convention bound, accepted here too.
    val keepWin = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(col(textCol)))
    // null-safe min-id comparison, not ===: value-identical (see
    // Dedup.dedupByKey) but opaque to InferFiltersFromConstraints, which
    // otherwise re-derives every id-expression predicate onto min(id)
    // in the post-window filter
    val deduped = filtered
      .withColumn("__keep", when(col(idCol).isNotNull,
        col(idCol) <=> min(col(idCol)).over(keepWin)))
      .filter(col("__keep")).drop("__keep")
    if (!nearDup) deduped
    else {
      // keep one doc per CONNECTED COMPONENT of the pair graph (transitive
      // closure), not per pair: pair-wise dropping over-deletes on chains
      val losers = Dedup.nearDupLosers(
          Dedup.minhashNearDups(deduped, idCol, textCol, minSim = nearDupMinSim))
        .select(col("id").as(idCol))
      deduped.join(losers, Seq(idCol), "left_anti")
    }
  }

  /** The COMPLETE web-curation recipe — the pre-training chain a crawl
    * actually runs, front to back, composed from this library's
    * operators in their production variants:
    *
    *   1. URL canonicalization + filtering ([[Url.mark]], or
    *      [[Url.markWithPsl]] when a public-suffix table is supplied):
    *      drop assets/non-http(s)/blocklisted domains BEFORE any HTML
    *      parsing — a URL-level drop is ~10^3× cheaper than parsing the
    *      page it names;
    *   2. HTML main-content extraction ([[Html.extract]] — jusText-style
    *      block scoring; boilerplate never reaches the text stages);
    *   3. language + quality gates on the RECOVERED content
    *      ([[TextOps.langGuess]] allow-list, [[TextOps.qualityScore]]
    *      floor) — scored pre-scrub, on the text as extracted;
    *   4. PII scrub ([[Pii.scrub]] — emails/phones/IPs redacted, counts
    *      kept as audit columns);
    *   5. exact dedup of the SCRUBBED content
    *      ([[Dedup.exactDedupNormalizedByFingerprint]] — the 8-byte-key
    *      production shuffle; scrubbing first means two pages differing
    *      only in PII collapse, which is the desired grouping);
    *   6. per-domain cap ([[capPerGroup]] on the registered domain —
    *      anti-domination; skipped at the default `maxPerDomain`).
    *
    * Shape at 100 TB: stages 1–4 are pure per-row expression chains that
    * FUSE INTO ONE MAP STAGE over the scan (url/html/pii regexes
    * evaluated once per surviving row, in pipeline order so each stage's
    * filter prunes the next stage's input); stage 5 is the recipe's
    * first shuffle (8-byte fingerprint key); stage 6 its second (domain
    * key). One scan, two shuffles, total — the drill in ScaleSpec runs
    * this fused chain at 5M pages and records per-stage wall/peak-mem/
    * spill.
    *
    * Returns surviving pages with the full annotation trail:
    * `canonical_url`, `url_domain`, `content` (extracted),
    * `content_scrubbed`, per-class `n_<pii>` counts, and `n_copies`
    * (duplicate-group size among pages that reached dedup). The raw
    * `htmlCol` is DROPPED at extraction: past that point it is the
    * row's dominant payload and would ride both shuffles for nothing
    * (a caller that wants the raw page back joins on `idCol`). */
  def curateWeb(pages: DataFrame, idCol: String, urlCol: String,
      htmlCol: String, allowedLangs: Seq[String], minQuality: Int,
      blockedDomains: Seq[String] = Nil, psl: Option[DataFrame] = None,
      piiClasses: Seq[Pii.PiiClass] = Pii.Classes,
      maxPerDomain: Int = Int.MaxValue,
      minTextLen: Int = 10, maxLinkPct: Int = 30,
      boundedDomainCap: Boolean = false,
      seenUrls: Option[DataFrame] = None,
      fixMojibake: Boolean = false): DataFrame = {
    require(maxPerDomain >= 1, "maxPerDomain must be >= 1")
    val marked = psl match {
      case Some(p) => Url.markWithPsl(pages, urlCol, p, blockedDomains)
      case None    => Url.mark(pages, urlCol, blockedDomains)
    }
    val kept = marked.filter(col("url_keep"))
    // RECRAWL seam (q138): drop pages whose canonical URL a prior run
    // already crawled — and today's own re-fetches — BEFORE the HTML
    // parse, the recipe's most expensive per-row stage. `canonical_url`
    // is already computed; the probe is one 8-byte-key anti-join.
    val fresh = seenUrls match {
      case Some(st) =>
        Incremental.dropSeenCanonicalUrls(kept, idCol, "canonical_url", st)
      case None => kept
    }
    // the raw page is DEAD WEIGHT once content is extracted — at 100 TB
    // it is the row's dominant payload, and without the drop it rides
    // both shuffles (the 5M drill measured the dedup stage with/without)
    val extracted = Html.extract(fresh, htmlCol,
      minTextLen = minTextLen, maxLinkPct = maxLinkPct)
      .drop(htmlCol)
    // opt-in mojibake repair on the RECOVERED content, BEFORE the gates:
    // mis-decoded bytes skew both language ID and the quality ratios
    // (the q143 stage in its natural recipe position). Still one fused
    // map stage — the repair is a codegen'd per-row expression.
    val cleaned =
      if (fixMojibake)
        extracted.withColumn("content", TextOps.fixMojibake(col("content")))
      else extracted
    val gated = cleaned
      .filter(TextOps.langGuess(col("content")).isInCollection(allowedLangs))
      .filter(TextOps.qualityScore(col("content")) >= minQuality)
    val scrubbed = Pii.scrub(gated, "content", piiClasses)
    val deduped = Dedup.exactDedupNormalizedByFingerprint(
        scrubbed, "content_scrubbed", idCol)
      .filter(col("keep")).drop("keep")
    if (maxPerDomain == Int.MaxValue) deduped
    // the cap variants are result-identical (ids are globally unique);
    // boundedDomainCap trades the window's single skew-sensitive shuffle
    // for BottomK partials + a uniformly-keyed semi join — see
    // [[capPerGroupBounded]] and BENCH_NOTES Round 13, "Per-domain cap skew drill"
    else if (boundedDomainCap)
      capPerGroupBounded(deduped, "url_domain", idCol, maxPerDomain)
    else capPerGroup(deduped, "url_domain", idCol, maxPerDomain)
  }

  /** Per-group cap (anti-domination): keep at most `k` rows per value of
    * `groupCol`, preferring the smallest `orderCol` — the standard
    * "max N documents per domain" curation stage that stops a single
    * crawled host from dominating the training mix.
    *
    * Expressed as `row_number() <= k` over a window: ONE shuffle on the
    * group key, per-group sort bounded by the group size. When groups are
    * pathological (one domain holding a measurable fraction of the corpus)
    * the bounded-buffer alternative is [[graft.functions.TopKAggregator]]
    * (map-side partials carry at most k rows per key — see q70), at the
    * cost of re-joining for payload columns; for the typical many-domains
    * regime the window IS the right plan: Spark's window exec spills group
    * runs, and the filter prunes to ≤k rows per group before anything else
    * happens downstream. */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "cap must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Skew-proof per-group cap — result-identical to [[capPerGroup]] when
    * `orderCol` is a non-null id UNIQUE within each group (the
    * CurationSamplingSpec pins row-for-row equality), but with a bounded
    * reduce-side buffer instead of a per-group sort:
    *
    *   1. keep-set: `groupBy(groupCol)` with [[graft.functions.BottomKAggregator]]
    *      — each map task carries AT MOST k (id, id) pairs per group
    *      (partial aggregation), the reduce side k-way-merges them, so
    *      the group-keyed shuffle moves ≤ k·groups rows no matter how
    *      skewed the groups are;
    *   2. payload: a LEFT SEMI join of `df` against the keep-set on
    *      (orderCol, groupCol) — the join shuffle is keyed by the id,
    *      which is UNIFORM even when one group holds half the corpus.
    *
    * Contrast with the window plan: `row_number()` over
    * `partitionBy(groupCol)` sends EVERY row of a group to one
    * partition and sorts the whole run — under a pathological
    * mega-domain (30–50% corpus share, the exact anti-domination case
    * the cap exists for) that partition is corpus-scale. Here no
    * executor ever holds more than k pairs of state per group, at the
    * cost of a second (uniformly-keyed) shuffle for the payload re-join.
    * BENCH_NOTES Round 13 ("Per-domain cap skew drill") measures the crossover:
    * balanced regimes favor the window's single shuffle; skewed regimes
    * favor this. [[curateWeb]] exposes the choice via `boundedDomainCap`.
    *
    * KEEP-PREFERENCE CONTRACT, by order-column type:
    *  - INTEGRAL ids (long/int/short/byte): smallest value — identical
    *    to the window's `orderBy(orderCol)`, row-for-row
    *    (CurationSamplingSpec pins it).
    *  - STRING ids (real crawls — r13 verdict #3 closed here): smallest
    *    `(xxhash64(id), id)` — a DETERMINISTIC uniform-pseudo-random
    *    keep among the group's rows, NOT lexicographic order.
    *    Deliberate: ranking raw strings would reorder numerics ('9' >
    *    '10') and promise an ordering the buffer cannot honor across
    *    engines; the hash rank keeps the bounded-buffer property, is
    *    stable across runs/partitionings, and for anti-domination caps
    *    a uniform keep is the semantics curation actually wants
    *    (CurationSamplingSpec pins equality with a window ordered the
    *    same way). Other types: fail at entry — cast to one of the two.
    *
    * Requirements (documented, not checked — a per-row uniqueness scan
    * would cost more than the cap): `orderCol` is unique within each
    * group. Ties would keep every row matching a kept id (the window
    * variant keeps exactly k). NULL order values are filtered out of
    * the keep-set (they could never match the semi join — ADVICE r13
    * #4: previously they crashed the typed aggregator's non-nullable
    * encoder mid-job), so null-id rows DROP, matching the "null ids
    * never match" documented semantics. Null GROUP values are handled:
    * the join is null-safe on the group key, so the null-domain group
    * is capped like any other. */
  def capPerGroupBounded(df: DataFrame, groupCol: String, orderCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "cap must be >= 1")
    Sampling.requireFreshColumns(df, "Curation.capPerGroupBounded",
      "__g", "__o", "__w")
    val ot = df.schema(orderCol).dataType
    val integral = ot == org.apache.spark.sql.types.LongType ||
      ot == org.apache.spark.sql.types.IntegerType ||
      ot == org.apache.spark.sql.types.ShortType ||
      ot == org.apache.spark.sql.types.ByteType
    require(integral || ot == org.apache.spark.sql.types.StringType,
      s"capPerGroupBounded: order column '$orderCol' must be integral " +
        s"(keep = smallest value) or string (keep = smallest (xxhash64, " +
        s"value)), got ${ot.simpleString} — cast it to one, or use " +
        "capPerGroup")
    // the order expression and the rank key are all the type decides
    val (o, bottomK) =
      if (integral) (col(orderCol).cast("long"), new graft.functions
        .BottomKAggregator[Long](k).column(col("__o"), col("__o")))
      else (col(orderCol), new graft.functions
        .BottomKAggregator[String](k).column(xxhash64(col("__o")), col("__o")))
    val keep = df
      .select(col(groupCol).as("__g"), o.as("__o"))
      .filter(col("__o").isNotNull)
      .groupBy(col("__g"))
      .agg(bottomK.as("__w"))
      .select(col("__g"), explode(col("__w")).as("__e"))
      .select(col("__g"), col("__e._2").as("__o"))
    df.join(keep, o === col("__o") && col(groupCol) <=> col("__g"), "left_semi")
  }

  /** Semantic (embedding-space) deduplication: documents whose embeddings
    * are near-identical in cosine are grouped transitively and only one
    * per cluster survives — the SemDeDup-style stage that catches
    * paraphrases and re-encodings lexical near-dup misses. Pure
    * composition of tested operators: LSH-bucketed cosine pairs
    * ([[Similarity.cosineNearDupPairs]], auto-width signatures + bucket
    * cap) → connected components ([[Dedup.connectedComponents]], eager —
    * see its execution note) → keep-min-id anti-join. Returns the
    * surviving rows of `docs`.
    *
    * Failure mode (explicit, not silent): a bucket of size s can emit
    * up to s·(s−1)/2 near-dup pairs; the per-bucket union-find is
    * bounded by `maxEdgesPerGroup` and fails LOUDLY with the bucket id
    * when a dense bucket exceeds it (a fully-dense bucket needs
    * s ≲ √(2·maxEdgesPerGroup) ≈ 4.5k rows at the defaults — the
    * default `maxBucket` 4096 stays under that even fully dense, so
    * out-of-box the cap cannot fire; callers raising `maxBucket` past
    * ~4.5k accept the possibility on pathological inputs and should
    * either lower it back or raise `maxEdgesPerGroup` with the executor
    * memory to match, ~16 B/edge). */
  def semanticDedup(docs: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.99, maxBucket: Int = 4096,
      maxEdgesPerGroup: Long = 10000000L): DataFrame = {
    // every candidate pair is intra-bucket (equi-join on the single LSH
    // signature), so components never span buckets: ONE shuffle + local
    // union-find per bucket replaces the eager multi-round CC whose
    // per-round job latency dominated this operator (the q104 pattern;
    // component label = min id, so losers are the non-label members).
    // The loser set is component-sized but its plan is the whole pair
    // join — persist it or every consumer of the survivors re-runs
    // pair generation (the SemDedup lesson).
    val pairs = Similarity.cosineNearDupPairsWithBucket(docs, idCol, vecCol,
      dim = dim, threshold = threshold, maxBucket = maxBucket)
    val losers = OpCaches.persist(
      Dedup.connectedComponentsWithinGroups(
          pairs.select("bucket", "id_a", "id_b"), "bucket",
          maxEdgesPerGroup = maxEdgesPerGroup)
        .filter(col("id") =!= col("component"))
        .select(col("id").as(idCol)))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Deterministic mixture rebalancing: downsample each domain so the
    * surviving corpus approximates target proportions (the data-mixing
    * step of every multi-source training recipe — e.g. the re-weighted
    * source mixtures of GPT-3/Pile-style training sets). The largest
    * feasible total is taken: `K = min_d ⌊n_d·10000 / target_bp_d⌋`
    * (the scarcest domain is kept whole, the rest are thinned).
    *
    * Selection is per-row Bernoulli(rate_d) on the seeded Knuth hash of
    * the NUMERIC id ([[Sampling.seededKnuth]] — seed 0 is the plain
    * `id·2654435761 mod 2^31` the other sampling ops use; a nonzero
    * seed rotates the id ring by a large constant first, so membership
    * genuinely reshuffles): `h < thr_d`. At scale this is ONE map-only
    * filter with
    * a literal per-domain threshold map: no shuffle, no per-domain pass,
    * shard-order-independent, reproducible, and replayable in external
    * SQL (the threshold is the exact integer `⌈rate_d·2^31⌉`, computed
    * in BigInt — no float anywhere). Achieved counts are
    * Binomial(n_d, rate_d) — proportions converge at corpus scale (the
    * spec pins tolerance). */
  def mixtureBalance(docs: DataFrame, idCol: String, domainCol: String,
      targetBp: Map[String, Int], seed: Int = 0,
      maxDomains: Int = 1000000): DataFrame = {
    requireStringDomain(docs, domainCol, "mixtureBalance")
    val counts = docs.groupBy(domainCol).count()
      .limit(maxDomains + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.size <= maxDomains,
      s"mixtureBalance: more than $maxDomains distinct domains — the " +
        "per-domain count table is collected to the driver; raise " +
        "maxDomains only with driver memory to match, or pre-bucket domains")
    applyMixtureThresholds(docs, idCol, domainCol,
      mixtureThresholds(counts, targetBp), seed)
  }

  /** The exact per-domain acceptance thresholds [[mixtureBalance]]
    * filters with, from observed domain counts — exposed so a daily
    * pipeline can compute them ONCE on the reference day and re-apply
    * them statelessly through [[applyMixtureThresholds]], on a batch or a
    * streaming frame.
    * Accept iff `h·10000·n_d < t_d·K·2^31 ⟺ h < thr_d` (exact BigInt). */
  def mixtureThresholds(counts: Map[String, Long],
      targetBp: Map[String, Int]): Map[String, Long] = {
    require(targetBp.nonEmpty && targetBp.values.forall(_ > 0),
      "every target share must be positive")
    require(targetBp.values.sum == 10000, "target shares must sum to 10000 bp")
    require(targetBp.keySet == counts.keySet,
      s"targets must cover exactly the domains present: ${counts.keySet}")
    val p2 = 2147483648L // 2^31: the Knuth hash range is [0, 2^31)
    val k = targetBp.map { case (d, t) => counts(d) * 10000L / t }.min
    targetBp.map { case (d, t) =>
      val rhs = BigInt(t) * k * p2
      val den = BigInt(10000) * counts(d)
      d -> (((rhs - 1) / den) + 1).min(p2).toLong
    }
  }

  /** The map-only selection filter of [[mixtureBalance]] for a
    * precomputed threshold map (rows of unlisted domains are dropped —
    * a threshold of 0). */
  def applyMixtureThresholds(docs: DataFrame, idCol: String,
      domainCol: String, thresholds: Map[String, Long],
      seed: Int = 0): DataFrame = {
    val thrCol = coalesce(element_at(
      map(thresholds.toSeq.flatMap { case (d, t) =>
        Seq(lit(d), lit(t)) }: _*), col(domainCol)), lit(0L))
    docs.filter(Sampling.seededKnuth(col(idCol), seed) < thrCol)
  }

  /** Temperature-flattened domain mixture — sample domain d with
    * probability ∝ n_d^α, α < 1, so head domains shrink and tail
    * domains keep presence (the multilingual sampling recipe of
    * Conneau & Lample, "Cross-lingual Language Model Pretraining",
    * NeurIPS 2019; capped at one full epoch per domain as in Chung et
    * al., "UniMax", ICLR 2023 — a domain is never oversampled).
    *
    * Determinism contract: α is restricted to 2^-sqrtSteps (0.5, 0.25,
    * …) because IEEE-754 sqrt is CORRECTLY ROUNDED — bit-identical in
    * every engine — while pow() carries no such guarantee, and a last-
    * ulp pow disagreement would flip floor() boundaries between this
    * engine and an external replay. The weight chain is then exact:
    * repeated sqrt (correctly rounded), × 2^20 (a power of two —
    * exponent shift, EXACT), floor → integer weights; everything after
    * (Σ, budget share, basis points, membership) is pure integer
    * arithmetic (BigInt here, HUGEINT in the SQL replay).
    *
    * Per domain: t_d = min(n_d, ⌊budget·wq_d / Σwq⌋), realized by the
    * seeded-Knuth membership at ⌊t_d·10000/n_d⌋ basis points — counts
    * binomial around t_d, membership deterministic per (id, seed).
    *
    * Scale shape: ONE aggregation collects #domains rows (model-sized,
    * `maxDomains`-guarded — the [[Splits.globalRank]] maxDistinct
    * pattern: a driver-side collect must fail loudly, never OOM);
    * selection is a broadcast join on the domain key plus a map-only
    * integer filter — scoring 100 TB is one read. Output adds
    * `keep_bp`. The domain column must be StringType (the per-domain
    * basis points are keyed and replayed as strings; cast upstream —
    * an implicit numeric↔string join coercion here would silently
    * diverge from the SQL replay). */
  def temperatureMixture(docs: DataFrame, idCol: String, domainCol: String,
      budget: Long, sqrtSteps: Int = 1, seed: Int = 0,
      maxDomains: Int = 1000000): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(sqrtSteps >= 1 && sqrtSteps <= 4,
      "sqrtSteps must be in [1, 4] (alpha = 2^-sqrtSteps)")
    requireStringDomain(docs, domainCol, "temperatureMixture")
    Sampling.requireFreshColumns(docs, "temperatureMixture", "keep_bp")
    val counts = docs.groupBy(domainCol).count()
      .limit(maxDomains + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    require(counts.length <= maxDomains,
      s"temperatureMixture: more than $maxDomains distinct domains — the " +
        "per-domain weight table is collected to the driver; raise " +
        "maxDomains only with driver memory to match, or pre-bucket domains")
    val spark = docs.sparkSession
    import spark.implicits._
    if (counts.isEmpty) // empty corpus: schema-stable empty result
      return docs.withColumn("keep_bp", lit(0L)).filter(lit(false))
    val wq = counts.map { case (_, n) =>
      var w = n.toDouble
      (1 to sqrtSteps).foreach(_ => w = math.sqrt(w))
      math.floor(w * (1L << 20).toDouble).toLong
    }
    val sw = wq.map(BigInt(_)).sum
    val bp = counts.zip(wq).map { case ((d, n), w) =>
      val t = (BigInt(budget) * w / sw).min(BigInt(n)).toLong
      (d, t * 10000L / n)
    }
    val bpDf = broadcast(bp.toSeq.toDF(domainCol, "keep_bp"))
    docs.join(bpDf, Seq(domainCol))
      .filter(Sampling.seededKnuth(col(idCol), seed) * lit(10000L) <
        col("keep_bp") * lit(2147483648L))
  }

  /** Epoch mixing for data-constrained training (Muennighoff et al.,
    * "Scaling Data-Constrained Language Models", NeurIPS 2023): when the
    * token budget EXCEEDS the corpus, domains are repeated — each domain
    * gets `e_d = min(maxEpochs, ⌊B_d/T_d⌋)` full epochs (`B_d` its
    * budget share, `T_d` its token mass) plus a deterministically
    * sampled PARTIAL epoch covering the remaining `B_d − e_d·T_d`
    * tokens. Returns one row per (document, epoch) with `epoch`
    * 1-based — the materialized training-set manifest.
    *
    * Scale shape: one aggregation collects per-domain token masses
    * (#domains rows); the repeat is a map-only `explode(sequence)` with
    * literal per-domain epoch counts — fan-out happens at read time,
    * nothing is shuffled; the partial epoch is the [[mixtureBalance]]
    * Bernoulli filter (exact BigInt thresholds on the seeded Knuth
    * hash — partial-epoch token mass is binomial around the residual,
    * exact in expectation). Fully replayable in external SQL. */
  def epochMix(docs: DataFrame, idCol: String, domainCol: String,
      tokensCol: Column, targetBp: Map[String, Int], totalBudget: Long,
      maxEpochs: Int, seed: Int = 0, maxDomains: Int = 1000000): DataFrame = {
    require(targetBp.nonEmpty && targetBp.values.forall(_ > 0),
      "every target share must be positive")
    require(targetBp.values.sum == 10000, "target shares must sum to 10000 bp")
    require(totalBudget >= 0 && maxEpochs >= 1)
    requireStringDomain(docs, domainCol, "epochMix")
    val masses = docs.groupBy(domainCol)
      .agg(sum(tokensCol.cast("long")).as("t"))
      .limit(maxDomains + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(masses.size <= maxDomains,
      s"epochMix: more than $maxDomains distinct domains — the per-domain " +
        "mass table is collected to the driver; raise maxDomains only " +
        "with driver memory to match, or pre-bucket domains")
    require(targetBp.keySet == masses.keySet,
      s"targets must cover exactly the domains present: ${masses.keySet}")
    val p2 = 2147483648L
    val plan = targetBp.map { case (d, bp) =>
      val budget = BigInt(bp) * totalBudget / 10000
      val mass = BigInt(masses(d)).max(1)
      val full = (budget / mass).min(maxEpochs).toInt
      val rem = if (full >= maxEpochs) BigInt(0) else budget - full * mass
      // partial-epoch accept iff h·T_d < rem·2^31 ⟺ h < thr (exact)
      val thr = if (rem <= 0) 0L
        else (((rem * p2 - 1) / mass) + 1).min(BigInt(p2)).toLong
      d -> (full, thr)
    }
    def domLit(f: ((Int, Long)) => Long) = element_at(
      map(plan.toSeq.flatMap { case (d, v) =>
        Seq(lit(d), lit(f(v))) }: _*), col(domainCol))
    val fullCol = domLit(_._1.toLong)
    val thrCol = domLit(_._2)
    val h = Sampling.seededKnuth(col(idCol), seed)
    val epochs = when(fullCol >= 1L,
        sequence(lit(1L), fullCol)).otherwise(array().cast("array<bigint>"))
    val withPartial = concat(epochs,
      when(h < thrCol, array(fullCol + 1L))
        .otherwise(array().cast("array<bigint>")))
    docs.select(col(idCol), col(domainCol), tokensCol.cast("long")
        .as("n_tokens"), explode(withPartial).as("epoch"))
  }

  /** The COMPOSED media-curation recipe — [[curateWeb]]'s sibling for a
    * MIXED media table (binary `payload` + any metadata columns), the
    * front end a multimodal training corpus runs before captioning/
    * feature extraction ever sees a byte:
    *
    *   1. SIZE GATE — `octet_length ≥ minBytes` (truncated fetches,
    *      tracking pixels); pure codegen filter.
    *   2. BYTE-EXACT dedup — first-seen-wins on `xxhash64(payload)`:
    *      identical payloads collapse BEFORE any decode runs (a mirror
    *      re-crawl is the dominant duplicate class and costs one 8-byte
    *      shuffle key here vs a real decode later).
    *   3. ONE decode pass ([[Multimodal.withPerceptualHashes]] —
    *      image-first dispatch, `dhash` XOR `ahash31` per decodable
    *      payload) feeding per-modality PERCEPTUAL dedup: first-seen-wins
    *      on the 63-bit image dHash / 31-bit audio fingerprint, so
    *      re-encodes and brightness/polarity edits collapse where byte
    *      keys cannot. Payloads neither reader claims pass through
    *      (null hash is never a dedup key — the [[graft.ops.Incremental]]
    *      contract, recipe-wide).
    *   4. optional CROSS-RUN drops — the banded within-distance states
    *      ([[graft.ops.Incremental.imageBandState]] /
    *      [[graft.ops.Incremental.audioBandState]]) drop drifted
    *      re-encounters of anything a PRIOR run already retained.
    *
    * Scale shape: two 8-byte-keyed shuffles (byte key, perceptual key)
    * plus the optional banded state joins — the decode is the one CPU
    * stage and runs ONCE per surviving payload (OpCaches-persisted for
    * its three consumers). Returns the surviving rows (hash columns
    * dropped) plus `media_kind` ∈ image/audio/other. */
  def curateMedia(media: DataFrame, idCol: String, minBytes: Long = 1L,
      seenImageBands: Option[DataFrame] = None,
      seenAudioBands: Option[DataFrame] = None,
      imageMaxDist: Int = 3, audioMaxDist: Int = 2,
      bands: Int = 7, maxBucket: Int = 1 << 16): DataFrame = {
    require(minBytes >= 0, "minBytes must be >= 0")
    Sampling.requireFreshColumns(media, "Curation.curateMedia",
      "dhash", "ahash31", "media_kind", "__bh")
    val gated = media.filter(octet_length(col("payload")) >= minBytes)
    val byteWin = gated
      .select(xxhash64(col("payload")).as("__bh"), col(idCol))
      .groupBy("__bh").agg(min(col(idCol)).as(idCol))
    val afterBytes = gated
      .withColumn("__bh", xxhash64(col("payload")))
      .join(byteWin, Seq("__bh", idCol), "left_semi")
      .drop("__bh")
    val hashed = OpCaches.persist(
      Multimodal.withPerceptualHashes(afterBytes))
    def perceptualKeep(hashCol: String) = {
      val w = hashed.filter(col(hashCol).isNotNull)
      val winners = w.groupBy(col(hashCol)).agg(min(col(idCol)).as(idCol))
      w.join(winners, Seq(hashCol, idCol), "left_semi")
    }
    val imgs0 = perceptualKeep("dhash")
    val imgs = seenImageBands.fold(imgs0)(st =>
      Incremental.dropSeenHashWithinDist("curateMedia.image", imgs0, idCol,
        "dhash", st, imageMaxDist, 63, bands, maxBucket))
    val auds0 = perceptualKeep("ahash31")
    val auds = seenAudioBands.fold(auds0)(st =>
      Incremental.dropSeenHashWithinDist("curateMedia.audio", auds0, idCol,
        "ahash31", st, audioMaxDist, 31, bands, maxBucket))
    val others = hashed.filter(col("dhash").isNull && col("ahash31").isNull)
    def finish(df: DataFrame, kind: String) =
      df.drop("dhash", "ahash31").withColumn("media_kind", lit(kind))
    finish(imgs, "image")
      .unionByName(finish(auds, "audio"))
      .unionByName(finish(others, "other"))
  }
}
