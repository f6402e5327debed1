package graft.ops

import graft.etl.Zones
import graft.functions.NativeFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Cross-RUN dedup / decontamination state — the incremental pattern a
  * daily pipeline needs (the reference re-runs its DAG every day and
  * re-INSERTs: `airflow/dags/raw_dag.py:42`, `bronze_dag.py:78-98`).
  * Single-run dedup answers "is this a duplicate of something in THIS
  * batch"; a daily corpus needs "…of anything we've EVER ingested"
  * without re-scanning history. The state artifacts here are exactly the
  * sketch-family bookkeeping the other ops already produce, persisted as
  * parquet next to the warehouse and joined/probed against the new day:
  *
  *  - EXACT dedup state: the distinct text fingerprints seen so far
  *    (8 bytes/distinct doc — engine-independent `graft_fingerprint`, so
  *    a DuckDB oracle replays the whole incremental run, q86). Growth is
  *    ∝ distinct corpus, reads are an equi-join the optimizer can
  *    broadcast or shuffle as size dictates.
  *  - BLOOM decontamination state: the [[Bloom]] bit array saved/loaded
  *    as a one-row table — O(128 KiB) regardless of history size, probe
  *    is the same codegen expression, false positives bounded, NO false
  *    negatives (nothing contaminated ever slips through).
  *  - MINHASH near-dup state: the per-doc signature table ([[Dedup]]'s
  *    codegen'd `graft_minhash`), so today's batch LSH-joins against
  *    history signatures without recomputing them — shuffle ∝ today's
  *    bucket keys, history is never re-shingled.
  *
  * HAND-OFF: a state table is written and read back with
  * [[graft.etl.Zones.materialize]] (the read-back carries the writer's
  * schema, so it starts no job); a fresh JVM reloads it with
  * [[graft.etl.Zones.read]] and the state's schema (also no job).
  * A state rolls forward as `state.unionByName(xState(batch)).distinct()`,
  * handed off to the NEXT run's path — one path per run: a hand-off into
  * the path its frame reads is refused before anything is deleted.
  *
  * INVARIANT (the q86 oracle): day-2 dedup against day-1 state, unioned
  * with day-1's own survivors, equals a from-scratch first-seen-wins
  * dedup over both days. First-seen-wins = earlier RUN wins, and within a
  * run the smallest id wins — the only order a state that forgets raw
  * ids can support, and the one an append-only warehouse wants. */
object Incremental {

  /** Exact-dedup state of a batch: one row per distinct text fingerprint
    * (column `fp`). */
  def fingerprintState(docs: DataFrame, textCol: String): DataFrame =
    docs.select(NativeFunctions.graft_fingerprint(col(textCol)).as("fp")).distinct()

  /** Dedup TODAY's batch within itself (smallest id per fingerprint wins)
    * AND against the prior fingerprint state: returns today's surviving
    * rows. Shape: one partial-aggregated groupBy on the fingerprint (the
    * within-day winner set, ∝ distinct today) + a left-semi join back +
    * one anti-join against the state (equi-join on the 8-byte key — AQE
    * broadcasts the smaller side). The raw text never shuffles. */
  def dedupAgainstState(today: DataFrame, idCol: String, textCol: String,
      state: DataFrame): DataFrame = {
    val withFp = today.withColumn("__fp",
      NativeFunctions.graft_fingerprint(col(textCol)))
    firstSeen(withFp, Seq("__fp"), idCol)
      .join(state.withColumnRenamed("fp", "__fp"), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Within-day first-seen-wins: the rows of `df` holding the smallest
    * `idCol` of their `keys` (a partial-aggregated groupBy on the keys +
    * a left-semi join back). */
  private def firstSeen(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.join(df.groupBy(keys.map(col): _*).agg(min(col(idCol)).as(idCol)),
      keys :+ idCol, "left_semi")

  /** Canonical-URL fingerprint state of a crawl batch — the RECRAWL
    * story: a day-2 crawl drops already-seen pages at the URL stage,
    * BEFORE HTML extraction, because a URL-level drop is ~10^3× cheaper
    * than parsing the page it names (the [[Url]] front-stage argument,
    * applied across runs). One row per distinct canonical URL (column
    * `url_fp` — `graft_fingerprint` over [[Url.canonicalCompiled]], the
    * same engine-independent rolling hash as [[fingerprintState]], so a
    * SQL oracle replays the whole incremental run, q138). Growth ∝
    * distinct URLs ever crawled, 8 bytes each. */
  def urlState(pages: DataFrame, urlCol: String): DataFrame =
    pages.select(NativeFunctions.graft_fingerprint(
      Url.canonicalCompiled(col(urlCol))).as("url_fp")).distinct()

  /** Drop TODAY's pages whose canonical URL was already crawled: dedups
    * today WITHIN itself (smallest id per canonical URL wins — two
    * fetches of one page in one crawl) AND against the prior
    * [[urlState]]. Same plan shape as [[dedupAgainstState]], but keyed
    * on the URL instead of the content, which is the point: the page
    * body (or raw HTML) never has to exist yet — run this before the
    * fetch/parse stages. [[Curation.curateWeb]] exposes it via
    * `seenUrls`; the first-seen-wins invariant is q138's oracle. */
  def dropSeenUrls(today: DataFrame, idCol: String, urlCol: String,
      state: DataFrame): DataFrame =
    dropSeenByFp(today, idCol,
      NativeFunctions.graft_fingerprint(Url.canonicalCompiled(col(urlCol))),
      state)

  /** [[dropSeenUrls]] over an ALREADY-canonical column (the
    * [[Curation.curateWeb]] path — `Url.mark` computed `canonical_url`
    * one kernel call earlier; re-canonicalizing would double the map
    * cost for nothing). */
  def dropSeenCanonicalUrls(today: DataFrame, idCol: String,
      canonicalCol: String, state: DataFrame): DataFrame =
    dropSeenByFp(today, idCol,
      NativeFunctions.graft_fingerprint(col(canonicalCol)), state)

  private def dropSeenByFp(today: DataFrame, idCol: String, fp: Column,
      state: DataFrame): DataFrame = {
    firstSeen(today.withColumn("__url_fp", fp), Seq("__url_fp"), idCol)
      .join(state.withColumnRenamed("url_fp", "__url_fp"),
        Seq("__url_fp"), "left_anti")
      .drop("__url_fp")
  }

  /** Perceptual image-hash state of a media batch — the [[urlState]]
    * story for PIXELS: one row per distinct 63-bit dHash (column
    * `dhash`, [[Multimodal.withImageDHash]] — real decode), so a later
    * crawl drops RE-ENCODES and brightness edits of already-ingested
    * images, which byte/URL keys both miss. Non-decodable payloads
    * contribute no state. 8 bytes per distinct image. */
  def imageHashState(media: DataFrame): DataFrame =
    hashState(Multimodal.withImageDHash(media), "dhash")

  /** One row per distinct non-null `hashCol` of `hashed` — the exact
    * perceptual-hash state: payloads that do not decode contribute none. */
  private def hashState(hashed: DataFrame, hashCol: String): DataFrame =
    hashed.select(col(hashCol)).filter(col(hashCol).isNotNull).distinct()

  /** Drop TODAY's images whose perceptual hash was already ingested:
    * within-day first-seen-wins (smallest id per dHash) + anti-join
    * against the prior [[imageHashState]] — [[dropSeenUrls]] keyed on
    * decoded pixels instead of the URL (q142: day-2 brightness
    * re-encodes of day-1 images drop; genuinely new images survive).
    * Rows whose payload does not decode KEEP flowing (null hash is not
    * a dedup key — same contract as the streaming twin). EXACT-hash
    * equality only; for drifted re-encodes (1–3 flipped bits) use the
    * banded [[imageBandState]] + [[dropSeenImagesWithinDist]] pair. */
  def dropSeenImages(today: DataFrame, idCol: String,
      state: DataFrame): DataFrame =
    dropSeenHash(Multimodal.withImageDHash(today), idCol, "dhash", state)

  /** The exact cross-run drop over a perceptual hash column of `hashed`:
    * within-day first-seen-wins (smallest id per hash) + anti-join
    * against the state's `hashCol`; null-hash rows pass through. */
  private def dropSeenHash(hashed: DataFrame, idCol: String, hashCol: String,
      state: DataFrame): DataFrame = {
    // persisted: three consumers (winners aggregate, semi-join left
    // side, null-hash union branch) — the real decode must run ONCE per
    // payload, not three times (the hammingNearDupPairs rule)
    val withH = OpCaches.persist(hashed)
    firstSeen(withH.filter(col(hashCol).isNotNull), Seq(hashCol), idCol)
      .join(state, Seq(hashCol), "left_anti")
      .unionByName(withH.filter(col(hashCol).isNull))
      .drop(hashCol)
  }

  /** BANDED perceptual image-hash state — [[imageHashState]] widened for
    * WITHIN-DISTANCE recrawl dedup (r13 verdict #1: the exact-hash state
    * waves through a day-2 re-encode whose dHash drifted 1–3 bits, the
    * very case dHash exists for): one row per (band, band_value, dhash)
    * of each distinct retained hash, banded EXACTLY like
    * [[Dedup.hammingBandKeys]] (same bits/bands split — the state and
    * the probe MUST band identically or the pigeonhole guarantee
    * silently dies; both call the one shared helper). State size:
    * `bands` rows × ~20 B per distinct image (band int + two longs) —
    * ~140 B/image at the 63/7 defaults, still O(distinct images), never
    * O(pixels). `bands > maxDist` is required HERE, at state build, so
    * a mismatched probe cannot even be constructed against it. */
  def imageBandState(media: DataFrame, bits: Int = 63, bands: Int = 7,
      maxDist: Int = 3): DataFrame =
    bandState(imageHashState(media), "dhash", bits, bands, maxDist)

  /** The in-plan over-full-bucket guard shared by the within-distance
    * drops: appends a window count over (band, bv) and a filter that
    * PASSES rows of admissible buckets and `raise_error`s on any bucket
    * larger than `maxBucket` — evaluated for every state row when the
    * enclosing plan materializes, so the loud-failure contract of the
    * old eager collect() guard holds without its per-call driver job.
    * The window's (band, bv) exchange pre-partitions the frame on
    * exactly the probe join's key. */
  private def bucketGuarded(banded: DataFrame, op: String, maxBucket: Int,
      what: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bv")
    banded
      .withColumn("__bsize", count(lit(1)).over(w))
      .filter(when(col("__bsize") <= maxBucket, lit(true))
        .otherwise(raise_error(concat(
          lit(s"$op: state band bucket ("), col("band"), lit(", "),
          col("bv"), lit(") holds "), col("__bsize"),
          lit(s" $what (> maxBucket=$maxBucket) — candidate blowup; " +
            s"exact-dedup identical $what into the state or raise " +
            "maxBucket with cluster memory")))))
      .drop("__bsize")
  }

  private def bandState(hashes: DataFrame, hashCol: String, bits: Int,
      bands: Int, maxDist: Int): DataFrame =
    hashes
      .select(col(hashCol).as("h"),
        explode(array(Dedup.hammingBandKeys(col(hashCol), bits, bands,
          maxDist): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bv").as("bv"),
        col("h").as(hashCol))
      .distinct()

  /** Drop TODAY's images whose perceptual hash is WITHIN `maxDist` bits
    * of any hash in the banded state — [[dropSeenImages]] upgraded from
    * exact-key to near-key, closing the drifted-re-encode recall gap
    * (q144). Plan shape, today-proportional throughout:
    *
    *   1. decode ONCE ([[graft.ops.Multimodal.withImageDHash]],
    *      OpCaches-persisted — the same three-consumer rule as the exact
    *      path);
    *   2. within-day EXACT first-seen-wins (min id per dhash — the
    *      [[dropSeenImages]] contract; within-day NEAR-dedup is the
    *      batch [[Dedup.hammingNearDupPairs]] composition, deliberately
    *      not folded in here: cross-run state answers "seen BEFORE?",
    *      not "duplicate WITHIN today");
    *   3. banded equi-join of today's (band, bv) keys against the state
    *      — by pigeonhole (bands > maxDist) every state hash within
    *      `maxDist` shares at least one band key, ZERO recall loss —
    *      then one codegen `bit_count(xor)` verify per candidate;
    *   4. anti-join the matched ids, null-hash rows pass through
    *      (non-decodable payloads are never dedup keys).
    *
    * Exact re-encounters are distance 0 ≤ maxDist, so this SUBSUMES the
    * exact-state drop. Skew guard ([[Dedup.hammingNearDupPairs]]'s
    * reasoning, state-sided): a state band bucket larger than
    * `maxBucket` fans every colliding today-row out against it —
    * over-full buckets FAIL loudly (dropping them would silently lose
    * the recall guarantee); exact-dedup identical hashes upstream or
    * raise `maxBucket` deliberately. `bits`/`bands` must equal the
    * state's build parameters. */
  def dropSeenImagesWithinDist(today: DataFrame, idCol: String,
      state: DataFrame, maxDist: Int = 3, bits: Int = 63, bands: Int = 7,
      maxBucket: Int = 1 << 16): DataFrame =
    dropSeenHashWithinDist("dropSeenImagesWithinDist",
      Multimodal.withImageDHash(today), idCol, "dhash", state,
      maxDist, bits, bands, maxBucket)

  /** The shared within-distance cross-run drop over any packed-long
    * perceptual hash column — the [[dropSeenImagesWithinDist]] plan
    * (decode once, within-day exact first-seen-wins, pigeonhole-banded
    * state join, bit_count verify, anti-join, null-hash pass-through),
    * generic in the hash column so the audio sibling is one line. The
    * state carries (band, bv, `hashCol`) built with the SAME
    * [[Dedup.hammingBandKeys]] split. */
  private[ops] def dropSeenHashWithinDist(op: String, withH0: DataFrame,
      idCol: String, hashCol: String, state: DataFrame, maxDist: Int,
      bits: Int, bands: Int, maxBucket: Int): DataFrame = {
    // Over-full-bucket guard (see [[dropSeenImagesWithinDist]]: buckets
    // past maxBucket FAIL loudly, dropping them would silently lose the
    // pigeonhole recall guarantee) — folded INTO the state subtree as a
    // window count + raise_error filter (r14 verdict "Next round" #1):
    // the previous eager groupBy/limit/collect guard cost one driver
    // round-trip job PER CALL, pure stage-latency on the incremental
    // queries (two calls each in q144/q147/q148). Every state row checks
    // its bucket when the join materializes the state side, so any
    // over-full bucket still fails the run — the failure now surfaces
    // when the drop-join executes rather than at operator call time
    // (same job for every caller here; callers that build the frame
    // without running it defer the check to their first action). The
    // window's (band, bv) exchange doubles as the keyed-cache
    // pre-partitioning of the probe join (the r14 hammingNearDupPairs
    // pattern), so the guard costs no extra shuffle.
    val st = OpCaches.persist(bucketGuarded(
      state.select(col("band"), col("bv"), col(hashCol).as("__st_h")),
      op, maxBucket, "hashes"))
    val withH = OpCaches.persist(withH0)
    val afterDay = firstSeen(withH.filter(col(hashCol).isNotNull), Seq(hashCol), idCol)
    val seen = afterDay
      .select(col(idCol).as("__id"), col(hashCol).as("__h"),
        explode(array(Dedup.hammingBandKeys(col(hashCol), bits, bands,
          maxDist): _*)).as("bk"))
      .select(col("__id"), col("__h"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
      .join(st, Seq("band", "bv"))
      .filter(bit_count(col("__h").bitwiseXOR(col("__st_h"))) <= maxDist)
      .select(col("__id").as(idCol))
      .distinct()
    afterDay
      .join(seen, Seq(idCol), "left_anti")
      .unionByName(withH.filter(col(hashCol).isNull))
      .drop(hashCol)
  }

  /** Banded WIDE audio-fingerprint state — [[imageBandState]] for sound
    * over [[Multimodal.withAudioPHashWide]]'s 31-bit fingerprint (the
    * 15-bit key is too coarse for near-matching: every value has 15
    * one-bit neighbors out of only 32k — see [[Multimodal.audioPHash31]]).
    * One row per (band, band_value, ahash31) of each distinct retained
    * fingerprint; `bands > maxDist` enforced at build. */
  def audioBandState(media: DataFrame, bits: Int = 31, bands: Int = 7,
      maxDist: Int = 2): DataFrame =
    bandState(hashState(Multimodal.withAudioPHashWide(media), "ahash31"),
      "ahash31", bits, bands, maxDist)

  /** Drop TODAY's clips whose WIDE fingerprint is within `maxDist` bits
    * of any fingerprint in the banded audio state —
    * [[dropSeenImagesWithinDist]] for sound (q148): re-encodes whose
    * energy profile drifted a bit or two (level tweaks on a segment,
    * lossy re-encode wobble) drop where the exact key waves them
    * through; polarity flips are distance 0 by the |mono| invariance.
    * Same recall/guard/pass-through contracts as the image path;
    * `bits`/`bands` must match the state build. */
  def dropSeenAudioWithinDist(today: DataFrame, idCol: String,
      state: DataFrame, maxDist: Int = 2, bits: Int = 31, bands: Int = 7,
      maxBucket: Int = 1 << 16): DataFrame =
    dropSeenHashWithinDist("dropSeenAudioWithinDist",
      Multimodal.withAudioPHashWide(today), idCol, "ahash31", state,
      maxDist, bits, bands, maxBucket)

  /** Perceptual AUDIO fingerprint state — [[imageHashState]]'s time-axis
    * sibling over [[Multimodal.withAudioPHash]] (15-bit energy-delta
    * hash, real PCM decode, polarity-inversion invariant): one row per
    * distinct fingerprint, 8 bytes each, so a later ingest drops
    * re-encodes and polarity flips of already-ingested clips that
    * byte/URL keys both miss (r13 verdict #3). Non-decodable payloads
    * contribute no state. The 15-bit key is deliberately coarse (a
    * FINGERPRINT, not a content hash — [[graft.streaming.Streams
    * .audioDedupStream]]'s collision caveat applies doubly across runs:
    * at corpus scale treat the drop set as candidates, or widen the
    * segment count upstream). */
  def audioHashState(media: DataFrame): DataFrame =
    hashState(Multimodal.withAudioPHash(media), "ahash")

  /** Drop TODAY's clips whose fingerprint was already ingested —
    * [[dropSeenImages]] keyed on decoded PCM instead of pixels (q145):
    * within-day first-seen-wins (smallest id per ahash) + anti-join
    * against the prior [[audioHashState]]; payloads the PCM reader
    * rejects KEEP flowing (null hash is not a dedup key — the
    * [[graft.streaming.Streams.audioDedupStream]] twin's contract, so
    * stream and batch agree row-for-row on the same rows). */
  def dropSeenAudio(today: DataFrame, idCol: String,
      state: DataFrame): DataFrame =
    dropSeenHash(Multimodal.withAudioPHash(today), idCol, "ahash", state)

  /** Video-sequence fingerprint state — the cross-run story for
    * ANIMATIONS ([[Multimodal.videoSeqHash]]): one row per distinct
    * `(n_frames, h_first, h_mid, h_last)` of the batch's decodable
    * multi-frame payloads, ~28 B per distinct animation. Stored RAW
    * (unbanded): [[dropSeenVideoSeqs]] bands BOTH sides at probe time
    * with the one shared splitter, so the state stays 4 columns and the
    * banding parameters live with the probe, not the snapshot. */
  def videoSeqState(media: DataFrame): DataFrame =
    Multimodal.withVideoSeqHash(media)
      .filter(col("h_first").isNotNull)
      .select(col("n_frames"), col("h_first"), col("h_mid"), col("h_last"))
      .distinct()

  /** Drop TODAY's animations whose sequence fingerprint matches the
    * state within `maxDist` bits PER ANCHOR (equal frame counts, each of
    * first/middle/last within Hamming `maxDist` — the
    * [[Multimodal.videoSeqNearDups]] verify, applied across runs): day-2
    * re-encodes and brightness/drift edits of already-ingested
    * animations drop, trims and genuinely new animations survive (q147).
    * Plan shape = [[dropSeenImagesWithinDist]] with a three-anchor
    * verify: decode ONCE, within-day exact first-seen-wins on the full
    * fingerprint tuple, pigeonhole-banded equi-join on the FIRST-frame
    * anchor (recall-lossless for bands > maxDist), codegen `bit_count`
    * verify on all three anchors, anti-join; payloads no reader claims
    * pass through. State-side band buckets over `maxBucket` fail
    * LOUDLY (the recall-guarantee contract). */
  def dropSeenVideoSeqs(today: DataFrame, idCol: String,
      state: DataFrame, maxDist: Int = 3, bits: Int = 63, bands: Int = 7,
      maxBucket: Int = 1 << 16): DataFrame = {
    // guard folded into the state subtree — see [[dropSeenHashWithinDist]]
    val st = OpCaches.persist(bucketGuarded(state.select(
      col("n_frames").as("__st_nf"), col("h_first").as("__st_f"),
      col("h_mid").as("__st_m"), col("h_last").as("__st_l"),
      explode(array(Dedup.hammingBandKeys(col("h_first"), bits, bands,
        maxDist): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bv").as("bv"),
        col("__st_nf"), col("__st_f"), col("__st_m"), col("__st_l")),
      "dropSeenVideoSeqs", maxBucket, "fingerprints"))
    val withH = OpCaches.persist(Multimodal.withVideoSeqHash(today))
    val afterDay = firstSeen(withH.filter(col("h_first").isNotNull),
      Seq("n_frames", "h_first", "h_mid", "h_last"), idCol)
    def near(a: Column, b: Column) =
      bit_count(a.bitwiseXOR(b)) <= maxDist
    val seen = afterDay
      .select(col(idCol).as("__id"), col("n_frames").as("__nf"),
        col("h_first").as("__f"), col("h_mid").as("__m"),
        col("h_last").as("__l"),
        explode(array(Dedup.hammingBandKeys(col("h_first"), bits, bands,
          maxDist): _*)).as("bk"))
      .select(col("__id"), col("__nf"), col("__f"), col("__m"), col("__l"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
      .join(st, Seq("band", "bv"))
      .filter(col("__nf") === col("__st_nf") &&
        near(col("__f"), col("__st_f")) && near(col("__m"), col("__st_m")) &&
        near(col("__l"), col("__st_l")))
      .select(col("__id").as(idCol))
      .distinct()
    afterDay
      .join(seen, Seq(idCol), "left_anti")
      .unionByName(withH.filter(col("h_first").isNull))
      .drop("n_frames", "h_first", "h_mid", "h_last")
  }

  /** Persist a [[Bloom]] bit array (+ its hash count) as a one-row,
    * one-file parquet table — constant-size decontamination state. */
  def saveBloom(spark: SparkSession, path: String,
      bits: Array[Long], k: Int = Bloom.DefaultK): Unit = {
    import spark.implicits._
    Zones.writeParquet(Seq((bits, k)).toDF("bits", "k"), path, singleFile = true)
  }

  /** Load bloom state saved by [[saveBloom]]: (bits, k), read with the
    * schema it was written with (no inference job). */
  def loadBloom(spark: SparkSession, path: String): (Array[Long], Int) = {
    val row = Zones.read(spark, path, "parquet", BloomSchema).head()
    (row.getSeq[Long](0).toArray, row.getInt(1))
  }

  private val BloomSchema = StructType.fromDDL("bits array<bigint>, k int")

  /** Minhash signature state of a batch: (doc_id, sig) — store next to
    * the warehouse so later runs never re-shingle history. */
  def signatureState(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 32): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      NativeFunctions.graft_minhash(col(textCol), shingleLen, numHashes).as("sig"))

  /** Near-dups of TODAY's docs against the HISTORY signature state:
    * (today_id, state_id, est_jaccard) pairs whose LSH band keys collide
    * and whose signature agreement clears `minSim` — [[Dedup
    * .minhashNearDups]]'s cross-run sibling. Today's side computes fresh
    * signatures; the state side is read as-is. The join is banded and
    * bucket-capped exactly like the single-run path, so cost is ∝ today's
    * size, never history's. */
  def nearDupsAgainstState(today: DataFrame, idCol: String, textCol: String,
      state: DataFrame, shingleLen: Int = 3, numHashes: Int = 32,
      bands: Int = 4, minSim: Double = 0.5, maxBucket: Int = 200): DataFrame = {
    val rowsPerBand = numHashes / bands
    val todaySigs = OpCaches.persist(
      signatureState(today, idCol, textCol, shingleLen, numHashes))
    val stateSigs = OpCaches.persist(state)
    def buckets(sigs: DataFrame) = sigs
      .withColumn("bk", explode(
        Dedup.lshBandKeys(col("sig"), bands, rowsPerBand)))
      .select(col("bk"), col("doc_id"))
    val tb = buckets(todaySigs)
    val sb = buckets(stateSigs)
    // cap on the HISTORY side: a boilerplate bucket accumulated over many
    // runs would otherwise fan every matching new doc out against it
    val okBuckets = sb.groupBy("bk")
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucket)
      .select("bk")
    val pairs = tb.select(col("bk"), col("doc_id").as("today_id"))
      .join(sb.join(okBuckets, Seq("bk"))
        .select(col("bk"), col("doc_id").as("state_id")), Seq("bk"))
      .select("today_id", "state_id")
      .distinct()
    pairs
      .join(todaySigs.select(col("doc_id").as("today_id"), col("sig").as("sig_a")),
        Seq("today_id"))
      .join(stateSigs.select(col("doc_id").as("state_id"), col("sig").as("sig_b")),
        Seq("state_id"))
      .select(col("today_id"), col("state_id"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          eq => eq)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minSim)
  }
}
