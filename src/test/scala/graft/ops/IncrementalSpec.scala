package graft.ops

import graft.GraftSession
import graft.etl.Zones
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-run state contracts: incremental dedup equals from-scratch
  * first-seen-wins, state artifacts survive the parquet round-trip, and
  * near-dup detection reaches across runs without re-processing history. */
class IncrementalSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t.parquet").toString

  /** Concatenated messages of the whole cause chain — in-plan raise_error
    * guards surface wrapped in SparkException layers at action time. */
  private def messageChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  test("day-2 dedup against persisted day-1 state == from-scratch first-seen-wins (q86 invariant)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val day0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val day1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val path = tmp("fp_state")
    val empty = spark.range(0).select(col("id").as("fp"))
    val run0 = Incremental.dedupAgainstState(day0, "doc_id", "text", empty)
    val state = Zones.materialize(Incremental.fingerprintState(day0, "text"), path)
    val run1 = Incremental.dedupAgainstState(day1, "doc_id", "text", state)
    val incremental = (run0.select("doc_id") unionByName run1.select("doc_id"))
      .as[Long].collect().toSet
    // from-scratch: smallest (day, doc_id) per fingerprint wins
    graft.functions.NativeFunctions.register(spark)
    val scratch = docs
      .select(col("doc_id"),
        graft.functions.NativeFunctions.graft_fingerprint(col("text")).as("fp"),
        pmod(col("doc_id"), lit(2)).as("day"))
      .groupBy("fp")
      .agg(min(col("day") * 1000000000L + col("doc_id")).as("ord"))
      .select(pmod(col("ord"), lit(1000000000L)).as("doc_id"))
      .as[Long].collect().toSet
    assert(incremental == scratch)
    // the state rolls forward: after folding day-1 in, nothing survives a
    // third run of the SAME corpus (idempotent re-ingest)
    val full = state.unionByName(Incremental.fingerprintState(day1, "text")).distinct()
    assert(Incremental.dedupAgainstState(docs, "doc_id", "text", full).count() == 0)
  }

  test("bloom state parquet round-trip is bit-exact; probe keeps the no-false-negative guarantee") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
    val bits = Bloom.buildFromText(evalSet, col("text"))
    val path = tmp("bloom_state")
    Incremental.saveBloom(spark, path, bits, k = 3)
    val (loaded, k) = Incremental.loadBloom(spark, path)
    assert(k == 3 && java.util.Arrays.equals(loaded, bits))
    // every eval doc is still caught by the LOADED bits
    val missed = docs.join(evalSet.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(!Bloom.mightContainText(col("text"), loaded, k))
      .count()
    assert(missed == 0L)
  }

  test("sketch state tables: per-day HLL/KMV sketches persisted, reloaded, merged == direct") {
    import org.apache.spark.sql.functions._
    // the store-next-to-shard pattern the mergeable sketches exist for:
    // each daily run writes its sketch ROW to a state table; any later
    // roll-up merges the persisted bytes and must equal the sketch of
    // the union corpus bit-for-bit (binary columns round-trip parquet
    // exactly). HLL (max-merge) and KMV (bottom-k union) both carry the
    // unconditional-exact-merge contract.
    val spark2 = spark
    import spark2.implicits._
    val day0 = (1L to 30000L).map(i => i * 31L).toDF("k")
    val day1 = (20000L to 60000L).map(i => i * 31L).toDF("k") // overlap
    val dir = java.nio.file.Files.createTempDirectory("graft_sk_state").toString
    def dayRow(df: org.apache.spark.sql.DataFrame, day: Int) =
      df.agg(Hll.sketch(col("k")).as("hll"), Kmv.sketch(col("k")).as("kmv"))
        .withColumn("day", lit(day))
    dayRow(day0, 0).write.mode("overwrite").parquet(s"$dir/d0")
    dayRow(day1, 1).write.mode("overwrite").parquet(s"$dir/d1")
    val state = spark.read.parquet(s"$dir/d0").unionByName(spark.read.parquet(s"$dir/d1"))
    val rolled = state.agg(Hll.merge(col("hll")).as("hll"), Kmv.merge(col("kmv")).as("kmv"))
      .head()
    val direct = day0.unionByName(day1)
      .agg(Hll.sketch(col("k")).as("hll"), Kmv.sketch(col("k")).as("kmv")).head()
    assert(java.util.Arrays.equals(
      rolled.getAs[Array[Byte]]("hll"), direct.getAs[Array[Byte]]("hll")))
    assert(java.util.Arrays.equals(
      rolled.getAs[Array[Byte]]("kmv"), direct.getAs[Array[Byte]]("kmv")))
  }

  test("near-dups against history signatures: cross-run twins found, fresh docs pass") {
    val day1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about distributed query engines"),
      (3L, "a third document with its own unrelated words entirely"))
      .toDF("doc_id", "text")
    val path = tmp("sig_state")
    val state = Zones.materialize(Incremental.signatureState(day1, "doc_id", "text"), path)
    val day2 = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again"),
      (12L, "fresh never-seen material mentioning volcanoes and glaciers today"))
      .toDF("doc_id", "text")
    val pairs = Incremental.nearDupsAgainstState(day2, "doc_id", "text", state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((11L, 1L)), s"cross-run twin not found: $pairs")
    assert(!pairs.exists(_._1 == 12L), s"fresh doc falsely flagged: $pairs")
    OpCaches.releaseAll()
  }

  test("URL recrawl state: canonical keying, first-seen-wins, roll-forward (q138 invariant)") {
    // day-2 re-fetches differ from day-1 in case/tracker/trailing-slash
    // ONLY — a raw-string key would wave every one of them through
    val day1 = Seq(
      (2L, "https://www.site1.com/doc/1?utm_source=feed"),
      (4L, "https://www.site2.com/doc/2?utm_source=feed"),
      (6L, "https://www.site2.com/doc/2")  // same-day re-fetch: min id wins
    ).toDF("doc_id", "url")
    val day2 = Seq(
      (11L, "https://Site1.COM/doc/1/?fbclid=x"),  // seen day-1: drop
      (13L, "https://site3.com/doc/3"),            // new: survives
      (15L, "https://SITE3.com/doc/3?gclid=y"),    // within-day dup of 13
      (17L, "https://site4.com/doc/4")             // new
    ).toDF("doc_id", "url")
    val path = tmp("url_state")
    val empty = spark.range(0).select(col("id").as("url_fp"))
    val run1 = Incremental.dropSeenUrls(day1, "doc_id", "url", empty)
    assert(run1.select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
    val state = Zones.materialize(Incremental.urlState(day1, "url"), path)
    val run2 = Incremental.dropSeenUrls(day2, "doc_id", "url", state)
    assert(run2.select("doc_id").as[Long].collect().toSet == Set(13L, 17L))
    // roll the state forward; a day-3 re-fetch of a DAY-2 page drops too
    val path2 = tmp("url_state2")
    val state2 = Zones.materialize(
      state.unionByName(Incremental.urlState(day2, "url")).distinct(), path2)
    val day3 = Seq(
      (21L, "https://www.site4.com/doc/4?utm_medium=x"), // day-2 page
      (23L, "https://site9.com/brand-new")
    ).toDF("doc_id", "url")
    val run3 = Incremental.dropSeenUrls(day3, "doc_id", "url", state2)
    assert(run3.select("doc_id").as[Long].collect().toSet == Set(23L))
  }

  test("image recrawl state: re-encodes drop on the perceptual key, junk passes through (q142 invariant)") {
    val day1 = Multimodal.synthImagesShifted((0L until 12L).toDF("id"), "id",
      delta = 0)
    // day-2: brightness re-encodes of day-1 bases 0..5 (different bytes,
    // same dHash), genuinely new bases 100..102, one junk payload
    val reenc = Multimodal.synthImagesShifted((0L until 6L).toDF("id"), "id",
      delta = 20, idOffset = 1000L)
    // fresh bases ≡ 34 (mod 35) render 8×6 images — a rich sample grid
    // whose hash cannot collide with the tiny day-1 renders (bases with
    // degenerate 2-4 pixel grids share sparse hashes by construction;
    // that IS the dedup key's contract, so the fixture avoids them)
    val fresh = Multimodal.synthImagesShifted(
      Seq(34L, 69L, 104L).toDF("id"), "id", delta = 0, idOffset = 1000L)
    val junk = Seq((9999L, Array.fill[Byte](16)(3),
        null: String)).toDF("media_id", "payload", "x").drop("x")
      .withColumn("meta", lit(null).cast(Multimodal.mediaMetaSchema))
    val day2 = reenc.unionByName(fresh).unionByName(junk)
    val path = tmp("img_state")
    val state = Zones.materialize(Incremental.imageHashState(day1), path)
    val out = Incremental.dropSeenImages(day2, "media_id", state)
    val kept = out.select("media_id").as[Long].collect().toSet
    assert(kept == Set(1034L, 1069L, 1104L, 9999L), kept)
    // roll-forward: day-3 re-encode of a DAY-2 image drops too
    val path2 = tmp("img_state2")
    val state2 = Zones.materialize(
      state.unionByName(Incremental.imageHashState(day2)).distinct(), path2)
    val day3 = Multimodal.synthImagesShifted(Seq(69L).toDF("id"), "id",
      delta = 40, idOffset = 2000L)
    assert(Incremental.dropSeenImages(day3, "media_id", state2).count() == 0)
  }

  test("banded image state: drifted re-encodes drop within maxDist, distant images survive (q144 invariant)") {
    // crafted 10x7 grays: w=10/h=7 makes the dHash sample grid the
    // pixel grid itself, so every comparison bit is directly authored
    def grayPng(g: Array[Array[Int]]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(10, 7,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 7; x <- 0 until 10) {
        val v = g(y)(x)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = Array.tabulate(7, 10)((y, x) => (10 * x + 3 * y) % 200)
    // drift: one interior cell bumped — flips at most its two adjacent
    // comparisons (1-2 bits)
    val drifted = base.map(_.clone)
    drifted(3)(4) += 60
    // far: reversed gradient — many bits away
    val far = Array.tabulate(7, 10)((y, x) => (200 - 10 * x - 3 * y) % 200)
    val h0 = Multimodal.dHash63(grayPng(base)).get
    val hD = Multimodal.dHash63(grayPng(drifted)).get
    val hF = Multimodal.dHash63(grayPng(far)).get
    val dDrift = java.lang.Long.bitCount(h0 ^ hD)
    assert(dDrift >= 1 && dDrift <= 3, s"drift fixture moved $dDrift bits")
    assert(java.lang.Long.bitCount(h0 ^ hF) > 3, "far fixture too close")
    def media(rows: (Long, Array[Byte])*) =
      rows.toSeq.toDF("media_id", "payload")
        .withColumn("meta", lit(null).cast(Multimodal.mediaMetaSchema))
    val day1 = media(1L -> grayPng(base))
    val path = tmp("imgband_state")
    val state = Zones.materialize(Incremental.imageBandState(day1), path)
    val day2 = media(
      11L -> grayPng(drifted),   // within 3 bits: DROP (exact state missed it)
      12L -> grayPng(far),       // beyond 3 bits: survives
      13L -> grayPng(base),      // exact re-encounter (distance 0): DROP
      14L -> Array.fill[Byte](16)(3)) // junk: null hash, passes through
    val out = Incremental.dropSeenImagesWithinDist(day2, "media_id", state)
    assert(out.select("media_id").as[Long].collect().toSet == Set(12L, 14L))
    // the EXACT-hash state would have waved the drifted re-encode through
    val exactPath = tmp("img_exact_state")
    val exactOut = Incremental.dropSeenImages(day2, "media_id",
      Zones.materialize(Incremental.imageHashState(day1), exactPath))
    assert(exactOut.select("media_id").as[Long].collect().toSet ==
      Set(11L, 12L, 14L))
    // roll-forward: a day-3 drift of the DAY-2 survivor drops too
    val path2 = tmp("imgband_state2")
    val state2 = Zones.materialize(
      state.unionByName(Incremental.imageBandState(day2)).distinct(), path2)
    val farDrift = far.map(_.clone)
    farDrift(2)(6) += 60
    assert(java.lang.Long.bitCount(
      hF ^ Multimodal.dHash63(grayPng(farDrift)).get) <= 3)
    val day3 = media(21L -> grayPng(farDrift))
    assert(Incremental.dropSeenImagesWithinDist(day3, "media_id", state2).count() == 0)
    // over-full state bucket fails loudly (silent dropping would lose
    // the pigeonhole recall guarantee) — the guard rides the join plan
    // (r15: raise_error filter, no eager per-call job), so it fires at
    // the first action on the returned frame
    val fatState = (0L until 20L).map(i => (0, 0L, i << 10))
      .toDF("band", "bv", "dhash")
    val e = intercept[Exception](
      Incremental.dropSeenImagesWithinDist(day2, "media_id", fatState,
        maxBucket = 5).count())
    assert(messageChain(e).contains("maxBucket"))
    OpCaches.releaseAll()
  }

  test("audio recrawl state: polarity re-encodes drop on the fingerprint, junk passes (q145 invariant)") {
    val spark2 = spark
    import spark2.implicits._
    // day-1: ids 0..9, positive polarity
    val day1 = Multimodal.synthAudioSigned((0L until 10L).toDF("id"), "id",
      sign = 1)
    // day-2: polarity-inverted re-encodes of bases 0..5 (different bytes,
    // same fingerprint) + genuinely NEW clips, chosen so their
    // fingerprint is truly unseen (the 15-bit key is coarse — pick by
    // driver-side hash, not by hope)
    val day1Hashes = (0L until 10L)
      .flatMap(id => Multimodal.audioPHash15(Multimodal.synthWav(id))).toSet
    val freshIds = (100L until 200L).filter(id =>
      Multimodal.audioPHash15(Multimodal.synthWav(id))
        .exists(!day1Hashes.contains(_))).take(2)
    assert(freshIds.size == 2, "no fresh-fingerprint ids in [100, 200)")
    val reenc = Multimodal.synthAudioSigned((0L until 6L).toDF("id"), "id",
      sign = -1, idOffset = 1000L)
    val fresh = Multimodal.synthAudioSigned(freshIds.toDF("id"), "id",
      sign = 1, idOffset = 1000L)
    val junk = Seq((9999L, Array.fill[Byte](32)(7),
        null: String)).toDF("media_id", "payload", "x").drop("x")
      .withColumn("meta", lit(null).cast(Multimodal.mediaMetaSchema))
    val day2 = reenc.unionByName(fresh).unionByName(junk)
    val path = tmp("audio_state")
    val state = Zones.materialize(Incremental.audioHashState(day1), path)
    val out = Incremental.dropSeenAudio(day2, "media_id", state)
    val kept = out.select("media_id").as[Long].collect().toSet
    assert(kept == (freshIds.map(_ + 1000L).toSet + 9999L), kept)
    // roll-forward: a day-3 polarity flip of a DAY-2 clip drops too
    val path2 = tmp("audio_state2")
    val state2 = Zones.materialize(
      state.unionByName(Incremental.audioHashState(day2)).distinct(), path2)
    val day3 = Multimodal.synthAudioSigned(Seq(freshIds.head).toDF("id"),
      "id", sign = -1, idOffset = 2000L)
    assert(Incremental.dropSeenAudio(day3, "media_id", state2).count() == 0)
    OpCaches.releaseAll()
  }

  test("wide-audio band state: drifted re-encodes drop within maxDist, the 15-bit/exact paths miss them (q148 invariant)") {
    val spark2 = spark
    import spark2.implicits._
    // the drift fixture's law: a frame-0 level bump moves ONLY adjacent
    // compare bit 0 of the 31-bit fingerprint (0-1 bits)
    for (id <- 0L until 12L) {
      val h0 = Multimodal.audioPHash31(Multimodal.synthWav(id)).get
      val h1 = Multimodal.audioPHash31(Multimodal.synthWavBumped(id, 40)).get
      assert(java.lang.Long.bitCount(h0 ^ h1) <= 1, s"id=$id drift > 1 bit")
      // polarity inversion stays distance 0 on the wide hash too
      assert(Multimodal.audioPHash31(
        Multimodal.synthWavSigned(id, -1)).get == h0, s"id=$id polarity")
    }
    val day1 = Multimodal.synthAudio((0L until 10L).toDF("id"), "id")
    // drifted re-encodes of bases whose drift ACTUALLY flips the bit
    // (bump can land on an already-true compare — pick driver-side)
    val driftedBases = (0L until 10L).filter { id =>
      Multimodal.audioPHash31(Multimodal.synthWav(id)).get !=
        Multimodal.audioPHash31(Multimodal.synthWavBumped(id, 40)).get
    }
    assert(driftedBases.nonEmpty, "no base drifts under bump=40")
    val day1Wide = (0L until 10L).map(i =>
      Multimodal.audioPHash31(Multimodal.synthWav(i)).get).toSet
    def isFresh(id: Long): Boolean = {
      val h = Multimodal.audioPHash31(Multimodal.synthWav(id)).get
      !day1Wide.exists(h1 => java.lang.Long.bitCount(h ^ h1) <= 2)
    }
    val freshIds = (100L until 600L).filter(isFresh).take(2)
    assert(freshIds.size == 2, "no fresh wide-fingerprint ids found")
    val drift = Multimodal.synthAudioBumped(driftedBases.toDF("id"), "id",
      bump = 40, idOffset = 1000L)
    val fresh = Multimodal.synthAudio(freshIds.toDF("id"), "id")
      .withColumn("media_id", col("media_id") + 1000L)
    val junk = Seq((9999L, Array.fill[Byte](32)(7)))
      .toDF("media_id", "payload")
      .withColumn("meta", lit(null).cast(Multimodal.mediaMetaSchema))
    val day2 = drift.unionByName(fresh).unionByName(junk)
    val path = tmp("audioband_state")
    val state = Zones.materialize(Incremental.audioBandState(day1), path)
    val out = Incremental.dropSeenAudioWithinDist(day2, "media_id", state)
    val kept = out.select("media_id").as[Long].collect().toSet
    assert(kept == (freshIds.map(_ + 1000L).toSet + 9999L), kept)
    // the EXACT-hash audio state would have waved the drifted renders
    // through (that is the recall gap this state closes)
    val exactPath = tmp("audio_exact_state2")
    val exactKept = Incremental.dropSeenAudio(day2, "media_id",
        Zones.materialize(Incremental.audioHashState(day1), exactPath))
      .select("media_id").as[Long].collect().toSet
    // drifted renders whose bumped 15-BIT hash matches NO day-1 hash
    // survive the exact path (within-day first-seen-wins applied
    // driver-side, so 15-bit collisions cannot flake the expectation);
    // every one of them must be IN exactKept and OUT of the wide kept
    val day1H15 = (0L until 10L).map(i =>
      Multimodal.audioPHash15(Multimodal.synthWav(i)).get).toSet
    val surviving15 = driftedBases
      .map(b => b -> Multimodal.audioPHash15(
        Multimodal.synthWavBumped(b, 40)).get)
      .filter { case (_, h) => !day1H15.contains(h) }
      .groupBy(_._2).map { case (_, grp) => grp.map(_._1).min + 1000L }
      .toSet
    assert(surviving15.subsetOf(exactKept), s"$surviving15 vs $exactKept")
    assert(surviving15.intersect(kept).isEmpty)
    // roll-forward: a day-3 drift of a DAY-2 clip drops too
    val path2 = tmp("audioband_state2")
    val state2 = Zones.materialize(
      state.unionByName(Incremental.audioBandState(day2)).distinct(), path2)
    val day3 = Multimodal.synthAudioBumped(Seq(freshIds.head).toDF("id"),
      "id", bump = 40, idOffset = 2000L)
    assert(Incremental.dropSeenAudioWithinDist(day3, "media_id", state2).count() == 0)
    OpCaches.releaseAll()
  }

  test("video recrawl state: drifted animation re-encodes drop, fresh/trimmed-length survive (q147 invariant)") {
    val spark2 = spark
    import spark2.implicits._
    def seq(id: Long, delta: Int) =
      Multimodal.videoSeqHash(Multimodal.synthGifShifted(id, delta)).get
    def seqB(id: Long, delta: Int, bump: Int) =
      Multimodal.videoSeqHash(
        Multimodal.synthGifShiftedBumped(id, delta, bump)).get
    // the drift fixture's law: bump moves ONLY the first-frame anchor,
    // by at most 3 bits; mid/last anchors and frame count are unchanged
    for (id <- 0L until 10L) {
      val (n0, f0, m0, l0) = seq(id, 0)
      val (n1, f1, m1, l1) = seqB(id, 20, 30)
      assert(n0 == n1 && m0 == m1 && l0 == l1, s"id=$id non-first anchor moved")
      assert(java.lang.Long.bitCount(f0 ^ f1) <= 3, s"id=$id drift > 3 bits")
    }
    val day1 = Multimodal.synthGifsShifted((0L until 10L).toDF("id"), "id",
      delta = 0)
    // fresh ids: within-distance freshness verified DRIVER-side against
    // the actual drop rule (anchors are coarse on tiny grids — pick, not
    // hope; the q145 convention)
    val day1Seqs = (0L until 10L).map(seq(_, 0))
    def isFresh(id: Long): Boolean = {
      val (n, f, m, l) = seq(id, 0)
      !day1Seqs.exists { case (n1, f1, m1, l1) =>
        n1 == n && java.lang.Long.bitCount(f ^ f1) <= 3 &&
          java.lang.Long.bitCount(m ^ m1) <= 3 &&
          java.lang.Long.bitCount(l ^ l1) <= 3
      }
    }
    val freshIds = (100L until 400L).filter(isFresh).take(2)
    assert(freshIds.size == 2, "no fresh-fingerprint animation ids found")
    val drift = Multimodal.synthGifsShiftedBumped((0L until 6L).toDF("id"),
      "id", delta = 20, bump = 30, idOffset = 1000L)
    val fresh = Multimodal.synthGifsShifted(freshIds.toDF("id"), "id",
      delta = 0, idOffset = 1000L)
    val junk = Seq((9999L, Array.fill[Byte](24)(5)))
      .toDF("media_id", "payload")
      .withColumn("meta", lit(null).cast(Multimodal.mediaMetaSchema))
    val day2 = drift.unionByName(fresh).unionByName(junk)
    val path = tmp("vid_state")
    val state = Zones.materialize(Incremental.videoSeqState(day1), path)
    val out = Incremental.dropSeenVideoSeqs(day2, "media_id", state)
    val kept = out.select("media_id").as[Long].collect().toSet
    assert(kept == (freshIds.map(_ + 1000L).toSet + 9999L), kept)
    // roll-forward: a day-3 drift of a DAY-2 animation drops too
    val path2 = tmp("vid_state2")
    val state2 = Zones.materialize(
      state.unionByName(Incremental.videoSeqState(day2)).distinct(), path2)
    val day3 = Multimodal.synthGifsShiftedBumped(
      Seq(freshIds.head).toDF("id"), "id", delta = 10, bump = 20,
      idOffset = 2000L)
    assert(Incremental.dropSeenVideoSeqs(day3, "media_id", state2).count() == 0)
    // over-full state band bucket fails loudly — at the first action,
    // via the in-plan guard (r15)
    val fatState = (0L until 20L).map(i => (3, 0L, i << 20, i << 21))
      .toDF("n_frames", "h_first", "h_mid", "h_last")
    val e = intercept[Exception](
      Incremental.dropSeenVideoSeqs(day2, "media_id", fatState,
        maxBucket = 5).count())
    assert(messageChain(e).contains("maxBucket"))
    OpCaches.releaseAll()
  }

  test("curateWeb(seenUrls): the recrawl drop happens before extraction, survivors unchanged otherwise") {
    def p(t: String) = s"<html><body><p>$t</p></body></html>"
    val T = "the quick brown fox jumps over the lazy dog and runs to " +
      "the river where it drinks water in peace today"
    val day1 = Seq(
      (1L, "https://alpha.com/a", p(T + " page alpha a")),
      (2L, "https://beta.com/b", p(T + " page beta b"))
    ).toDF("doc_id", "url", "html")
    val day2 = Seq(
      (11L, "https://ALPHA.com/a/?utm_source=x", p(T + " page alpha a")),  // recrawl
      (12L, "https://gamma.com/c", p(T + " page gamma c"))                 // new
    ).toDF("doc_id", "url", "html")
    val path = tmp("web_url_state")
    val out = Curation.curateWeb(day2, "doc_id", "url", "html",
      allowedLangs = Seq("en"), minQuality = 10,
      seenUrls = Some(Zones.materialize(Incremental.urlState(day1, "url"), path)))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(12L))
    // without the state the recrawl survives (content differs per page,
    // so content dedup alone cannot catch it)
    val noState = Curation.curateWeb(day2, "doc_id", "url", "html",
      allowedLangs = Seq("en"), minQuality = 10)
    assert(noState.select("doc_id").as[Long].collect().toSet == Set(11L, 12L))
  }

  test("a state hand-off into the path it reads is refused and leaves the state intact") {
    val day1 = Seq((1L, "https://alpha.com/a"), (2L, "https://beta.com/b"))
      .toDF("doc_id", "url")
    val day2 = Seq((3L, "https://gamma.com/c")).toDF("doc_id", "url")
    val path = tmp("inplace_state")
    Zones.materialize(Incremental.urlState(day1, "url"), path)
    def parts: Map[String, Seq[Byte]] = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val before = parts
    // a fresh JVM's reload, with the state's schema
    val state = Zones.read(spark, path, "parquet", Incremental.urlState(day1, "url").schema)
    // Spark's overwrite deletes the path before the frame reads it: a
    // map-only prune, and an in-place roll-forward once AQE is off, would
    // fail on the missing files and leave the state directory empty
    val inPlace = Seq(
      "prune" -> state.filter(col("url_fp") =!= 0L),
      "roll-forward" -> state.unionByName(Incremental.urlState(day2, "url")).distinct())
    for ((name, handOff) <- inPlace) {
      val e = intercept[IllegalArgumentException](Zones.materialize(handOff, path))
      assert(e.getMessage.contains("the frame reads from it"), name)
      assert(parts == before, name)
      assert(Zones.readParquet(spark, path).count() == 2L, name)
    }
  }

  test("state hand-off job counts: the read-back starts no job, q86's constructor starts 3") {
    val probe = graft.tools.Probe(spark)
    val state = Incremental.fingerprintState(
      spark.read.parquet(s"$sf/documents.parquet"), "text")
    val write = probe.measure(Zones.writeParquet(state, tmp("fp_write")))._2.jobs
    val path = tmp("fp_handoff")
    val handOff = probe.measure(Zones.materialize(state, path))._2.jobs
    assert(handOff == write, s"hand-off $handOff jobs vs write $write")
    // a reload infers the schema from the footers in a job, unless given it
    val (inferred, inferJobs) = probe.measure(Zones.readParquet(spark, path))
    assert(inferJobs.jobs == 1L, s"inferring reload started ${inferJobs.jobs} jobs")
    val (reloaded, reloadJobs) = probe.measure(Zones.read(spark, path, "parquet", state.schema))
    assert(reloadJobs.jobs == 0L, s"reload with the schema started ${reloadJobs.jobs} jobs")
    assert(reloaded.schema == inferred.schema && reloaded.count() == inferred.count())
    val q86 = probe.measure(
      graft.queries.DataOpsQueries.q86IncrementalDedup(spark, sf))._2.jobs
    assert(q86 == 3L, s"q86 constructor started $q86 jobs")
    OpCaches.releaseAll()
  }
}
