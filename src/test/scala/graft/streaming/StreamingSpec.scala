package graft.streaming

import graft.GraftSession
import graft.queries.EventQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  val sfDir = "/root/testdata/sf0.001"

  /** Events with the canonical schema-driven `event_time`/`ts_ns` columns
    * (EventQueries.normalized — works for both nano-long and timestamp[us]
    * testdata encodings). */
  def normalizedEvents = EventQueries.normalized(
    spark.read.parquet(s"$sfDir/events.parquet"))

  test("streaming bronze shred over the raw zone (AvailableNow) matches batch shred") {
    import graft.etl.Bronze
    val rawDir = java.nio.file.Files.createTempDirectory("graft_rawzone")
    // land two raw files, as the daily fetcher would
    val doc =
      """[{"id": "p1", "name": "P", "public": true,
        |  "owner": {"id": "o"}, "followers": {"total": 5},
        |  "tracks": {"total": 1, "items": [
        |    {"track": {"id": "t1", "name": "T", "duration_ms": 1000,
        |      "popularity": 5, "explicit": false, "track_number": 1,
        |      "album": {"id": "a1", "name": "A", "release_date": "2020-01-01",
        |        "release_date_precision": "day", "total_tracks": 1},
        |      "artists": [{"id": "r1", "name": "R"}]}}]}}]""".stripMargin
    java.nio.file.Files.writeString(rawDir.resolve("f1.json"), doc)
    java.nio.file.Files.writeString(rawDir.resolve("f2.json"), doc.replace("p1", "p2"))
    val out = java.nio.file.Files.createTempDirectory("graft_sbronze").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    Streams.runBronzeOnce(spark, rawDir.toString, "tracks", out, ckpt)
    val streamed = spark.read.parquet(s"$out/tracks")
    assert(streamed.count() == 2)
    val batch = Bronze.tracks(Bronze.readRaw(spark, rawDir.toString))
    assert(streamed.orderBy("playlist_id").collect().toSeq ==
      batch.orderBy("playlist_id").collect().toSeq)
    val unknown = intercept[IllegalArgumentException](
      Streams.runBronzeOnce(spark, rawDir.toString, "tracklist", out, ckpt))
    assert(unknown.getMessage == "unknown table tracklist")
  }

  test("windowed counts with watermark over the events table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val events = normalizedEvents
      .select(col("event_time"), col("event_type"), col("value"))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    mem.addData(events.as[(java.sql.Timestamp, String, Double)].collect().toSeq)
    val agg = Streams.windowedCounts(
      mem.toDF().toDF("event_time", "event_type", "value"))
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("win_counts").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("win_counts")
    val expected = events.groupBy(date_trunc("hour", col("event_time")), col("event_type"))
      .count().count()
    assert(got.count() == expected)
    assert(got.agg(sum("n")).head().getLong(0) == events.count())
  }

  test("streaming dedup drops watermark-window duplicates, matches batch distinct") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = normalizedEvents
      .select(col("event_id"), col("event_time"))
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    // replay every event twice in the same batch — the retry/replay shape
    mem.addData(events ++ events)
    val deduped = Streams.dedupStream(
      mem.toDF().toDF("event_id", "event_time"), Seq("event_id"))
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_stream").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_stream").count() == events.size)
    assert(spark.table("dedup_stream").select("event_id").distinct().count() == events.size)
  }

  test("streaming curation matches the batch stages on a replayed corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.TextOps
    val langs = Seq("en", "de", "fr", "es")
    // +1s offset: a row at exactly epoch 0 equals the operator's INITIAL
    // watermark and is treated as late — degenerate for synthetic stamps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        timestamp_micros(col("doc_id") * 1000L + 1000000L).as("event_time"))
    val rows = docs.as[(Long, String, java.sql.Timestamp)].collect().toSeq
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    mem.addData(rows ++ rows) // the retry/replay duplicate shape
    val curated = Streams.curateStream(
      mem.toDF().toDF("doc_id", "text", "event_time"), "text", langs, minQuality = 40)
    val q = curated.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("curate_stream").start()
    q.processAllAvailable(); q.stop()
    // batch twin of the stateless stages + first-seen text dedup
    val batch = docs
      .filter(TextOps.langGuess(col("text")).isInCollection(langs))
      .filter(TextOps.qualityScore(col("text")) >= 40)
      .select(TextOps.redactEmails(col("text")).as("text")).distinct()
    assert(spark.table("curate_stream").count() == batch.count())
    assert(spark.table("curate_stream").select("text")
      .except(batch).count() == 0)
  }

  test("streaming web-curation twin matches batch curateWeb (dedup-invariant projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.{Curation, TextOps}
    implicit val sq = spark.sqlContext
    def p(t: String) = s"<p>$t</p>"
    val T1 = "the quick brown fox jumps over the lazy dog and runs to " +
      "the river where it drinks water in peace today"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val rows = Seq(
      (1L, "https://alpha.com/a", p(T1 + " contact a@b.io"), at(0)),
      (2L, "https://alpha.com/b", p(T1 + " !! contact a@b.io"), at(1)), // dup
      (3L, "https://alpha.com/app.js", p(T1), at(2)),   // asset drop
      (4L, "https://bad.org/x", p(T1), at(3)),          // blocklist drop
      (5L, "ftp://alpha.com/x", p(T1), at(4)),          // scheme drop
      (7L, "https://beta.org/de", p("der hund und die katze laufen " +
        "schnell durch den garten immer"), at(5)),      // lang drop
      (10L, "https://big.com/p0", p(T1 + " landmark zero"), at(6)),
      (11L, "https://big.com/p1", p(T1 + " landmark one"), at(7)))
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    mem.addData(rows)
    val stream = Streams.curateWebStream(
      mem.toDF().toDF("doc_id", "url", "html", "event_time"),
      "url", "html", allowedLangs = Seq("en"), minQuality = 40,
      blockedDomains = Seq("bad.org"))
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("webcurate_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("webcurate_stream")
    // batch twin (no cap — the documented lambda split), same rows
    val batch = Curation.curateWeb(
      rows.toDF("doc_id", "url", "html", "event_time"),
      "doc_id", "url", "html", allowedLangs = Seq("en"), minQuality = 40,
      blockedDomains = Seq("bad.org"))
    // dedup keeps ONE of {1,2} on both sides (batch: min id; stream:
    // first seen) — compare the dedup-INVARIANT projection: the
    // normalized content key set and the survivor count
    assert(streamed.count() == batch.count())
    val kStream = streamed
      .select(TextOps.dedupKey(col("content_scrubbed")).as("k"))
    val kBatch = batch
      .select(TextOps.dedupKey(col("content_scrubbed")).as("k"))
    assert(kStream.except(kBatch).count() == 0)
    assert(kBatch.except(kStream).count() == 0)
    // annotation parity on a deterministic survivor (id 10): identical
    // columns and values through both paths
    val s10 = streamed.filter(col("doc_id") === 10L)
      .select("canonical_url", "url_domain", "n_email", "content_scrubbed")
      .head()
    val b10 = batch.filter(col("doc_id") === 10L)
      .select("canonical_url", "url_domain", "n_email", "content_scrubbed")
      .head()
    assert(s10 == b10, s"$s10 vs $b10")
  }

  test("streaming web-curation with persisted URL state == batch curateWeb(seenUrls)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.{Curation, Incremental}
    implicit val sq = spark.sqlContext
    def p(t: String) = s"<p>$t</p>"
    val T1 = "the quick brown fox jumps over the lazy dog and runs to " +
      "the river where it drinks water in peace today"
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // day-1 crawl seeds the persisted canonical-URL state
    val day1 = Seq(
      (1L, "https://alpha.com/a"),
      (2L, "https://beta.com/b")).toDF("doc_id", "url")
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_url_stream").resolve("s.parquet").toString
    val state = graft.etl.Zones.materialize(Incremental.urlState(day1, "url"), statePath)
    // day-2: one recrawl (different surface form), two new pages, then a
    // LATER within-run re-fetch of one of them with DIFFERENT dynamic
    // content (14 vs 12) — the URL-level dedup on the seenUrls seam must
    // keep one even though the content fingerprints differ (the
    // downstream content dedup alone would keep both). The re-fetch
    // arrives in a second micro-batch so stream first-seen is
    // deterministic and agrees with batch min-id.
    val rows = Seq(
      (11L, "https://ALPHA.com/a/?utm_source=x", p(T1 + " alpha again"), at(0)),
      (12L, "https://gamma.com/c", p(T1 + " gamma page"), at(1)),
      (13L, "https://delta.com/d", p(T1 + " delta page"), at(2)))
    val refetch =
      (14L, "https://GAMMA.com/c/?fbclid=z", p(T1 + " gamma but refreshed"), at(3))
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    mem.addData(rows)
    val stream = Streams.curateWebStream(
      mem.toDF().toDF("doc_id", "url", "html", "event_time"),
      "url", "html", allowedLangs = Seq("en"), minQuality = 40,
      seenUrls = Some(state))
    val q = stream.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("webcurate_inc_stream").start()
    q.processAllAvailable()
    mem.addData(refetch)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("webcurate_inc_stream")
    val batch = Curation.curateWeb(
      (rows :+ refetch).toDF("doc_id", "url", "html", "event_time"),
      "doc_id", "url", "html", allowedLangs = Seq("en"), minQuality = 40,
      seenUrls = Some(state))
    assert(streamed.select("doc_id").as[Long].collect().toSet == Set(12L, 13L))
    assert(batch.select("doc_id").as[Long].collect().toSet == Set(12L, 13L))
    // annotation parity through both paths on a surviving row
    val cols = Seq("canonical_url", "url_domain", "content_scrubbed")
    assert(streamed.filter(col("doc_id") === 12L).select(cols.map(col): _*).head() ==
      batch.filter(col("doc_id") === 12L).select(cols.map(col): _*).head())
  }

  test("streaming perceptual image dedup: brightness re-encodes drop, hash set matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Multimodal
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(m: Long) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val ids = 0L until 10L
    // originals plus brightness-shifted re-encodes (different payload
    // bytes, identical dHash) and one non-decodable payload (passes
    // through un-deduped by contract)
    val rows = ids.map(i => (i, Multimodal.synthPngShifted(i, 0), at(i))) ++
      ids.map(i => (i + 1000L, Multimodal.synthPngShifted(i, 20), at(i + 20))) :+
      ((5000L, Array.fill[Byte](16)(7), at(40)))
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    mem.addData(rows)
    val q = Streams.imageDedupStream(
        mem.toDF().toDF("media_id", "payload", "event_time"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("img_dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("img_dedup_stream")
    // one survivor per perceptual group; the junk row PASSES THROUGH
    // un-deduped (null hash is not a dedup key — the batch
    // dropSeenImages contract)
    assert(out.count() == 11)
    assert(out.filter(col("media_id") === 5000L).count() == 1)
    val streamHashes = out.filter(col("dhash").isNotNull)
      .select("dhash").as[Long].collect().toSet
    val batchHashes = Multimodal.withImageDHash(
        rows.toDF("media_id", "payload", "event_time"))
      .filter(col("dhash").isNotNull)
      .select("dhash").distinct().as[Long].collect().toSet
    assert(streamHashes == batchHashes)
  }

  test("streaming perceptual audio dedup: polarity twins drop, junk passes through") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Multimodal
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(m: Long) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val ids = 0L until 8L
    val rows = ids.map(i => (i, Multimodal.synthWavSigned(i, 1), at(i))) ++
      ids.map(i => (i + 1000L, Multimodal.synthWavSigned(i, -1), at(i + 20))) :+
      ((5000L, Array.fill[Byte](32)(9), at(40)))
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    mem.addData(rows)
    val q = Streams.audioDedupStream(
        mem.toDF().toDF("media_id", "payload", "event_time"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("audio_dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("audio_dedup_stream")
    // ids 0..7 render distinct fingerprints at this scale; each polarity
    // twin dedups onto its original, junk passes through
    val nDistinct = Multimodal.withAudioPHash(
        rows.toDF("media_id", "payload", "event_time"))
      .filter(col("ahash").isNotNull)
      .select("ahash").distinct().count()
    assert(out.filter(col("ahash").isNotNull).count() == nDistinct)
    assert(out.filter(col("media_id") === 5000L).count() == 1)
  }

  test("streaming video-sequence dedup: re-encoded animations drop, trims and junk pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.ops.Multimodal
    implicit val sq = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(m: Long) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val ids = 0L until 8L
    // originals + brightness-shifted re-encodes (different bytes,
    // identical sequence fingerprint) + junk
    val rows = ids.map(i => (i, Multimodal.synthGifShifted(i, 0), at(i))) ++
      ids.map(i => (i + 1000L, Multimodal.synthGifShifted(i, 15), at(i + 20))) :+
      ((5000L, Array.fill[Byte](24)(3), at(40)))
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    mem.addData(rows)
    val q = Streams.videoDedupStream(
        mem.toDF().toDF("media_id", "payload", "event_time"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("video_dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("video_dedup_stream")
    // stream==batch: survivors carry exactly the batch-distinct
    // fingerprint set; junk passes through un-deduped
    val batch = Multimodal.withVideoSeqHash(
        rows.toDF("media_id", "payload", "event_time"))
      .filter(col("h_first").isNotNull)
      .select("n_frames", "h_first", "h_mid", "h_last").distinct()
    assert(out.filter(col("h_first").isNotNull).count() == batch.count())
    assert(out.filter(col("h_first").isNotNull)
      .select("n_frames", "h_first", "h_mid", "h_last")
      .exceptAll(batch).count() == 0)
    assert(out.filter(col("media_id") === 5000L).count() == 1)
  }

  test("streaming bloom decontamination matches the batch probe") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val evalSet = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val bits = graft.ops.Bloom.buildFromText(evalSet, col("text"))
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows)
    val clean = mem.toDF().toDF("doc_id", "text")
      .filter(!graft.ops.Bloom.mightContainText(col("text"), bits))
    val q = clean.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decontam_stream").start()
    q.processAllAvailable(); q.stop()
    val batchClean = docs
      .filter(!graft.ops.Bloom.mightContainText(col("text"), bits))
      .select("doc_id")
    val streamed = spark.table("decontam_stream").select("doc_id")
    assert(streamed.count() == batchClean.count())
    assert(streamed.except(batchClean).count() == 0)
    // nothing from the eval suite survives (no-false-negative guarantee)
    assert(streamed.join(evalSet, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("streaming PII scrub matches the batch scrub, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // plant every PII class on top of the corpus text (the q122 shape)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 3,
          lit(" 555-123-4567")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 5,
          lit(" 10.1.2.3")).otherwise(lit(""))).as("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    // two micro-batches: the scrub is stateless, so the split must be
    // invisible in the result
    val (b1, b2) = rows.splitAt(rows.size / 2)
    mem.addData(b1); mem.addData(b2)
    val scrubbed = graft.ops.Pii.scrub(
      mem.toDF().toDF("doc_id", "text"), "text")
    val q = scrubbed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("pii_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = graft.ops.Pii.scrub(docs, "text")
    val got = spark.table("pii_stream")
    assert(got.count() == batch.count())
    assert(got.except(batch).count() == 0 && batch.except(got).count() == 0)
    // the planted classes actually fired through the stream
    assert(got.agg(sum("n_email")).head().getLong(0) > 0)
    assert(got.agg(sum("n_phone")).head().getLong(0) > 0)
    assert(got.agg(sum("n_ip")).head().getLong(0) > 0)
  }

  test("streaming normalized dedup collapses case/punct replays to one survivor") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        timestamp_micros(col("doc_id") * 1000L + 1000000L).as("event_time"))
      .as[(Long, String, java.sql.Timestamp)].collect().toSeq
    // replay every row as an UPPERCASED + trailing-punct mutant (the q123
    // mutation): a raw-text key keeps both, the normalized key must not
    val mutants = base.map { case (id, t, ts) =>
      (id + 5000000L, t.toUpperCase + " !!", ts)
    }
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    mem.addData(base); mem.addData(mutants)
    val out = Streams.normalizedDedupStream(
      mem.toDF().toDF("doc_id", "text", "event_time"), "text")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("norm_dedup_stream").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("norm_dedup_stream")
    // one survivor per distinct normalized key of the ORIGINAL corpus —
    // every mutant hit an already-seen key (well inside the watermark)
    val batchKeys = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.ops.TextOps.dedupKey(col("text")).as("k"))
      .distinct().count()
    assert(got.count() == batchKeys)
    assert(got.filter(col("doc_id") >= 5000000L).count() == 0,
      "a mutant survived past its original")
  }

  test("streaming dedup against persisted state matches the batch bloom-state path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.{Bloom, Incremental}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val day0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val day1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    // "yesterday's" state persisted and reloaded — the cross-run artifact
    val path = java.nio.file.Files.createTempDirectory("bloom_state")
      .resolve("state.parquet").toString
    Incremental.saveBloom(spark, path, Bloom.buildFromText(day0, col("text")))
    val (bits, k) = Incremental.loadBloom(spark, path)
    val rows = day1.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows ++ rows.take(200)) // replay-duplicate shape
    val clean = Streams.dedupAgainstStateStream(
      mem.toDF().toDF("doc_id", "text"), "text", bits, k)
    val q = clean.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("incdedup_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("incdedup_stream")
    // batch twin on the same loaded bits: survive the state probe, then
    // one survivor per within-day fingerprint
    graft.functions.NativeFunctions.register(spark)
    val batchFps = day1
      .filter(!Bloom.mightContainText(col("text"), bits, k))
      .select(graft.functions.NativeFunctions
        .graft_fingerprint(col("text")).as("fp"))
      .distinct()
    // exactly one survivor per distinct fingerprint, the same fp set as
    // batch (arrival order decides WHICH id survives in a stream, so the
    // comparison is on fingerprints — the state contract — not ids)
    assert(streamed.count() == batchFps.count())
    assert(streamed.select("fp").except(batchFps).count() == 0)
    assert(batchFps.except(streamed.select("fp")).count() == 0)
  }

  test("streaming distinct sketch: per-window registers bit-identical to batch, replay-idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.Hll
    val events = normalizedEvents
      .select(col("user_id"), col("event_time"))
    val rows = events.as[(Long, java.sql.Timestamp)].collect().toSeq
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    // two micro-batches with an overlapping replayed slice: the sketch
    // must merge across batches and absorb the duplicates
    val (first, second) = rows.splitAt(rows.size / 2)
    mem.addData(first)
    mem.addData(second ++ first.take(500))
    val agg = Streams.distinctSketchStream(
      mem.toDF().toDF("user_id", "event_time"), "user_id")
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hll_stream").start()
    q.processAllAvailable(); q.stop()
    // The Update-mode memory sink emits one row per window per micro-batch
    // and `last` over an unordered groupBy is non-deterministic — picking
    // "the final batch" that way can select a partial sketch and flake.
    // HLL merge is idempotent (elementwise max) and every earlier emission
    // is dominated by the final state, so max-merging ALL updates per
    // window IS the final state, order-independently.
    val streamed = spark.table("hll_stream")
      .groupBy("window").agg(Hll.merge(col("sketch")).as("sketch"))
      .withColumn("est", Hll.estimate(col("sketch")))
      .collect().map(r => r.get(0).toString ->
        (r.getAs[Array[Byte]]("sketch").toSeq, r.getLong(2))).toMap
    val batch = events
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(Hll.sketch(col("user_id")).as("sketch"))
      .select(col("window"), col("sketch"), Hll.estimate(col("sketch")).as("est"))
      .collect().map(r => r.get(0).toString ->
        (r.getAs[Array[Byte]]("sketch").toSeq, r.getLong(2))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (w, (sk, est)) =>
      assert(sk == batch(w)._1, s"window $w sketch diverged")
      assert(est == batch(w)._2, s"window $w estimate diverged")
    }
  }

  test("streaming quantile sketch: per-window buckets bit-identical to batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.DdSketch
    val events = normalizedEvents
      .select(col("value"), col("event_time"))
    val rows = events.as[(Double, java.sql.Timestamp)].collect().toSeq
    val mem = MemoryStream[(Double, java.sql.Timestamp)]
    // two DISJOINT micro-batches: bucket addition is associative but not
    // idempotent, so (unlike the HLL twin) replayed source rows would
    // double-count by design — dedup belongs upstream
    val (first, second) = rows.splitAt(rows.size / 2)
    mem.addData(first)
    mem.addData(second)
    val agg = Streams.quantileSketchStream(
      mem.toDF().toDF("value", "event_time"), "value")
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("dd_stream").start()
    q.processAllAvailable(); q.stop()
    // Update mode emits each window's CUMULATIVE state once per touching
    // micro-batch; the final state is the emission with the max value
    // count (monotone in folded rows) — order-independent, no last()
    val streamed = spark.table("dd_stream")
      .select(col("window").cast("string"), col("sketch")).collect()
      .groupBy(_.getString(0))
      .map { case (w, rs) =>
        w -> rs.map(_.getAs[Array[Byte]]("sketch"))
          .maxBy(graft.functions.DdBits.count).toSeq }
    val batch = events
      .groupBy(window(col("event_time"), "1 hour"))
      .agg(DdSketch.sketch(col("value")).as("sketch"))
      .select(col("window").cast("string"), col("sketch")).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sketch").toSeq).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (w, sk) =>
      assert(sk == batch(w), s"window $w sketch diverged from batch build")
    }
  }

  test("streaming weighted sample matches the batch operator, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.{Sampling, TextOps}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows ++ rows) // the retry/replay duplicate shape
    val weight = TextOps.qualityScore(col("text")) // the q68 weighting
    val kept = Sampling.weightedSample(
      mem.toDF().toDF("doc_id", "text"), "doc_id", weight)
    val q = kept.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wsample_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = Sampling.weightedSample(docs, "doc_id", weight).select("doc_id")
    val streamed = spark.table("wsample_stream").select("doc_id")
    // stateless determinism: the replayed copy keeps exactly the same
    // rows, so the stream holds each batch-kept id exactly twice
    assert(streamed.count() == 2 * batch.count())
    assert(streamed.distinct().except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming DSIR scoring matches the batch weights, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.Dsir
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = Dsir.importanceModel(
      docs.filter(col("lang") === "en"), docs, "text")
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows ++ rows) // the retry/replay duplicate shape
    val scored = mem.toDF().toDF("doc_id", "text").select(col("doc_id"),
      Dsir.score(model, col("text")).as("weight_x1e8"))
    val q = scored.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dsir_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = docs.select(col("doc_id"),
      Dsir.score(model, col("text")).as("weight_x1e8"))
    val streamed = spark.table("dsir_stream")
    // every (id, weight) row appears exactly twice with identical weights
    assert(streamed.count() == 2 * batch.count())
    assert(streamed.distinct().except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming mixture balance matches the batch selection, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.Curation
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val targets = Map("en" -> 4000, "de" -> 1500, "es" -> 1500,
      "fr" -> 1500, "zh" -> 1500)
    val counts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val thr = Curation.mixtureThresholds(counts, targets)
    val rows = docs.select(col("doc_id"), col("lang"))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows ++ rows) // the retry/replay duplicate shape
    val kept = Curation.applyMixtureThresholds(
      mem.toDF().toDF("doc_id", "lang"), "doc_id", "lang", thr)
    val q = kept.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mix_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = Curation.mixtureBalance(docs, "doc_id", "lang", targets)
      .select("doc_id")
    val streamed = spark.table("mix_stream").select("doc_id")
    assert(streamed.count() == 2 * batch.count())
    assert(streamed.distinct().except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming hash split matches the batch assignment, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.Splits
    val splits = Seq("train" -> 9000, "holdout" -> -1)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rows = docs.select(col("doc_id")).as[Long].collect().toSeq
    val mem = MemoryStream[Long]
    mem.addData(rows ++ rows) // the retry/replay duplicate shape
    val labeled = Splits.hashSplit(
      mem.toDF().toDF("doc_id"), "doc_id", splits, seed = 3)
    val q = labeled.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("split_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = Splits.hashSplit(docs.select("doc_id"), "doc_id", splits, seed = 3)
    val streamed = spark.table("split_stream")
    assert(streamed.count() == 2 * batch.count())
    assert(streamed.distinct().except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming time-decay sample applies the batch reference day, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.ops.Sampling
    val dayNs = 86400L * 1000000000L
    val ev = normalizedEvents.select(col("event_id"), col("ts_ns"))
    // the daily-cadence reference: batch-side corpus max day
    val refDay = ev.agg(max(expr(s"ts_ns div $dayNs"))).head().getLong(0)
    val rows = ev.as[(Long, Long)].collect().toSeq
    val mem = MemoryStream[(Long, Long)]
    mem.addData(rows ++ rows) // replay shape
    // plus a strictly-newer row than the reference day: must always pass
    val newerId = rows.map(_._1).max + 1
    mem.addData(Seq((newerId, (refDay + 3) * dayNs)))
    val kept = Sampling.applyTimeDecay(
      mem.toDF().toDF("event_id", "ts_ns"), "event_id", "ts_ns", refDay,
      decayBpPerDay = 3000, floorBp = 1000)
    val q = kept.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decay_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = Sampling.applyTimeDecay(ev, "event_id", "ts_ns", refDay,
      decayBpPerDay = 3000, floorBp = 1000).select("event_id")
    val streamed = spark.table("decay_stream").select("event_id")
    assert(streamed.filter(col("event_id") === newerId).count() == 1)
    val old = streamed.filter(col("event_id") =!= newerId)
    assert(old.count() == 2 * batch.count())
    assert(old.distinct().except(batch).count() == 0)
    assert(batch.except(old).count() == 0)
  }

  test("streaming despan matches the batch rewrite, replay-deterministic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.NativeFunctions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rows = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows ++ rows) // the retry/replay duplicate shape
    val cleaned = mem.toDF().toDF("doc_id", "text").withColumn("text",
      graft.functions.NativeFunctions.graft_despan(col("text"), 8))
    val q = cleaned.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("despan_stream").start()
    q.processAllAvailable(); q.stop()
    val batch = docs.withColumn("text",
      graft.functions.NativeFunctions.graft_despan(col("text"), 8))
    val streamed = spark.table("despan_stream")
    assert(streamed.count() == 2 * batch.count())
    assert(streamed.distinct().except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("stateful sessionization matches the batch q30 oracle query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = normalizedEvents
      .select(col("user_id"), col("ts_ns"))
      .as[Streams.SessionEvent]
    val mem = MemoryStream[Streams.SessionEvent]
    mem.addData(events.collect().toSeq)
    val q = Streams.sessionize(mem.toDS()).writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    // last update per user == final state
    val streamed = spark.table("sessions")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
    val batch = EventQueries.q30Sessionize(spark, sfDir)
    val mismatch = streamed.join(batch.withColumnRenamed("n_events", "b_events")
        .withColumnRenamed("n_sessions", "b_sessions"), Seq("user_id"))
      .filter(col("n_events") =!= col("b_events") || col("n_sessions") =!= col("b_sessions"))
    assert(batch.count() == streamed.count())
    assert(mismatch.count() == 0)
  }

  test("funnel stream: per-depth session counts equal batch q116 across a split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = normalizedEvents
      .select(col("user_id"), col("ts_ns"), col("event_type"))
      .as[Streams.FunnelEvent].collect().toSeq.sortBy(_.ts_ns)
    val (first, second) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[Streams.FunnelEvent]
    val q = Streams.funnelStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("funnel_split").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    // depth is monotone per session: last update == max == final depth
    val streamed = spark.table("funnel_split")
      .groupBy("user_id", "session_id").agg(max("depth").as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_sessions"))
    val batch = EventQueries.q116Funnel(spark, sfDir)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("gap stream: cross-batch gaps equal the batch lag window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = normalizedEvents
      .select(col("user_id"), col("ts_ns"))
      .as[Streams.SessionEvent].collect().toSeq.sortBy(_.ts_ns)
    val (first, second) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[Streams.SessionEvent]
    val q = Streams.gapStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("gaps_split").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gaps_split")
    // batch twin: the q117 lag window; the boundary gap between the two
    // micro-batches must come out of the GroupState, not vanish
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns")
    val batch = normalizedEvents.select(col("user_id"), col("ts_ns"))
      .withColumn("gap_ns", col("ts_ns") - lag("ts_ns", 1).over(w))
      .filter(col("gap_ns").isNotNull)
      .select("user_id", "ts_ns", "gap_ns")
    assert(batch.count() == streamed.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("funnel/gap streams: arrival order WITHIN a micro-batch is irrelevant") {
    // Out-of-order replay drill (r9 verdict item 7), half 1: both
    // stateful twins sort each in-batch slice by ts_ns before the state
    // scan, so ANY arrival order inside a micro-batch must land on the
    // batch answer. Each half is deterministically shuffled before
    // feeding; the batch comparisons are the same as the ordered tests.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val frows = normalizedEvents
      .select(col("user_id"), col("ts_ns"), col("event_type"))
      .as[Streams.FunnelEvent].collect().toSeq.sortBy(_.ts_ns)
    val (f1, f2) = frows.splitAt(frows.size / 2)
    val fmem = MemoryStream[Streams.FunnelEvent]
    val fq = Streams.funnelStream(fmem.toDS()).writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("funnel_shuffled").start()
    fmem.addData(rnd.shuffle(f1)); fq.processAllAvailable()
    fmem.addData(rnd.shuffle(f2)); fq.processAllAvailable()
    fq.stop()
    val fStreamed = spark.table("funnel_shuffled")
      .groupBy("user_id", "session_id").agg(max("depth").as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_sessions"))
    val fBatch = EventQueries.q116Funnel(spark, sfDir)
    assert(fStreamed.exceptAll(fBatch).count() == 0 &&
      fBatch.exceptAll(fStreamed).count() == 0)

    val grows = normalizedEvents
      .select(col("user_id"), col("ts_ns"))
      .as[Streams.SessionEvent].collect().toSeq.sortBy(_.ts_ns)
    val (g1, g2) = grows.splitAt(grows.size / 2)
    val gmem = MemoryStream[Streams.SessionEvent]
    val gq = Streams.gapStream(gmem.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("gaps_shuffled").start()
    gmem.addData(rnd.shuffle(g1)); gq.processAllAvailable()
    gmem.addData(rnd.shuffle(g2)); gq.processAllAvailable()
    gq.stop()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns")
    val gBatch = normalizedEvents.select(col("user_id"), col("ts_ns"))
      .withColumn("gap_ns", col("ts_ns") - lag("ts_ns", 1).over(w))
      .filter(col("gap_ns").isNotNull)
      .select("user_id", "ts_ns", "gap_ns")
    val gStreamed = spark.table("gaps_shuffled")
    assert(gStreamed.exceptAll(gBatch).count() == 0 &&
      gBatch.exceptAll(gStreamed).count() == 0)
  }

  test("gap stream: a late CROSS-batch arrival surfaces as a negative gap") {
    // Out-of-order replay drill, half 2 — the ordering-contract
    // boundary made executable: ACROSS micro-batches only the
    // GroupState carries order, so an event arriving after state has
    // advanced past its timestamp emits a NEGATIVE gap (ts - lastTs).
    // That is the documented, detectable signature the upstream
    // watermarked re-order exists to prevent (Streams.scala header +
    // gapStream scaladoc) — pinned here so the contract can't silently
    // drift into wrong-but-plausible positive gaps.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1000000000000L
    val onTime = Seq(
      Streams.SessionEvent(1L, t0),
      Streams.SessionEvent(1L, t0 + 2000L))
    val late = Seq(Streams.SessionEvent(1L, t0 + 1000L)) // belongs between
    val mem = MemoryStream[Streams.SessionEvent]
    val q = Streams.gapStream(mem.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("gaps_late").start()
    mem.addData(onTime); q.processAllAvailable()
    mem.addData(late); q.processAllAvailable()
    q.stop()
    val got = spark.table("gaps_late")
      .orderBy("ts_ns").select("ts_ns", "gap_ns")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // batch semantics would give gaps (+1000, +1000); the stream gives
    // the in-order +2000 then the late event's -1000 — loud, not wrong
    assert(got == Seq((t0 + 1000L, -1000L), (t0 + 2000L, 2000L)),
      s"late-arrival contract drifted: $got")
  }

  test("sessionization state survives a micro-batch split (µs-era events)") {
    // The cross-batch law: feeding the same events as TWO time-ordered
    // micro-batches must land on the same final per-user state as one —
    // the session gap scan continues from persisted state, not from
    // scratch. (The in-batch slice is sorted by the operator; ACROSS
    // batches only the GroupState carries order.)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = normalizedEvents
      .select(col("user_id"), col("ts_ns"))
      .as[Streams.SessionEvent].collect().toSeq.sortBy(_.ts_ns)
    val (first, second) = rows.splitAt(rows.size / 2)
    val mem = MemoryStream[Streams.SessionEvent]
    val q = Streams.sessionize(mem.toDS()).writeStream
      .outputMode(OutputMode.Update)
      .format("memory").queryName("sessions_split").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sessions_split")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
    val batch = EventQueries.q30Sessionize(spark, sfDir)
    val mismatch = streamed.join(batch.withColumnRenamed("n_events", "b_events")
        .withColumnRenamed("n_sessions", "b_sessions"), Seq("user_id"))
      .filter(col("n_events") =!= col("b_events") || col("n_sessions") =!= col("b_sessions"))
    assert(batch.count() == streamed.count())
    assert(mismatch.count() == 0)
  }

  test("streaming heavy hitters: per-window exact-regime counts equal batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // two hour-windows, skewed token text, arrivals split mid-window so
    // the MG summary must merge across micro-batches
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val rows = (0 until 200).map { i =>
      val h = 10 + (i % 2)
      val text = if (i % 4 == 0) "alpha alpha beta" else s"alpha tail${i % 20}"
      (ts(h, i % 60), text)
    }
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val (first, second) = rows.splitAt(rows.size / 3)
    // wide watermark: the fixture interleaves both windows across both
    // micro-batches, so neither window may close between batches
    val agg = Streams.heavyHittersStream(
      mem.toDF().toDF("event_time", "text"), "text",
      watermark = "3 hours", k = 64)
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hh_stream").start()
    mem.addData(first); q.processAllAvailable()
    mem.addData(second); q.processAllAvailable()
    q.stop()
    // exact regime (k=64 >= 21 distinct tokens): per-token counts are
    // monotone across Update emissions, so the per-window MAX over all
    // emitted summaries IS the final state
    val streamed = spark.table("hh_stream")
      .select(col("window").cast("string").as("w"), explode(col("summary")).as(Seq("token", "est")))
      .groupBy("w", "token").agg(max("est").as("est"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = rows.toDF("event_time", "text")
      .select(window(col("event_time"), "1 hour").cast("string").as("w"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("w", "token").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // and the emitted summaries ROLL UP: merging the two windows' final
    // summaries (reconstructed from the monotone per-token maxes) gives
    // a valid summary of the whole stream — exact here, so it equals
    // the global counts
    val finals = streamed.toSeq.groupBy(_._1._1).values.toSeq
      .map(kvs => kvs.map { case ((_, t), c) => t -> c }.toMap)
    val rolled = finals.toDF("summary")
      .agg(graft.ops.CorpusStats.heavyHittersMerge(col("summary"), 64).as("m"))
      .select(explode(col("m")).as(Seq("token", "est")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val global = rows.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    assert(rolled == global)
  }
}
