package graft.streaming

import graft.etl.{Bronze, Schemas}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surfaces (SURVEY.md §2.11).
  *
  * The reference has no streaming — its daily batch re-run is the
  * archetypal file-drop pattern, which Structured Streaming expresses
  * directly: `readStream` over the raw zone + `Trigger.AvailableNow`
  * gives exactly-once incremental processing of new playlist files with
  * checkpointed progress (replacing the reference's re-shred-everything
  * daily DAG, and fixing its duplicate-on-rerun semantics for free).
  *
  * Scale notes: the bronze stream is stateless (explode/project per
  * micro-batch — no state store); the windowed aggregate keeps state per
  * (window × event_type) bounded by the watermark; sessionization state is
  * one small struct per active user key, dropped on timeout.
  *
  * Twin-inventory boundary (what deliberately has NO streaming twin):
  * any operator whose assignment depends on a RANK over the full corpus
  * cannot stream — `Splits.stratifiedExactSplit` (per-stratum rank),
  * `Splits.curriculumShards`/`balancedShards` (global rank) all reassign
  * EXISTING rows when a new row lands mid-stratum, which violates the
  * append-only contract (a row already emitted to `train` cannot retract
  * into `val`). The streaming split is the map-only `Splits.hashSplit`
  * itself, whose membership is a pure function of (id, seed)
  * and therefore stable under any arrival order — the same
  * membership-stability property that makes it the batch production
  * default. Exactness (floor counts per stratum) is inherently a bounded
  * batch job; run it on a completed snapshot.
  *
  * A stateless per-row operator needs no twin either: it runs on a
  * streaming frame unchanged, with no state store and no watermark, and a
  * replayed micro-batch keeps and rewrites exactly the same rows.
  * StreamingSpec pins stream == batch for `Pii.scrub`, the
  * `!Bloom.mightContainText` decontamination filter,
  * `Sampling.weightedSample`, `Dsir.score`,
  * `Curation.applyMixtureThresholds`, `Splits.hashSplit`,
  * `Sampling.applyTimeDecay` and `graft_despan`.
  */
object Streams {

  /** Streaming bronze: watch a raw-zone directory of playlist JSON and
    * incrementally shred new files into bronze parquet. One query per
    * bronze table (each maintains its own checkpoint). */
  def bronzeStream(spark: SparkSession, rawZone: String): DataFrame =
    spark.readStream
      .schema(Schemas.rawPlaylistSchema)
      .option("multiLine", true)
      .json(rawZone)

  /** Run the incremental shred of `table` until no new files remain
    * (AvailableNow = the daily-batch trigger), writing parquet. */
  def runBronzeOnce(spark: SparkSession, rawZone: String, table: String,
      outDir: String, checkpointDir: String): Unit = {
    val shredded = Bronze.shred(bronzeStream(spark, rawZone)).getOrElse(table,
      throw new IllegalArgumentException(s"unknown table $table"))
    val q = shredded.writeStream
      .format("parquet")
      .option("path", s"$outDir/$table")
      .option("checkpointLocation", s"$checkpointDir/$table")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Event-time tumbling-window counts with a watermark (late data beyond
    * 10 minutes is dropped; state is purged past the watermark). Input
    * needs an `event_time` TimestampType column. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup — the incremental twin of
    * [[graft.ops.Dedup.exactDedup]]: drop rows whose `idCols` were already
    * seen, with the dedup state BOUNDED by the watermark horizon
    * (`dropDuplicatesWithinWatermark`). A plain `dropDuplicates` on a
    * stream retains every key forever — unbounded state at 100 TB/day;
    * bounding by event time is what makes continuous ingest dedup viable
    * (duplicates in real pipelines are retries/replays that arrive close
    * together, not months apart). */
  def dedupStream(rows: DataFrame, idCols: Seq[String],
      eventTimeCol: String = "event_time", watermark: String = "10 minutes"): DataFrame =
    rows.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Streaming NORMALIZED dedup — the incremental twin of
    * [[graft.ops.Dedup.exactDedupNormalized]]: first-seen-wins on the
    * case/punctuation/whitespace-insensitive key
    * ([[graft.ops.TextOps.dedupKey]] — with the same non-Latin guard as
    * the batch op: a document whose normalized form is EMPTY keys on its
    * RAW text, so unrelated CJK/Cyrillic/symbol documents are never
    * silently dropped as "duplicates"; Latin-script-only scope documented
    * there), state bounded by the watermark like [[dedupStream]]. This is
    * the key that actually matches the continuous-ingest duplicate model:
    * replayed/retried documents routinely differ in trailing whitespace
    * or punctuation, which a raw-text key waves through. The normalized
    * key is carried out as `__norm_key` so a downstream audit can group
    * on it; drop it for release output.
    *
    * The STATE key is `xxhash64(__norm_key)` (`__fp`), not the text —
    * the state store holds 8 bytes per in-flight document instead of a
    * full normalized copy, the streaming analogue of
    * [[graft.ops.Dedup.exactDedupNormalizedByFingerprint]] (same
    * collision bound, see [[graft.ops.TextOps.dedupFingerprint]]). */
  def normalizedDedupStream(docs: DataFrame, textCol: String,
      eventTimeCol: String = "event_time",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__norm_key", graft.ops.TextOps.dedupKey(col(textCol)))
      .withColumn("__fp", xxhash64(col("__norm_key")))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming curation — the continuous-ingest sibling of
    * [[graft.ops.Curation.curate]]: the language allow-list and quality
    * floor are the batch recipe's per-row predicates applied unchanged
    * (same expressions, same codegen, no state store). TWO deliberate
    * semantic deltas from the batch recipe:
    *  - dedup is first-seen-wins within the watermark horizon
    *    ([[dedupStream]] keyed on the text) instead of keep-min-id over
    *    the whole corpus — bounded state, and the practical duplicate
    *    model (retries/replays arrive close together);
    *  - PII redaction ([[graft.ops.TextOps.redactEmails]], not part of
    *    the batch recipe) runs inline BEFORE the dedup, so replays that
    *    differ only in volatile PII still deduplicate — continuous ingest
    *    is the one pass that sees every raw record, so scrubbing belongs
    *    here.
    * StreamingSpec cross-checks the stream against the equivalent batch
    * stages (filters → redact → distinct) on a replayed corpus. */
  def curateStream(docs: DataFrame, textCol: String,
      allowedLangs: Seq[String], minQuality: Int,
      eventTimeCol: String = "event_time",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.TextOps
    docs
      .filter(TextOps.langGuess(col(textCol)).isInCollection(allowedLangs))
      .filter(TextOps.qualityScore(col(textCol)) >= minQuality)
      .withColumn(textCol, TextOps.redactEmails(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(textCol)
  }

  /** Streaming web-curation — the continuous-crawl twin of
    * [[graft.ops.Curation.curateWeb]]. The recipe's front four stages
    * (URL mark/blocklist → HTML extraction → lang/quality gates → PII
    * scrub) are PURE PER-ROW expression chains, so the stream runs the
    * IDENTICAL `Column` expressions as batch (byte-identical outputs
    * for the same rows — the stateless-operator parity contract above,
    * recipe-wide) with no state store and no watermark; the dedup
    * stage becomes event-time state (`dropDuplicatesWithinWatermark`
    * on the same production key the batch window uses — the 8-byte
    * [[graft.ops.TextOps.dedupFingerprint]], so state per retained
    * row is a fingerprint, not a document). The batch-only per-domain
    * CAP is deliberately absent: a global "first k per domain" is not
    * expressible with bounded streaming state over an unbounded
    * domain-time range — run [[graft.ops.Curation.capPerGroup]] in
    * the batch compaction pass instead (the lambda-architecture
    * split the q86 incremental story prescribes).
    *
    * `seenUrls` (optional) is the RECRAWL seam — the persisted
    * [[graft.ops.Incremental.urlState]] table: pages whose canonical
    * URL a prior run already crawled are dropped by a stream-static
    * anti-join on the 8-byte fingerprint BEFORE the HTML parse, the
    * stream twin of `curateWeb(seenUrls = …)`. The state side is
    * static per query start (tomorrow's run loads tomorrow's state —
    * the q86/q138 roll-forward), so this adds no streaming state. */
  def curateWebStream(pages: DataFrame, urlCol: String, htmlCol: String,
      allowedLangs: Seq[String], minQuality: Int,
      blockedDomains: Seq[String] = Nil,
      eventTimeCol: String = "event_time",
      watermark: String = "10 minutes",
      seenUrls: Option[DataFrame] = None,
      fixMojibake: Boolean = false): DataFrame = {
    import graft.ops.{Html, Pii, TextOps, Url}
    // watermark declared ONCE, up front (Spark disallows redefining it
    // mid-chain): the stateless front stages pass it through, and both
    // stateful dedups below share the same horizon
    val marked = Url.mark(pages, urlCol, blockedDomains)
      .filter(col("url_keep"))
      .withWatermark(eventTimeCol, watermark)
    val fresh = seenUrls match {
      case Some(st) => marked
        .withColumn("__url_fp", graft.functions.NativeFunctions
          .graft_fingerprint(col("canonical_url")))
        .join(st.withColumnRenamed("url_fp", "__url_fp"),
          Seq("__url_fp"), "left_anti")
        // the batch twin (Incremental.dropSeenCanonicalUrls) also dedups
        // today WITHIN itself — two fetches of one canonical URL in one
        // run keep one page even when their dynamic content differs (the
        // content-fingerprint dedup downstream would miss them). Stream
        // semantics: first-seen-wins within the watermark horizon, state
        // = 8 bytes per retained URL, BEFORE the HTML parse. Like the
        // batch path this dedup exists only on the seenUrls seam.
        .dropDuplicatesWithinWatermark("__url_fp")
        .drop("__url_fp")
      case None => marked
    }
    val extracted = Html.extract(fresh, htmlCol).drop(htmlCol)
    // opt-in mojibake repair pre-gates — batch-identical expression
    // (stateless per-row map, the curateWeb recipe position)
    val cleaned =
      if (fixMojibake)
        extracted.withColumn("content", TextOps.fixMojibake(col("content")))
      else extracted
    val gated = cleaned
      .filter(TextOps.langGuess(col("content")).isInCollection(allowedLangs))
      .filter(TextOps.qualityScore(col("content")) >= minQuality)
    Pii.scrub(gated, "content")
      .withColumn("__dedup_fp", TextOps.dedupFingerprint(col("content_scrubbed")))
      .dropDuplicatesWithinWatermark("__dedup_fp")
      .drop("__dedup_fp")
  }

  /** Streaming PERCEPTUAL image dedup — the continuous-ingest twin of
    * the q140 batch grouping ([[graft.ops.Multimodal.withImageDHash]] →
    * group by hash): the dHash is a stateless per-payload map (real
    * decode, appended column), so the stream runs the IDENTICAL decode
    * as batch; dedup is first-seen-wins within the watermark horizon
    * keyed on the 63-bit hash — state per retained image is ONE long,
    * never pixels or payload bytes. Re-encodes and brightness edits of
    * an already-seen image (the dHash invariance class) drop; payloads
    * the decoder rejects pass through un-deduped (null hash is not a
    * dedup key — quarantine them upstream if that is wrong for the
    * pipeline). The banded Hamming JOIN (near-identical, not identical)
    * stays batch-only by design: a streaming self-join over an
    * unbounded hash history is not bounded-state expressible — the
    * lambda split q133's cap documents. */
  def imageDedupStream(media: DataFrame,
      eventTimeCol: String = "event_time",
      watermark: String = "10 minutes"): DataFrame =
    mediaDedupStream(graft.ops.Multimodal.withImageDHash(media), Seq("dhash"),
      eventTimeCol, watermark)

  /** The one watermark first-seen-wins dedup of the media twins, keyed on
    * `keys` of `hashed` (a row's keys are all null or none is). A null key
    * is NOT a dedup key: non-decodable payloads bypass the dedup state
    * entirely and pass through (the batch dropSeenImages contract) —
    * deduping them would collapse every corrupt payload onto one
    * survivor. */
  private def mediaDedupStream(hashed: DataFrame, keys: Seq[String],
      eventTimeCol: String, watermark: String): DataFrame =
    hashed.filter(col(keys.head).isNotNull)
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .unionByName(hashed.filter(col(keys.head).isNull))

  /** Streaming PERCEPTUAL audio dedup — [[imageDedupStream]]'s time-axis
    * sibling over [[graft.ops.Multimodal.withAudioPHash]] (15-bit
    * energy-delta fingerprint, real PCM decode, polarity-inversion
    * invariant): first-seen-wins on the fingerprint within the
    * watermark horizon, one long of state per retained clip,
    * non-decodable payloads pass through un-deduped by the same
    * contract. The 15-bit key is deliberately coarse (a fingerprint,
    * not a content hash) — at corpus scale collisions group genuinely
    * different clips; use it as the CANDIDATE stage and verify
    * downstream, or widen the segment count in batch first. */
  def audioDedupStream(media: DataFrame,
      eventTimeCol: String = "event_time",
      watermark: String = "10 minutes"): DataFrame =
    mediaDedupStream(graft.ops.Multimodal.withAudioPHash(media), Seq("ahash"),
      eventTimeCol, watermark)

  /** Streaming VIDEO-SEQUENCE dedup — [[imageDedupStream]] extended
    * along the time axis over [[graft.ops.Multimodal.withVideoSeqHash]]
    * (per-frame real-decode dHash, (n_frames, first, mid, last)
    * anchors): first-seen-wins within the watermark horizon keyed on
    * the FULL 4-tuple fingerprint — re-encoded/brightness-edited
    * animations (the per-frame monotone invariance class) drop, trims
    * survive (different frame count ⇒ different key, the
    * order/length-sensitive contract), payloads no reader claims pass
    * through un-deduped. State per retained animation = one int +
    * three longs (~28 B), never frames or payload bytes. The
    * WITHIN-DISTANCE sequence join ([[graft.ops.Multimodal
    * .videoSeqNearDups]] / [[graft.ops.Incremental.dropSeenVideoSeqs]])
    * stays batch/cross-run by design — a streaming self-join over an
    * unbounded fingerprint history is not bounded-state expressible. */
  def videoDedupStream(media: DataFrame,
      eventTimeCol: String = "event_time",
      watermark: String = "10 minutes"): DataFrame =
    mediaDedupStream(graft.ops.Multimodal.withVideoSeqHash(media),
      Seq("n_frames", "h_first", "h_mid", "h_last"), eventTimeCol, watermark)

  /** Cross-RUN incremental dedup as a stream — the continuous-ingest twin
    * of [[graft.ops.Incremental.dedupAgainstState]]: rows whose text the
    * PERSISTED bloom state ([[graft.ops.Incremental.saveBloom]]) already
    * knows are dropped by the stateless codegen probe (yesterday's corpus
    * never joins the stream), and the remainder exact-dedups WITHIN the
    * stream on the 8-byte fingerprint. The keyed dedup state stores only
    * fingerprints (not text), and grows with today's distinct volume —
    * bound it per run, then fold today's fingerprints into the bloom
    * state for tomorrow. Emits the surviving rows plus their `fp` (the
    * state roll-forward artifact). */
  def dedupAgainstStateStream(docs: DataFrame, textCol: String,
      stateBits: Array[Long],
      k: Int = graft.ops.Bloom.DefaultK): DataFrame =
    docs.filter(!graft.ops.Bloom.mightContainText(col(textCol), stateBits, k))
      .withColumn("fp",
        graft.functions.NativeFunctions.graft_fingerprint(col(textCol)))
      .dropDuplicates("fp")

  /** Streaming distinct-count sketch — the continuous-ingest twin of
    * [[graft.ops.Hll]] (q76): per event-time window, the HLL register
    * array builds as a streaming aggregate. The sketch's elementwise-max
    * merge is a commutative idempotent monoid — exactly the shape a
    * streaming aggregation wants: each micro-batch folds its rows into
    * partial registers, state per window is ONE 2^p-byte array bounded by
    * the watermark, late data max-merges in without rescans, and replayed
    * rows are absorbed by idempotence (a COUNT would double-count them).
    * Emits the window, the codegen'd estimate, and the raw sketch (so
    * downstream can roll windows up into days/weeks by max-merge —
    * distinct counts that stay mergeable after aggregation, which no
    * exact streaming count can offer). */
  def distinctSketchStream(rows: DataFrame, keyCol: String,
      eventTimeCol: String = "event_time", window_ : String = "1 hour",
      watermark: String = "10 minutes",
      p: Int = graft.ops.Hll.DefaultP): DataFrame =
    rows.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), window_))
      .agg(graft.ops.Hll.sketch(col(keyCol), p).as("sketch"))
      .select(col("window"),
        graft.ops.Hll.estimate(col("sketch")).as("n_distinct_est"),
        col("sketch"))

  /** Streaming quantile sketch — the continuous-ingest twin of
    * [[graft.ops.DdSketch]] (q85): per event-time window, the DDSketch
    * bucket histogram builds as a streaming aggregate. Merge is
    * bucket-count ADDITION — commutative and associative, so micro-batch
    * partials fold in any order, state per window is one bucket-bounded
    * byte array under the watermark, and the emitted sketch column rolls
    * windows up into days/weeks by the same merge with the α guarantee
    * intact (per-window `approx_percentile` results cannot be combined
    * at all). One honest asymmetry vs [[distinctSketchStream]]: addition
    * is NOT idempotent, so upstream at-least-once duplicates double-count
    * (HLL's max-merge absorbs them) — exactly-once folding within the
    * query is the checkpoint's job, but duplicate SOURCE rows need a
    * dedup stage ([[dedupAgainstStateStream]]) in front. */
  def quantileSketchStream(rows: DataFrame, valueCol: String,
      eventTimeCol: String = "event_time", window_ : String = "1 hour",
      watermark: String = "10 minutes",
      alpha: Double = graft.ops.DdSketch.DefaultAlpha): DataFrame =
    rows.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), window_))
      .agg(graft.ops.DdSketch.sketch(col(valueCol), alpha).as("sketch"))
      .select(col("window"),
        graft.ops.DdSketch.quantile(col("sketch"), 0.5).as("p50_est"),
        graft.ops.DdSketch.quantile(col("sketch"), 0.95).as("p95_est"),
        col("sketch"))

  /** Streaming heavy hitters — the continuous-ingest twin of
    * [[graft.ops.CorpusStats.heavyHitters]] (q131): per event-time
    * window, a Misra–Gries summary builds as a streaming aggregate.
    * MG is a MERGEABLE summary (Agarwal et al., PODS 2012), which is
    * precisely the streaming-state requirement: each micro-batch folds
    * its tokens into at most k counters, state per window is one
    * k-entry map bounded by the watermark — NEVER the vocabulary — and
    * emitted window summaries roll up into days/weeks via
    * [[graft.ops.CorpusStats.heavyHittersMerge]] with the composed
    * N/(k+1) bound intact. In the exact regime (k ≥ distinct tokens in
    * the window) per-token counts are monotone across updates and the
    * final emission equals the batch counts (StreamingSpec pins this);
    * in the approximate regime the algorithmic guarantees hold per
    * emission. Counts are NOT idempotent under source replay (the
    * quantile-sketch caveat, not the HLL one): put
    * [[dedupAgainstStateStream]] in front of at-least-once sources. */
  def heavyHittersStream(docs: DataFrame, textCol: String,
      eventTimeCol: String = "event_time", window_ : String = "1 hour",
      watermark: String = "10 minutes", k: Int = 64): DataFrame =
    docs.withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol),
        explode(graft.ops.TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(window(col(eventTimeCol), window_))
      .agg(graft.ops.CorpusStats.heavyHittersAgg(col("tok"), k).as("summary"))

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  case class SessionEvent(user_id: Long, ts_ns: Long)
  case class SessionState(sessionCount: Long, lastTsNs: Long, nEvents: Long)
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Per-user gap sessionization as custom streaming state: counts
    * sessions split by >30 min inactivity. Emits one running summary per
    * user per trigger (Update mode). The batch twin is
    * EventQueries.q30Sessionize — the StreamingSpec cross-checks them. */
  def sessionize(events: Dataset[SessionEvent],
      gapNs: Long = 30L * 60 * 1000000000L): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // events within one group arrive unordered across batches only if
          // the source is unordered; sort the in-batch slice for the gap scan
          val sorted = rows.toSeq.sortBy(_.ts_ns)
          var (sessions, lastTs, n) = state.getOption
            .map(s => (s.sessionCount, s.lastTsNs, s.nEvents))
            .getOrElse((0L, Long.MinValue, 0L))
          sorted.foreach { e =>
            if (lastTs == Long.MinValue || e.ts_ns - lastTs > gapNs) sessions += 1
            lastTs = e.ts_ns
            n += 1
          }
          state.update(SessionState(sessions, lastTs, n))
          Iterator(UserSessions(user, n, sessions))
      }
  }

  case class FunnelEvent(user_id: Long, ts_ns: Long, event_type: String)
  case class FunnelState(sessions: Long, lastTsNs: Long,
    t1: Long, t2: Long, t3: Long)
  case class SessionFunnel(user_id: Long, session_id: Long, depth: Long)

  /** Stateful streaming funnel — the continuous twin of q116: per-user
    * state tracks the open session's gap boundary plus the first
    * qualifying view/click/purchase timestamps (strictly-ordered
    * progression, the q116 semantics), and every touched session emits
    * its running depth in Update mode (depth is monotone per session,
    * so last-update == final == the batch chained-window depth; the
    * StreamingSpec pins the roll-up equal to q116). State is five
    * longs per user, dropped logic mirrors [[sessionize]]: in-batch
    * slices sort by ts_ns; across batches the state carries order.
    * Because events stream in time order, "first view" == "min view
    * ts" and the strictly-after click/purchase checks reproduce the
    * batch min-window semantics exactly. */
  def funnelStream(events: Dataset[FunnelEvent],
      gapNs: Long = 30L * 60 * 1000000000L): Dataset[SessionFunnel] = {
    import events.sparkSession.implicits._
    val M = Long.MinValue
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, SessionFunnel](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_ns)
          var (sessions, lastTs, t1, t2, t3) = state.getOption
            .map(s => (s.sessions, s.lastTsNs, s.t1, s.t2, s.t3))
            .getOrElse((0L, M, M, M, M))
          def depth: Long =
            if (t3 != M) 3L else if (t2 != M) 2L else if (t1 != M) 1L else 0L
          val touched = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
          sorted.foreach { e =>
            if (lastTs == M || e.ts_ns - lastTs > gapNs) {
              if (sessions > 0) touched(sessions) = depth // close previous
              sessions += 1; t1 = M; t2 = M; t3 = M
            }
            lastTs = e.ts_ns
            e.event_type match {
              case "view" if t1 == M => t1 = e.ts_ns
              case "click" if t1 != M && e.ts_ns > t1 && t2 == M => t2 = e.ts_ns
              case "purchase" if t2 != M && e.ts_ns > t2 && t3 == M => t3 = e.ts_ns
              case _ => ()
            }
            touched(sessions) = depth
          }
          state.update(FunnelState(sessions, lastTs, t1, t2, t3))
          touched.iterator.map { case (sid, d) => SessionFunnel(user, sid, d) }
      }
  }

  case class GapState(lastTsNs: Long)
  case class UserGap(user_id: Long, ts_ns: Long, gap_ns: Long)

  /** Per-user inter-event gaps as custom streaming state — the
    * continuous-ingest half of q117: each event (except a user's first)
    * emits its gap to the previous event, with ONE long (the last
    * timestamp) as the whole per-user state. Downstream the gaps feed
    * the same mergeable DDSketch windows as the batch audit
    * ([[quantileSketchStream]]), so "p90 inter-event gap per window"
    * runs end-to-end on a stream with bounded state everywhere.
    *
    * Ordering contract (executable — StreamingSpec pins both halves):
    * WITHIN a micro-batch arrival order is irrelevant (the slice is
    * sorted); ACROSS batches a late arrival emits a NEGATIVE gap
    * (`ts − lastTs`), deliberately loud rather than silently wrong —
    * a downstream `gap_ns < 0` filter is the detector, a watermarked
    * re-order upstream is the fix.
    *
    * The batch twin is the lag window inside
    * `EventQueries.q117GapQuantiles`; StreamingSpec pins stream == batch
    * on an in-order replay split across micro-batches (the state
    * carries gaps ACROSS batch boundaries, where a per-batch lag would
    * drop them). In-batch slices sort by ts_ns before the scan — the
    * sessionize contract; cross-batch out-of-order arrival needs a
    * watermarked re-order upstream, same as sessionize. */
  def gapStream(events: Dataset[SessionEvent]): Dataset[UserGap] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, UserGap](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[GapState]) =>
          val sorted = rows.toSeq.sortBy(_.ts_ns)
          var last = state.getOption.map(_.lastTsNs).getOrElse(Long.MinValue)
          val out = sorted.flatMap { e =>
            val g = if (last == Long.MinValue) None
              else Some(UserGap(user, e.ts_ns, e.ts_ns - last))
            last = e.ts_ns
            g
          }
          state.update(GapState(last))
          out.iterator
      }
  }
}
