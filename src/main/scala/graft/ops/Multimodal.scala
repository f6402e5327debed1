package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines. Media is carried as opaque `binary` columns plus a typed
  * metadata struct; decode/feature-extract runs per-partition.
  *
  * IMAGE decode is REAL: [[ImageIoCodec]] runs the JDK's built-in
  * `javax.imageio` (PNG/JPEG/GIF/BMP readers ship with every stock JDK,
  * headless — no external dependency) and emits genuinely decoded
  * dimensions and per-channel pixel sums. AUDIO decode is REAL too:
  * [[WavCodec]] runs the JDK's built-in `javax.sound.sampled`
  * (WAV/AIFF/AU PCM readers, equally stock and headless) and emits the
  * genuinely decoded sample rate, channel count, frame count and
  * per-channel PCM sample sums. Only VIDEO has no JDK codec; payloads
  * neither reader accepts fall back per-payload to [[StubCodec]]'s
  * deterministic byte histogram — the documented video-only fallback,
  * not a primary path ([[JdkCodec]] is the mixed-media dispatch).
  * Everything around the codecs — schema, batch shape,
  * partition-parallel execution, feature schema — is the seam a JNI/FFI
  * or vectorized-batch production decoder plugs into.
  *
  * Scale notes: decode is the classic CPU-heavy map stage — no shuffle,
  * scales with cores. Partition sizing should target the media payload
  * (`spark.sql.files.maxPartitionBytes` small enough that a partition of
  * blobs fits in memory), and the binary column should be pruned out of
  * any plan that only needs metadata (columnar parquet does this for free).
  * Measured (ScaleSpec decode-throughput drill, 100k mixed-size PNGs,
  * local[4]): ~2.3k rows/s/core for encode+ImageIO-decode of small PNGs —
  * so size partitions to O(100k) small images (or ~128 MiB of blob bytes)
  * each, and expect throughput to be decode-bound, not I/O-bound.
  */
object Multimodal {

  /** Metadata schema carried alongside every media blob. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("format", StringType),       // png, wav, mp4, ...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
  ))

  /** Feature schema produced by the decode stage. */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("checksum", StringType),
    StructField("features", ArrayType(FloatType)),
  ))

  /** Wrap any DataFrame with an id + string payload column into the
    * canonical media-table shape (binary payload + metadata struct). */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String = "image", format: String = "raw"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(
        lit(mediaType).as("media_type"),
        lit(format).as("format"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")).as("meta"))

  /** Pure-expression metadata pass (no decode): byte count + checksum.
    * Stays in whole-stage codegen. */
  def mediaStats(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("checksum"),
      col("meta.media_type").as("media_type"))

  /** Vectorized decode contract — the seam a production codec drops into.
    * One call per BATCH of payloads, columnar in / columnar out (the same
    * shape an Arrow record batch or a vectorized Pandas-style UDF hands a
    * native library): a JNI/FFI decoder amortizes its per-call overhead
    * over the batch and can hand the whole array to SIMD/accelerator code.
    * Implementations must be deterministic per payload and return exactly
    * one `dim`-length vector per input, in order. */
  trait BatchCodec extends Serializable {
    def decodeBatch(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]]
  }

  /** The deterministic stand-in codec — the documented FALLBACK for
    * media the JDK cannot decode (video only: images decode through
    * [[ImageIoCodec]], PCM audio through [[WavCodec]]): per-payload
    * byte-value histogram, L1-normalized. */
  object StubCodec extends BatchCodec {
    override def decodeBatch(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]] =
      payloads.map(b => decodeStub(b, dim).toArray)
  }

  /** REAL image codec over the JDK's built-in `javax.imageio` readers
    * (PNG/JPEG/GIF/BMP — present in every stock JDK, headless, zero
    * added dependencies). Per decoded image the feature vector is
    * `[width, height, r_sum, g_sum, b_sum, luminance histogram over the
    * remaining dim-5 buckets]` — every emitted value is an
    * integer-valued float (dimensions, channel sums, counts), so decode
    * results are exact and replayable by integer arithmetic in an
    * external oracle (the q45 contract; exactness holds while channel
    * sums stay under 2^24, i.e. images up to ~65k pixels — larger
    * images round in float32, the declared feature width).
    *
    * Payloads `ImageIO.read` rejects (returns null — non-image media)
    * fall back per-payload to [[StubCodec]]'s byte histogram, keeping
    * mixed-media tables decodable in one pass. */
  /** PROCESS-GLOBAL ImageIO setting, applied idempotently before every
    * decode path in this object: ImageIO defaults to a per-decode TEMP
    * FILE cache (synchronized disk I/O inside javax.imageio) even when
    * the source is an in-memory byte array — the multi-thread
    * serialization class the java-regex wall taught this engine to look
    * for. Memory-cache mode decodes identical pixels with no filesystem
    * round trip (q45 1.87→0.83s, q135 variance collapse).
    *
    * This MUTATES JVM-global state and affects every other ImageIO user
    * in the process (ADVICE r12 — documented, and applied at each decode
    * entry point rather than in a lazily-ordered object initializer, so
    * an embedder that flips the flag back loses it again on the next
    * graft decode, visibly, instead of depending on class-init order).
    * [[graft.GraftSession.local]] also applies it at session init. */
  def ensureImageIoMemCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  object ImageIoCodec extends BatchCodec {
    override def decodeBatch(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]] = {
      require(dim >= 5, "ImageIoCodec needs dim >= 5 (w, h, r_sum, g_sum, b_sum)")
      ensureImageIoMemCache()
      payloads.map(b => decodeImage(b, dim).getOrElse(decodeStub(b, dim).toArray))
    }

    /** Decode one payload; None when the bytes are not a JDK-readable
      * image (the caller falls back to the stub). */
    private[ops] def decodeImage(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
      // catch NonFatal, not just IOException: JDK ImageIO readers throw
      // RuntimeExceptions (IllegalArgument, NegativeArraySize, CMM…) on
      // fuzzed/corrupt payloads whose magic bytes a reader claims — a
      // web-crawled table must degrade per-payload to the stub, never
      // let one crafted blob kill the task (and with it the job)
      val img =
        try ImgIo.readImage(bytes)
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Float](dim)
        out(0) = w.toFloat
        out(1) = h.toFloat
        var rs = 0L; var gs = 0L; var bs = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            rs += r; gs += g; bs += b
            if (dim > 5) out(5 + ((r + g + b) / 3) * (dim - 5) / 256) += 1f
            x += 1
          }
          y += 1
        }
        out(2) = rs.toFloat; out(3) = gs.toFloat; out(4) = bs.toFloat
        Some(out)
      }
    }
  }

  /** REAL audio codec over the JDK's built-in `javax.sound.sampled`
    * readers (WAV/AIFF/AU with PCM payloads — present in every stock
    * JDK, headless, zero added dependencies; the r10 premise that
    * "audio codecs are not in the JDK" was wrong and is corrected
    * here). Per decoded clip the feature vector is `[sample_rate,
    * channels, n_frames, ch0_sum, ch1_sum, amplitude histogram over
    * the remaining dim-5 buckets]` — every emitted value is an
    * integer-valued float (rates, counts, 16-bit sample sums), so
    * decode results are exact and replayable by integer arithmetic in
    * an external oracle (the q127 contract; exactness holds while
    * |channel sum| stays under 2^24 — ~512 frames of full-scale
    * 16-bit audio, far above the fixture sizes; production features
    * would carry sums as long columns, the declared float32 width is
    * the q45-parity choice). Channel sums beyond stereo fold into
    * `ch1_sum` so the layout is channel-count-independent.
    *
    * Scope: PCM_SIGNED 16-bit frames — the dominant WAV encoding and
    * the one whose byte↔sample mapping is exact. Other encodings
    * (float PCM, μ-law, 8/24-bit) and non-audio payloads return None
    * and fall back per-payload to [[StubCodec]], same contract as
    * [[ImageIoCodec]] for non-image bytes. */
  object WavCodec extends BatchCodec {
    override def decodeBatch(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]] = {
      require(dim >= 5,
        "WavCodec needs dim >= 5 (rate, channels, frames, ch0_sum, ch1_sum)")
      payloads.map(b => decodeWav(b, dim).getOrElse(decodeStub(b, dim).toArray))
    }

    /** Decode one payload; None when the bytes are not JDK-readable
      * 16-bit signed PCM audio (the caller falls back to the stub).
      * NonFatal-guarded like the image path: a crafted header must
      * degrade per-payload, never kill the task. */
    private[ops] def decodeWav(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
      // canonical fast path / AudioSystem fallback / magic-gated reject —
      // the audioPHashSegs dispatch (see [[WavIo]]); feature arithmetic
      // is the shared [[featuresOfPcm16]] on both routes
      WavIo.parseCanonical(bytes) match {
        case Some(p) => Some(featuresOfPcm16(bytes, p.dataOff, p.rate,
          p.channels, p.nFrames, big = false, dim))
        case None if WavIo.jdkMightRead(bytes) => decodeWavJdk(bytes, dim)
        case None => None
      }

    private def decodeWavJdk(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val pcm16 =
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16 && in.getFrameLength >= 0
          if (!pcm16) None
          else {
            val data = in.readAllBytes()
            Some(featuresOfPcm16(data, 0, fmt.getSampleRate,
              fmt.getChannels, in.getFrameLength, fmt.isBigEndian, dim))
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** The shared feature loop over raw 16-bit PCM at `off` —
      * `nSamples` is bounded by the byte run the JDK stream would have
      * returned (whole frames only), so fast and fallback paths are
      * bit-identical. */
    private def featuresOfPcm16(data: Array[Byte], off: Int, rate: Float,
        channels: Int, nFrames: Long, big: Boolean, dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      out(0) = rate
      out(1) = channels.toFloat
      out(2) = nFrames.toFloat
      val sums = new Array[Long](2)
      var i = 0
      val nSamples =
        if (off == 0) (data.length - off) / 2
        else (nFrames * channels).toInt
      while (i < nSamples) {
        val o = off + 2 * i
        val lo = data(o + (if (big) 1 else 0)) & 0xff
        val hi = data(o + (if (big) 0 else 1)).toInt
        val s = (hi << 8) | lo // hi keeps its sign: 16-bit signed sample
        sums(math.min(i % channels, 1)) += s
        if (dim > 5) out(5 + ((s + 32768) * (dim - 5)) / 65536) += 1f
        i += 1
      }
      out(3) = sums(0).toFloat
      out(4) = sums(1).toFloat
      out
    }
  }

  /** Mixed-media dispatch: image bytes through [[ImageIoCodec]], PCM
    * audio through [[WavCodec]], anything else (video, unknown) through
    * [[StubCodec]] — one pass over a heterogeneous media table with the
    * stub demoted to the video-only fallback it is documented as. */
  object JdkCodec extends BatchCodec {
    override def decodeBatch(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]] = {
      require(dim >= 5, "JdkCodec needs dim >= 5")
      ensureImageIoMemCache()
      payloads.map { b =>
        ImageIoCodec.decodeImage(b, dim)
          .orElse(WavCodec.decodeWav(b, dim))
          .getOrElse(decodeStub(b, dim).toArray)
      }
    }
  }

  /** Deterministic tiny REAL WAV keyed by `id` — the oracle-checkable
    * audio-decode fixture, the [[synthPng]] playbook applied to sound:
    * channels `(id mod 2)+1`, sample rate `{8000, 11025, 16000, 22050}
    * [id mod 4]`, frames `(id mod 50)+20`, and 16-bit PCM sample
    * `(7m + 13i + 31ch) mod 201 − 100` at frame i / channel ch with
    * `m = id mod 256`. Every decoded rate/count/sum is plain integer
    * arithmetic on the id — replayable in any SQL engine — while the
    * payload itself is a genuine RIFF/WAVE file that only a real PCM
    * reader can parse back (the header/interleave/endianness handling
    * is what a stub cannot fake). */
  private[graft] def synthWav(id: Long): Array[Byte] = synthWavSigned(id, 1)

  /** [[synthWav]] with a polarity sign — `sign = -1` renders the SAME
    * clip phase-inverted (every 16-bit sample negated; values stay in
    * [-100, 100], far from the asymmetric -32768 edge, so negation is
    * exact). Phase inversion is inaudible — the canonical
    * payload-differs/perceptual-dup fixture for [[audioPHash15]]. */
  private[graft] def synthWavSigned(id: Long, sign: Int): Array[Byte] = {
    require(sign == 1 || sign == -1, "sign must be +/-1")
    renderWav(id, sign, bump = 0)
  }

  /** The [[synthWav]] family's one sample loop: sample
    * `sign·((7m + 13i + 31ch) mod 201 − 100)`, plus `bump` on frame 0. */
  private def renderWav(id: Long, sign: Int, bump: Int): Array[Byte] = {
    val channels = (Math.floorMod(id, 2L) + 1L).toInt
    val rates = Array(8000f, 11025f, 16000f, 22050f)
    val rate = rates(Math.floorMod(id, 4L).toInt)
    val nFrames = (Math.floorMod(id, 50L) + 20L).toInt
    val m = Math.floorMod(id, 256L).toInt
    val data = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < nFrames) {
      var ch = 0
      while (ch < channels) {
        val s = sign * ((7 * m + 13 * i + 31 * ch) % 201 - 100) +
          (if (i == 0) bump else 0)
        val off = (i * channels + ch) * 2
        data(off) = (s & 0xff).toByte         // little-endian 16-bit
        data(off + 1) = ((s >> 8) & 0xff).toByte
        ch += 1
      }
      i += 1
    }
    // byte-identical to the AudioSystem.write container (WavIoSpec pins
    // the sweep) minus its JVM-global provider lock — see [[WavIo]]
    WavIo.writeCanonical(data, rate, channels)
  }

  /** 15-bit perceptual audio fingerprint of a JDK-decodable 16-bit PCM
    * clip — the [[dHash63]] playbook on the time axis (the STRUCTURE of
    * Chromaprint-class fingerprints, with a deterministic integer
    * energy statistic in place of the spectral transform so an external
    * oracle replays it exactly): REAL decode, frames binned into 16
    * equal segments (`seg(i) = ⌊i·16/n⌋` — every segment non-empty for
    * n ≥ 16), segment energy `e_s = Σ |Σ_ch sample|` (channel SUM, not
    * mean — integer division on negative mixes rounds differently
    * across engines), one bit per adjacent-segment energy comparison
    * (`e_{s+1} > e_s`). Invariance carried over from real audio
    * fingerprints: POLARITY INVERSION (every sample negated — an
    * inaudible edit and a different payload byte-for-byte) leaves every
    * |mono| and the hash unchanged. `None` for payloads the PCM reader
    * rejects. */
  private[graft] def audioPHash15(bytes: Array[Byte]): Option[Long] =
    audioPHashSegs(bytes, 16)

  /** [[audioPHash15]] widened to 32 segments → a 31-bit fingerprint —
    * fine enough that WITHIN-DISTANCE matching is meaningful (15 bits
    * put every hash within 1 bit of 15 neighbors out of 32k values —
    * hopeless for a near-key at corpus scale; 31 bits give 2^31 values
    * with 31 one-bit neighbors). Clips shorter than 32 frames leave
    * trailing/interleaved segments EMPTY (energy 0) — deterministic and
    * oracle-replayable, but prefer ≥ 32-frame clips for discriminative
    * hashes. Same polarity-inversion invariance ([[audioPHash15]]'s
    * |mono|). The cross-run within-distance state rides this
    * ([[graft.ops.Incremental.dropSeenAudioWithinDist]], q148). */
  private[graft] def audioPHash31(bytes: Array[Byte]): Option[Long] =
    audioPHashSegs(bytes, 32)

  /** The shared energy-delta fingerprint core: `segs` equal frame bins,
    * one bit per adjacent-segment energy comparison → a (segs−1)-bit
    * packed long. Bit-identical to the pre-r14 inline 16-segment code
    * for segs = 16. */
  private def audioPHashSegs(bytes: Array[Byte], segs: Int): Option[Long] =
    // canonical-WAVE fast path first: no AudioSystem = no JVM-global
    // provider lock under a 32-thread stage (see [[WavIo]]); acceptance
    // semantics unchanged — non-canonical RIFF and the other JDK magics
    // fall back to the AudioSystem path, everything else is rejected by
    // every JDK provider anyway (WavIo.jdkMightRead)
    WavIo.parseCanonical(bytes) match {
      case Some(p) =>
        if (p.nFrames < 16) None // the JDK path's frameLength >= 16 gate
        else Some(pHashOfPcm16(bytes, p.dataOff, p.nFrames, p.channels,
          big = false, segs))
      case None if WavIo.jdkMightRead(bytes) => audioPHashSegsJdk(bytes, segs)
      case None => None
    }

  private def audioPHashSegsJdk(bytes: Array[Byte], segs: Int): Option[Long] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val pcm16 =
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && in.getFrameLength >= 16
        if (!pcm16) None
        else {
          val channels = fmt.getChannels
          val n = in.getFrameLength.toInt
          val data = in.readAllBytes()
          Some(pHashOfPcm16(data, 0, n, channels, fmt.isBigEndian, segs))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The shared energy-delta loop over raw 16-bit PCM at `off` — the
    * canonical fast path and the AudioSystem fallback both land here,
    * so the fingerprint is bit-identical by construction. */
  private def pHashOfPcm16(data: Array[Byte], off: Int, n: Int,
      channels: Int, big: Boolean, segs: Int): Long = {
    val e = new Array[Long](segs)
    var i = 0
    while (i < n) {
      var mono = 0L
      var ch = 0
      while (ch < channels) {
        val o = off + (i * channels + ch) * 2
        val lo = data(o + (if (big) 1 else 0)) & 0xff
        val hi = data(o + (if (big) 0 else 1)).toInt
        mono += (hi << 8) | lo
        ch += 1
      }
      // long multiply: i*segs overflows Int past ~67M frames (a
      // ~25-minute 44.1 kHz clip at segs=32), which would AIOOBE
      // into the NonFatal catch and silently null the fingerprint
      e((i.toLong * segs / n).toInt) += math.abs(mono)
      i += 1
    }
    var hash = 0L
    var s = 0
    while (s < segs - 1) {
      if (e(s + 1) > e(s)) hash |= 1L << s
      s += 1
    }
    hash
  }

  /** Adds a nullable `ahash` column ([[audioPHash15]]) to a media table
    * — map-only, input columns preserved, null for non-PCM payloads;
    * the audio sibling of [[withImageDHash]] (compose with
    * [[graft.ops.Dedup.hammingNearDupPairs]], bits = 15 — fine at the
    * default bands = 7 too: band widths distribute evenly, 3+2·6, every
    * band non-empty, see [[graft.ops.Dedup.hammingBandKeys]]). */
  def withAudioPHash(media: DataFrame): DataFrame =
    withPayloadHash(media, "ahash", audioPHash15)

  /** Adds a nullable `ahash31` column ([[audioPHash31]]) — the WIDE
    * fingerprint the within-distance cross-run audio state keys on. */
  def withAudioPHashWide(media: DataFrame): DataFrame =
    withPayloadHash(media, "ahash31", audioPHash31)

  /** [[synthWav]] with an additive `bump` on FRAME 0's samples (every
    * channel) — the drifted-audio-re-encode fixture (q148, the
    * [[synthPngShiftedBumped]] playbook for sound): the bump changes
    * only segment 0's energy, so the [[audioPHash31]] fingerprint moves
    * by AT MOST the single adjacent compare bit 0 (and possibly 0 bits
    * when the compare already pointed the bump's way) — inside the
    * within-distance drop horizon, outside an exact-hash key whenever
    * the bit flips. Samples stay in [-100+.., 100+bump] ≪ 32767, so no
    * clipping; fully oracle-replayable (mono(0) = base + channels·bump). */
  private[graft] def synthWavBumped(id: Long, bump: Int): Array[Byte] = {
    require(bump >= 0 && bump <= 1000, "bump must stay far from 16-bit range")
    renderWav(id, sign = 1, bump)
  }

  /** Media table of [[synthWavBumped]] fixtures — the q148
    * drifted-re-encode input. */
  def synthAudioBumped(df: DataFrame, idCol: String, bump: Int,
      idOffset: Long = 0L): DataFrame =
    synthTable(df, idCol, idOffset)(id => (synthWavBumped(id, bump), "audio", "wav"))

  /** Media table of [[synthWavSigned]] fixtures — the polarity-pair
    * input for the q141 perceptual-audio-dedup contract. */
  def synthAudioSigned(df: DataFrame, idCol: String, sign: Int,
      idOffset: Long = 0L): DataFrame =
    synthTable(df, idCol, idOffset)(id => (synthWavSigned(id, sign), "audio", "wav"))

  /** Media table of [[synthWav]] fixtures, one real WAV per input row —
    * partition-parallel encode, metadata deliberately left null so the
    * DECODE stage is the only source of rates/durations (the
    * [[synthImages]] contract for audio). */
  def synthAudio(df: DataFrame, idCol: String): DataFrame =
    synthTable(df, idCol)(id => (synthWav(id), "audio", "wav"))

  /** Schema of every media table: id, payload, [[mediaMetaSchema]]. */
  private val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", mediaMetaSchema)))

  /** The one synthetic media-table builder: per input row, `media_id =
    * id + idOffset` and the payload, media type and format `render(id)`
    * returns. Width, height and duration stay null, so the DECODE stage
    * is their only source. Partition-parallel, no shuffle. */
  private def synthTable(df: DataFrame, idCol: String, idOffset: Long = 0L)(
      render: Long => (Array[Byte], String, String)): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val (payload, mediaType, format) = render(id)
          Row(id + idOffset, payload, Row(mediaType, format, null, null, null))
        }
      }(Encoders.row(mediaSchema))

  /** A payload no JDK reader claims: `(id mod 17)+3` copies of the byte
    * `(id mod 199)+1` — no PNG magic, no RIFF header. */
  private def junkPayload(id: Long): Array[Byte] =
    Array.fill((Math.floorMod(id, 17L) + 3L).toInt)((Math.floorMod(id, 199L) + 1L).toByte)

  /** Deterministic tiny REAL PNG keyed by `id` — the oracle-checkable
    * decode fixture: width `(id mod 7)+2`, height `(id mod 5)+2`, pixel
    * (x, y) channels `r=(3m+5x+7y) mod 256`, `g=(11m+13x+17y) mod 256`,
    * `b=(19m+23x+29y) mod 256` with `m = id mod 256`. Every decoded
    * dimension and channel sum is plain integer arithmetic on the id —
    * replayable in any SQL engine — while the payload itself is a
    * genuine PNG that only a real decoder can read back (a stubbed
    * decode CANNOT reproduce these values from the compressed bytes:
    * DEFLATE destroys the byte↔pixel correspondence). */
  private[graft] def synthPng(id: Long): Array[Byte] = {
    val m = Math.floorMod(id, 256L).toInt
    encodePng(id) { (x, y) =>
      val r = (3 * m + 5 * x + 7 * y) % 256
      val g = (11 * m + 13 * x + 17 * y) % 256
      val b = (19 * m + 23 * x + 29 * y) % 256
      (r << 16) | (g << 8) | b
    }
  }

  /** The PNG fixtures' one pixel loop: a `(id mod 7)+2` × `(id mod 5)+2`
    * RGB image whose pixel (x, y) is `rgb(x, y)`, through the per-thread
    * PNG writer (byte-identical to `ImageIO.write`, ImgIoSpec — no
    * per-call registry walk, see [[ImgIo]]). */
  private def encodePng(id: Long)(rgb: (Int, Int) => Int): Array[Byte] = {
    val w = (Math.floorMod(id, 7L) + 2L).toInt
    val h = (Math.floorMod(id, 5L) + 2L).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, rgb(x, y))
        x += 1
      }
      y += 1
    }
    ImgIo.encodePng(img)
  }

  /** Media table of [[synthPng]] fixtures, one real PNG per input row —
    * partition-parallel encode, metadata deliberately left null so the
    * DECODE stage is the only source of dimensions. */
  def synthImages(df: DataFrame, idCol: String): DataFrame =
    synthTable(df, idCol)(id => (synthPng(id), "image", "png"))

  /** MIXED media table — one heterogeneous pass for the [[JdkCodec]]
    * dispatch contract (q135): by `id mod 3`, a real PNG
    * ([[synthPng]]), a real WAV ([[synthWav]]), or a deliberately
    * non-decodable payload (`(id mod 17)+3` copies of the single byte
    * `(id mod 199)+1` — no PNG magic, no RIFF header, so both real
    * decoders reject it and the row falls through to [[decodeStub]],
    * whose byte histogram over a single-valued payload is EXACTLY
    * one-hot: bucket `((id mod 199)+1) mod dim` at 1.0 — integer
    * arithmetic an external oracle replays). */
  def synthMixed(df: DataFrame, idCol: String): DataFrame =
    synthTable(df, idCol)(id => Math.floorMod(id, 3L) match {
      case 0L => (synthPng(id), "image", "png")
      case 1L => (synthWav(id), "audio", "wav")
      case _ => (junkPayload(id), "video", "bin")
    })

  /** 63-bit perceptual difference hash (dHash) of a JDK-decodable image:
    * REAL decode, a 10×7 NEAREST-NEIGHBOR sample grid
    * (`sx = ⌊gx·w/10⌋`, `sy = ⌊gy·h/7⌋` — deterministic integer
    * arithmetic, so an external oracle replays the hash from the pixel
    * formula; production dHash usually area-averages, the NN variant is
    * the exactly-replayable choice, same spirit as the q45 integer
    * features), gray `(r+g+b)/3` per sample, one bit per horizontally
    * adjacent comparison (`gray(gx+1) > gray(gx)`, bit `gy·9+gx`). 63
    * bits — not the textbook 64 — so the packed long stays POSITIVE
    * under ANSI arithmetic and replays in engines without unsigned
    * 64-bit (the [[graft.ops.Dedup.simhash]] 60-bit rationale). The
    * defining property carries over from real dHash: any PER-PIXEL
    * MONOTONE brightness shift leaves every comparison — and the hash —
    * unchanged. `None` for payloads ImageIO rejects. */
  private[graft] def dHash63(bytes: Array[Byte]): Option[Long] = {
    ensureImageIoMemCache()
    val img =
      try ImgIo.readImage(bytes)
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None else Some(dHashOfImage(img))
  }

  /** The [[dHash63]] grid/compare/pack over an ALREADY-decoded frame —
    * shared by the single-image path and the per-frame sequence
    * fingerprint ([[videoSeqHash]]), so a GIF's frame 0 hashes
    * identically whether it arrives as a still or as an animation. */
  private def dHashOfImage(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val g = Array.ofDim[Int](7, 10)
    var gy = 0
    while (gy < 7) {
      var gx = 0
      while (gx < 10) {
        val rgb = img.getRGB(gx * w / 10, gy * h / 7)
        g(gy)(gx) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    gy = 0
    while (gy < 7) {
      var gx = 0
      while (gx < 9) {
        if (g(gy)(gx + 1) > g(gy)(gx)) hash |= 1L << (gy * 9 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Appends the nullable `cols`, whose values `valuesOf` computes from
    * each row's payload (one per column), preserving every input column —
    * the one shape of the perceptual-hash columns. Stateless map, so it
    * composes with Structured Streaming unchanged (the
    * [[graft.streaming.Streams.imageDedupStream]] twin). */
  private def withPayloadColumns(media: DataFrame, cols: StructField*)(
      valuesOf: Array[Byte] => Seq[Any]): DataFrame = {
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq ++ valuesOf(r.getAs[Array[Byte]](payloadIdx))))
    }(Encoders.row(StructType(media.schema.fields ++ cols)))
  }

  /** [[withPayloadColumns]] for one nullable long hash column. */
  private def withPayloadHash(media: DataFrame, outCol: String,
      hashOf: Array[Byte] => Option[Long]): DataFrame =
    withPayloadColumns(media, StructField(outCol, LongType))(bytes =>
      Seq(hashOf(bytes).map(Long.box).orNull))

  /** Adds a nullable `dhash` column ([[dHash63]]) to a media table —
    * map-only, partition-parallel, input columns preserved, null for
    * non-decodable payloads. Compose with
    * [[graft.ops.Dedup.hammingNearDupPairs]] for the banded image
    * near-dup join (q140). */
  def withImageDHash(media: DataFrame): DataFrame =
    withPayloadHash(media, "dhash", dHash63)

  /** Adds BOTH perceptual hash columns (`dhash` — [[dHash63]], `ahash31`
    * — [[audioPHash31]]) in ONE partition-parallel pass over a MIXED
    * media table — the [[JdkCodec]] dispatch story for dedup keys: each
    * payload is probed image-first (magic bytes make the wrong-modality
    * reject cheap), so exactly one of the two columns is non-null for
    * decodable media and both are null for payloads no JDK reader
    * claims. The one decode per payload is what
    * [[graft.ops.Curation.curateMedia]] rides. */
  def withPerceptualHashes(media: DataFrame): DataFrame =
    withPayloadColumns(media, StructField("dhash", LongType),
      StructField("ahash31", LongType)) { bytes =>
      dHash63(bytes) match {
        case Some(h) => Seq(h, null)
        case None => Seq(null, audioPHash31(bytes).map(Long.box).orNull)
      }
    }

  /** [[synthPng]] with id-linear channels and a uniform brightness
    * shift — the dHash twin fixture: channels
    * `r=(3·id+5x+7y) mod 200 + delta` (g/b their own coefficient rows),
    * `w=(id mod 7)+2`, `h=(id mod 5)+2`. Channels stay ≤ 219, so no
    * clamping anywhere, and gray shifts by exactly `delta` pointwise
    * (`3·delta/3` — integer division exact): two renders of one id at
    * different deltas are DIFFERENT payloads with IDENTICAL dHash, the
    * brightness-invariance a byte-level hash cannot fake. Unlike
    * [[synthPng]]'s `m = id mod 256`, the full id feeds the formula, so
    * distinct ids render distinct images. */
  private[graft] def synthPngShifted(id: Long, delta: Int): Array[Byte] = {
    require(delta >= 0 && delta <= 55, "delta must keep channels under 256")
    renderPngShifted(id, delta, bump = 0)
  }

  /** The shifted PNG fixtures' pixel formula: id-linear channels mod 200
    * plus `delta`, plus `bump` on the corner pixel (w−1, h−1). */
  private def renderPngShifted(id: Long, delta: Int, bump: Int): Array[Byte] = {
    val w = (Math.floorMod(id, 7L) + 2L).toInt
    val h = (Math.floorMod(id, 5L) + 2L).toInt
    encodePng(id) { (x, y) =>
      val b0 = if (x == w - 1 && y == h - 1) bump else 0
      val r = Math.floorMod(3 * id + 5 * x + 7 * y, 200L).toInt + delta + b0
      val g = Math.floorMod(11 * id + 13 * x + 17 * y, 200L).toInt + delta + b0
      val b = Math.floorMod(19 * id + 23 * x + 29 * y, 200L).toInt + delta + b0
      (r << 16) | (g << 8) | b
    }
  }

  /** [[synthPngShifted]] with an additional `bump` on the CORNER pixel
    * (w−1, h−1) — the DRIFTED-re-encode fixture (q144): the uniform
    * `delta` leaves the dHash unchanged (monotone invariance) while the
    * corner bump perturbs only the sample-grid cells that map to that
    * pixel, flipping AT MOST 3 comparison bits (the corner row classes
    * `⌊gy·h/7⌋ = h−1` contribute one boundary compare each — 3 rows at
    * h=2, fewer for taller images) and possibly 0 (when the affected
    * compares already pointed the bump's way). Either way the render
    * lands WITHIN Hamming distance 3 of the unbumped base — inside
    * [[graft.ops.Incremental.dropSeenImagesWithinDist]]'s default
    * horizon, and strictly OUTSIDE the exact-hash state's reach
    * whenever ≥ 1 bit flips. Channels stay ≤ 199+delta+bump ≤ 254 for
    * delta ≤ 25/bump ≤ 30 (no clamping), so the decoded gray shift is
    * exact integer arithmetic an external oracle replays. */
  private[graft] def synthPngShiftedBumped(id: Long, delta: Int,
      bump: Int): Array[Byte] = {
    require(delta >= 0 && delta <= 25 && bump >= 0 && bump <= 30,
      "delta/bump must keep channels under 256")
    renderPngShifted(id, delta, bump)
  }

  /** Media table of [[synthPngShiftedBumped]] fixtures — the q144
    * drifted-re-encode input. */
  def synthImagesShiftedBumped(df: DataFrame, idCol: String, delta: Int,
      bump: Int, idOffset: Long = 0L): DataFrame =
    synthTable(df, idCol, idOffset)(id =>
      (synthPngShiftedBumped(id, delta, bump), "image", "png"))

  /** Media table of [[synthPngShifted]] fixtures (id offset applied to
    * `media_id` so originals and shifted twins can coexist in one
    * union). */
  def synthImagesShifted(df: DataFrame, idCol: String, delta: Int,
      idOffset: Long = 0L): DataFrame =
    synthTable(df, idCol, idOffset)(id => (synthPngShifted(id, delta), "image", "png"))

  /** Mixed frame-media table for the [[frameSampleReal]] contract
    * (q139): by `id mod 2`, a real animated GIF ([[synthGif]] — the
    * real-decode path) or the [[synthMixed]] non-decodable payload (no
    * reader claims it, exercising the byte-stride fallback). */
  def synthFrameMedia(df: DataFrame, idCol: String): DataFrame =
    synthTable(df, idCol)(id =>
      if (Math.floorMod(id, 2L) == 0L) (synthGif(id), "image", "gif")
      else (junkPayload(id), "video", "bin"))

  /** The decode/feature-extract stage: partition-parallel over blobs,
    * iterated in `batchSize` groups so the codec sees columnar batches
    * ([[BatchCodec]]) rather than single rows. The default codec is the
    * documented deterministic stub — a real decoder is a one-object
    * drop-in; everything else (schema, batching, checksum, partition
    * parallelism) is engine-side and tested. */
  def decodeFeatures(media: DataFrame, featureDim: Int = 16,
      codec: BatchCodec = StubCodec, batchSize: Int = 256): DataFrame = {
    require(batchSize >= 1)
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          val payloads = batch.map(_.getAs[Array[Byte]](1)).toArray
          val feats = codec.decodeBatch(payloads, featureDim)
          require(feats.length == payloads.length,
            s"codec returned ${feats.length} vectors for ${payloads.length} payloads")
          batch.indices.iterator.map { i =>
            val bytes = payloads(i)
            Row(batch(i).getLong(0), bytes.length.toLong, checksumHex(bytes),
              feats(i).toSeq)
          }
        }
      }(enc)
  }

  /** Resize stage: per-row map producing a fixed-size payload + updated
    * metadata (width/height filled in). The pixel resample is STUBBED
    * (truncate/cycle-pad the bytes to `w*h`) — a real codec plugs into
    * [[resizeStub]]; the Spark-side shape (binary → binary map, metadata
    * struct rewrite, codegen-friendly surroundings) is the real contract. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.select(col("media_id"), col("payload"), col("meta"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val meta = r.getStruct(2)
          Row(r.getLong(0), resizeStub(bytes, w * h),
            Row(meta.get(0), meta.get(1), w, h, meta.get(4)))
        }
      }(Encoders.row(mediaSchema))

  /** Deterministic tiny REAL animated GIF keyed by `id` — the
    * oracle-checkable multi-frame fixture ([[synthPng]]'s playbook, with
    * a time axis): `n_frames = (id mod 6)+2`, each frame
    * `w = (id mod 5)+2` × `h = (id mod 4)+2`, pixel (x, y) of frame f
    * holds GRAY value `(3m + 5x + 7y + 11f) mod 256` with
    * `m = id mod 256`. Frames are TYPE_BYTE_INDEXED over an explicit
    * 256-entry gray palette (r=g=b=i): GIF stores the palette verbatim
    * (no quantization, no sRGB gamma remap — the TYPE_BYTE_GRAY trap),
    * so every decoded sample is exact integer arithmetic on the id while
    * the payload is a genuine multi-image GIF89a stream only a real
    * sequence-aware reader can parse back (`ImageIO.read` alone sees
    * frame 0 and nothing else). */
  /** Shared GIF89a sequence encoder over a per-thread writer
    * ([[ImgIo.withGifWriter]] — no per-call registry walk): indexed
    * 256-entry gray palette (r=g=b=i, no quantization), interlace OFF —
    * the JDK GIF writer's default interlaced encoding CORRUPTS rows on
    * images 2-4 pixels tall (measured in GifDbg-style probes:
    * 2x2/6x4/32x2 all lose every row past the first interlace pass;
    * >=5 tall or exactly 1 tall round-trip fine) — progressive
    * MODE_DISABLED makes every probed size lossless. Byte-identical to
    * the pre-r14 per-call writer construction (ImgIoSpec pins it). */
  private def encodeGifFrames(nFrames: Int, w: Int, h: Int)(
      gray: (Int, Int, Int) => Int): Array[Byte] = {
    ensureImageIoMemCache()
    val pal = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, pal, pal, pal)
    ImgIo.withGifWriter { writer =>
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.getRaster.setSample(x, y, 0, gray(f, x, y))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
    }
  }

  private[graft] def synthGif(id: Long): Array[Byte] = {
    val nFrames = (Math.floorMod(id, 6L) + 2L).toInt
    val w = (Math.floorMod(id, 5L) + 2L).toInt
    val h = (Math.floorMod(id, 4L) + 2L).toInt
    val m = Math.floorMod(id, 256L).toInt
    encodeGifFrames(nFrames, w, h)((f, x, y) =>
      (3 * m + 5 * x + 7 * y + 11 * f) % 256)
  }

  /** ALL frames of a JDK-readable image payload as
    * `(width, height, gray_sum)` per frame, where `gray_sum` is the sum
    * of `(r+g+b)/3` over the frame's pixels (for a gray-palette GIF this
    * is exactly the stored sample sum). `None` when no installed reader
    * claims the bytes — the caller falls back to the byte-stride stub.
    * Frames are read INCREMENTALLY (`reader.read(i)` until the index
    * runs out) rather than via `getNumImages(true)`, which would scan
    * the whole stream up front; a truncated animation yields its intact
    * prefix (per-payload degradation, the [[ImageIoCodec]] contract —
    * one crafted blob must never kill the task). */
  private[ops] def imageFrames(bytes: Array[Byte]): Option[Vector[(Int, Int, Long)]] =
    decodeFrames(bytes) { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          x += 1
        }
        y += 1
      }
      (w, h, sum)
    }

  /** `frame` of every frame a sequence-aware reader decodes from `bytes`,
    * in order, read INCREMENTALLY (`reader.read(i)` until the index runs
    * out). A stream that breaks after frame 0 yields its intact prefix;
    * `None` when no reader claims the bytes or frame 0 does not decode.
    * Per-thread reader dispatch ([[ImgIo.withSeqReader]]) — no per-call
    * registry walk. */
  private def decodeFrames[A](bytes: Array[Byte])(
      frame: java.awt.image.BufferedImage => A): Option[Vector[A]] =
    try {
      ImgIo.withSeqReader(bytes) { reader =>
        val frames = Vector.newBuilder[A]
        var i = 0
        var done = false
        while (!done) {
          val img =
            try reader.read(i)
            catch {
              case _: IndexOutOfBoundsException => null
              // mid-stream corruption: keep the intact prefix
              case scala.util.control.NonFatal(_) if i > 0 => null
            }
          if (img == null) done = true
          else {
            frames += frame(img)
            i += 1
          }
        }
        frames.result()
      }.filter(_.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** ORDER-SENSITIVE sequence fingerprint of a multi-frame payload —
    * the animation-dedup key single-image dHash and byte keys both miss
    * (a re-encoded or brightness-edited animation differs in every
    * byte AND in frame 0 alone tells nothing about the rest):
    * `(n_frames, dHash(first), dHash(middle), dHash(last))` over REAL
    * decoded frames ([[dHashOfImage]] per frame — frame `⌊n/2⌋` is the
    * middle, so trims and re-orders move at least one anchor).
    * Frame-by-frame incremental read like [[imageFrames]] (truncated
    * streams keep their intact prefix); `None` when no installed
    * reader claims the bytes (true video — the documented JDK stub
    * boundary). Per-pixel MONOTONE brightness shifts leave all three
    * anchor hashes unchanged — the [[dHash63]] invariance, per frame. */
  private[graft] def videoSeqHash(bytes: Array[Byte])
      : Option[(Int, Long, Long, Long)] =
    decodeFrames(bytes)(dHashOfImage)
      .map(hs => (hs.length, hs.head, hs(hs.length / 2), hs.last))

  /** Adds nullable `n_frames` / `h_first` / `h_mid` / `h_last` columns
    * ([[videoSeqHash]]) to a media table — map-only, partition-parallel,
    * input columns preserved, all four null for payloads no reader
    * claims. Compose with [[videoSeqNearDups]] (or any banded Hamming
    * join over one anchor) for animation near-dup detection (q146). */
  def withVideoSeqHash(media: DataFrame): DataFrame =
    withPayloadColumns(media, StructField("n_frames", IntegerType),
      StructField("h_first", LongType), StructField("h_mid", LongType),
      StructField("h_last", LongType)) { bytes =>
      videoSeqHash(bytes) match {
        // Seq[Any]: a bare Seq(n, f, m, l) weak-LUBs Int with the
        // Longs and silently widens n — the encoder then rejects the
        // boxed Long where the schema says INT
        case Some((n, f, m, l)) => Seq[Any](n, f, m, l)
        case None => Seq(null, null, null, null)
      }
    }

  /** Animation near-dup pairs over the sequence fingerprint: candidates
    * from the banded Hamming join on the FIRST-frame anchor
    * ([[graft.ops.Dedup.hammingNearDupPairs]] — pigeonhole recall, never
    * all-pairs), verified on the full sequence: equal frame counts and
    * every anchor within `maxDist` bits. Catches re-encoded/
    * brightness-edited animations; a trimmed copy changes `n_frames`
    * (and the middle/last anchors) and is NOT a sequence-dup — by
    * design, the fingerprint is order- and length-sensitive. Returns
    * (id_a, id_b, d_first, d_mid, d_last), id_a < id_b. */
  def videoSeqNearDups(media: DataFrame, idCol: String = "media_id",
      maxDist: Int = 3, maxBucket: Int = 1 << 16): DataFrame = {
    import graft.ops.{Dedup, OpCaches}
    val h = OpCaches.persist(withVideoSeqHash(media)
      .filter(col("h_first").isNotNull)
      .select(col(idCol).cast("long").as("sid"), col("n_frames"),
        col("h_first"), col("h_mid"), col("h_last")))
    val cands = Dedup.hammingNearDupPairs(
      h.select(col("sid"), col("h_first")), "sid", "h_first",
      bits = 63, bands = 7, maxDist = maxDist, maxBucket = maxBucket)
      .select(col("id_a"), col("id_b"), col("hamming").as("d_first"))
    cands
      .join(h.select(col("sid").as("id_a"), col("n_frames").as("nf_a"),
        col("h_mid").as("m_a"), col("h_last").as("l_a")), Seq("id_a"))
      .join(h.select(col("sid").as("id_b"), col("n_frames").as("nf_b"),
        col("h_mid").as("m_b"), col("h_last").as("l_b")), Seq("id_b"))
      .filter(col("nf_a") === col("nf_b"))
      .select(col("id_a"), col("id_b"), col("d_first"),
        bit_count(col("m_a").bitwiseXOR(col("m_b"))).cast("int").as("d_mid"),
        bit_count(col("l_a").bitwiseXOR(col("l_b"))).cast("int").as("d_last"))
      .filter(col("d_mid") <= maxDist && col("d_last") <= maxDist)
  }

  /** [[synthGif]] with id-LINEAR gray and a uniform brightness shift —
    * the [[synthPngShifted]] playbook with a time axis (the q146
    * fixture): frame f's pixel (x, y) holds gray
    * `(3·id + 5x + 7y + 11f) mod 200 + delta`, dims
    * `w = (id mod 5)+2`, `h = (id mod 4)+2`, `nf = (id mod 6)+2`.
    * Gray stays ≤ 254 for delta ≤ 55 (no clamping), so two renders of
    * one id at different deltas are byte-for-byte different GIFs with
    * IDENTICAL per-frame dHashes; the full id feeds the formula, so
    * distinct ids render distinct animations. Same indexed-gray
    * palette + interlace-off encoding as [[synthGif]] (the JDK
    * interlace bug workaround documented there). */
  private[graft] def synthGifShifted(id: Long, delta: Int): Array[Byte] = {
    require(delta >= 0 && delta <= 55, "delta must keep gray under 255")
    renderGifShifted(id, delta, bump = 0)
  }

  /** The shifted GIF fixtures' gray formula: id-linear gray mod 200 plus
    * `delta`, plus `bump` on frame 0's corner pixel (w−1, h−1). */
  private def renderGifShifted(id: Long, delta: Int, bump: Int): Array[Byte] = {
    val nFrames = (Math.floorMod(id, 6L) + 2L).toInt
    val w = (Math.floorMod(id, 5L) + 2L).toInt
    val h = (Math.floorMod(id, 4L) + 2L).toInt
    encodeGifFrames(nFrames, w, h) { (f, x, y) =>
      val b0 = if (f == 0 && x == w - 1 && y == h - 1) bump else 0
      Math.floorMod(3 * id + 5 * x + 7 * y + 11 * f, 200L).toInt + delta + b0
    }
  }

  /** [[synthGifShifted]] with an additional `bump` on FRAME 0's corner
    * pixel (w−1, h−1) — the drifted-animation-re-encode fixture (q147,
    * the [[synthPngShiftedBumped]] playbook on the time axis): the
    * uniform delta leaves every frame hash unchanged while the frame-0
    * corner bump drifts ONLY the first-frame anchor by 0–3 comparison
    * bits (middle/last anchors sample frames ≥ 1 for every nf ≥ 2) —
    * inside [[graft.ops.Incremental.dropSeenVideoSeqs]]'s default
    * Hamming horizon, outside an exact-fingerprint key whenever ≥ 1 bit
    * flips. Gray stays ≤ 199+delta+bump ≤ 254 for delta ≤ 25 / bump ≤
    * 30 (no clamping), fully oracle-replayable. */
  private[graft] def synthGifShiftedBumped(id: Long, delta: Int,
      bump: Int): Array[Byte] = {
    require(delta >= 0 && delta <= 25 && bump >= 0 && bump <= 30,
      "delta/bump must keep gray under 255")
    renderGifShifted(id, delta, bump)
  }

  /** Media table of [[synthGifShiftedBumped]] fixtures — the q147
    * drifted-animation input. */
  def synthGifsShiftedBumped(df: DataFrame, idCol: String, delta: Int,
      bump: Int, idOffset: Long = 0L): DataFrame =
    synthTable(df, idCol, idOffset)(id =>
      (synthGifShiftedBumped(id, delta, bump), "image", "gif"))

  /** Media table of [[synthGifShifted]] fixtures (id offset so originals
    * and shifted twins coexist in one union — the [[synthImagesShifted]]
    * convention on the time axis). */
  def synthGifsShifted(df: DataFrame, idCol: String, delta: Int,
      idOffset: Long = 0L): DataFrame =
    synthTable(df, idCol, idOffset)(id => (synthGifShifted(id, delta), "image", "gif"))

  /** Output schema of [[frameSampleReal]]: one row per SAMPLED frame.
    * Real-decoded rows carry frame dimensions + the exact gray sum
    * (`frame_bytes` null); stub rows carry the byte-stride slice size
    * (`frame_w`/`frame_h`/`pix_sum` null). */
  val frameSampleSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("real_decode", BooleanType),
    StructField("n_frames", LongType),
    StructField("frame_idx", LongType),
    StructField("frame_w", IntegerType),
    StructField("frame_h", IntegerType),
    StructField("pix_sum", LongType),
    StructField("frame_bytes", LongType)))

  /** Frame sampling with REAL decode where the JDK has a codec: payloads
    * any installed ImageIO reader claims (animated GIF being the
    * multi-frame case — the JDK reads every GIF frame, no external
    * dependency) are decoded frame-by-frame and every `stride`-th REAL
    * frame is emitted with its true dimensions and exact pixel sum;
    * payloads nothing claims (true video — the JDK has no video codec,
    * the documented stub boundary) fall back per-payload to the
    * [[frameSample]] byte-stride arithmetic. Same map-only scale shape
    * as [[decodeFeatures]]: partition-parallel, no shuffle, binary
    * column pruned upstream when only counts are consumed. */
  def frameSampleReal(media: DataFrame, frameBytes: Int = 256,
      stride: Int = 4): DataFrame = {
    require(frameBytes >= 1 && stride >= 1)
    val enc = org.apache.spark.sql.Encoders.row(frameSampleSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          imageFrames(bytes) match {
            case Some(frames) =>
              (0 until frames.length by stride).iterator.map { i =>
                val (w, h, sum) = frames(i)
                Row(id, true, frames.length.toLong, i.toLong, w, h, sum, null)
              }
            case None =>
              val n = bytes.length.toLong
              val nFrames = (n + frameBytes - 1) / frameBytes
              (0L until nFrames by stride.toLong).iterator.map { i =>
                Row(id, false, nFrames, i, null, null, null,
                  math.min(frameBytes.toLong, n - i * frameBytes))
              }
          }
        }
      }(enc)
  }

  /** Frame sampling for video-typed payloads: split the payload into
    * fixed-size frames and keep every `stride`-th one, exploded to one row
    * per sampled frame. Pure Column expressions (slice arithmetic over the
    * binary), so the whole stage stays in codegen and the frame COUNTS are
    * reproducible in any engine — only the codec that would decode each
    * frame is a stub elsewhere. */
  def frameSample(media: DataFrame, frameBytes: Int = 256, stride: Int = 4): DataFrame = {
    require(frameBytes >= 1 && stride >= 1)
    val len = octet_length(col("payload")).cast("long")
    val nFrames = ceil(len.cast("double") / frameBytes).cast("long")
    media.select(col("media_id"), col("payload"), len.as("n_bytes"), nFrames.as("n_frames"))
      .filter(col("n_frames") > 0) // empty payload → no frames (and no empty sequence())
      .select(col("media_id"), col("n_bytes"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))).as("frame_idx"))
      .select(col("media_id"), col("n_frames"), col("frame_idx"),
        least(lit(frameBytes.toLong),
          col("n_bytes") - col("frame_idx") * frameBytes).as("frame_bytes"))
  }

  /** Deterministic fake resample: truncate or cycle-pad to `size` bytes. */
  private[ops] def resizeStub(bytes: Array[Byte], size: Int): Array[Byte] = {
    val out = new Array[Byte](size)
    if (bytes.nonEmpty) {
      var i = 0
      while (i < size) { out(i) = bytes(i % bytes.length); i += 1 }
    }
    out
  }

  /** Deterministic fake decode: byte-value histogram over `dim` buckets,
    * L1-normalized. A real implementation would decode pixels/samples here. */
  private[ops] def decodeStub(bytes: Array[Byte], dim: Int): Seq[Float] = {
    val hist = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) % dim) += 1f
      i += 1
    }
    val total = math.max(1f, bytes.length.toFloat)
    hist.map(_ / total).toSeq
  }

  private def checksumHex(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(bytes).map("%02x".format(_)).mkString
  }
}
