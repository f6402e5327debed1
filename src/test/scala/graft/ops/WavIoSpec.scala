package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Pins of the lock-free canonical WAVE fast path (r14 optimization):
  * the synth writer must stay BYTE-IDENTICAL to the AudioSystem.write
  * container it replaced, and the decode dispatch must keep the
  * AudioSystem path's acceptance semantics on every payload class the
  * fixtures produce (canonical WAV, short clips, non-canonical RIFF,
  * AIFF, junk). */
class WavIoSpec extends AnyFunSuite {

  /** Exactly the container the pre-r14 synth paths emitted. */
  private def jdkWav(data: Array[Byte], rate: Float, channels: Int,
      nFrames: Long): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
      /* signed = */ true, /* bigEndian = */ false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("writeCanonical is byte-identical to AudioSystem.write across the " +
      "fixture parameter space") {
    // the synth fixtures draw (channels, rate, frames, sample base) from
    // id mods 2/4/50/256 — sweep ids over one full joint cycle slice plus
    // edge frame counts; every byte must match the JDK writer
    val rates = Array(8000f, 11025f, 16000f, 22050f)
    for (id <- 0L until 1600L) {
      val channels = (Math.floorMod(id, 2L) + 1L).toInt
      val rate = rates(Math.floorMod(id, 4L).toInt)
      val nFrames = (Math.floorMod(id, 50L) + 20L).toInt
      val m = Math.floorMod(id, 256L).toInt
      val data = new Array[Byte](nFrames * channels * 2)
      var i = 0
      while (i < nFrames * channels) {
        data(2 * i) = ((7 * m + 13 * i) % 201 - 100).toByte
        data(2 * i + 1) = (i % 3 - 1).toByte
        i += 1
      }
      val fast = WavIo.writeCanonical(data, rate, channels)
      val jdk = jdkWav(data, rate, channels, nFrames.toLong)
      assert(java.util.Arrays.equals(fast, jdk),
        s"byte mismatch at id=$id (channels=$channels rate=$rate frames=$nFrames)")
    }
  }

  test("synthWavSigned and synthWavBumped write the sample formula's PCM") {
    val rates = Array(8000f, 11025f, 16000f, 22050f)
    def fromFormula(id: Long)(sample: (Int, Int, Int) => Int): Array[Byte] = {
      val channels = (Math.floorMod(id, 2L) + 1L).toInt
      val nFrames = (Math.floorMod(id, 50L) + 20L).toInt
      val m = Math.floorMod(id, 256L).toInt
      val data = new Array[Byte](nFrames * channels * 2)
      for (i <- 0 until nFrames; ch <- 0 until channels) {
        val s = sample(m, i, ch)
        data((i * channels + ch) * 2) = (s & 0xff).toByte
        data((i * channels + ch) * 2 + 1) = ((s >> 8) & 0xff).toByte
      }
      WavIo.writeCanonical(data, rates(Math.floorMod(id, 4L).toInt), channels)
    }
    for (id <- 0L until 1600L) {
      assert(java.util.Arrays.equals(Multimodal.synthWavSigned(id, -1),
        fromFormula(id)((m, i, ch) => -((7 * m + 13 * i + 31 * ch) % 201 - 100))),
        s"inverted WAV byte mismatch at id=$id")
      assert(java.util.Arrays.equals(Multimodal.synthWavBumped(id, 7),
        fromFormula(id)((m, i, ch) =>
          (7 * m + 13 * i + 31 * ch) % 201 - 100 + (if (i == 0) 7 else 0))),
        s"bumped WAV byte mismatch at id=$id")
    }
  }

  test("synth fixtures parse back through the fast path with the JDK's values") {
    for (id <- 0L until 512L) {
      val wav = Multimodal.synthWav(id)
      val p = WavIo.parseCanonical(wav).get
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val fmt = in.getFormat
      assert(p.rate == fmt.getSampleRate && p.channels == fmt.getChannels &&
        p.nFrames.toLong == in.getFrameLength)
      val data = in.readAllBytes()
      assert(java.util.Arrays.equals(data,
        java.util.Arrays.copyOfRange(wav, p.dataOff, wav.length)))
      in.close()
    }
  }

  test("decode dispatch: junk has no JDK magic, AIFF keeps the fallback, " +
      "non-canonical RIFF is not claimed by the fast path") {
    // the synthMixed junk arm: constant-byte blobs — no JDK provider
    // accepts them, and the magic gate must agree
    for (id <- 0L until 64L) {
      val junk = Array.fill((Math.floorMod(id, 17L) + 3L).toInt)(
        (Math.floorMod(id, 199L) + 1L).toByte)
      assert(!WavIo.jdkMightRead(junk))
      assert(Multimodal.audioPHash31(junk).isEmpty)
      intercept[Exception] {
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(junk)).close()
      }
    }
    // PNG payloads: image magic, not audio — gate rejects without a lock
    assert(!WavIo.jdkMightRead(Multimodal.synthPng(7L)))
    // an AIFF container (FORM magic) must still route to AudioSystem:
    // same PCM, decodable on the fallback path only
    val data = Array.tabulate[Byte](80)(i => (i % 101 - 50).toByte)
    val fmtB = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
      /* signed = */ true, /* bigEndian = */ true)
    val aiffStream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmtB, 40L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(aiffStream,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val aiff = bos.toByteArray
    assert(WavIo.jdkMightRead(aiff))
    assert(WavIo.parseCanonical(aiff).isEmpty)
    assert(Multimodal.audioPHash31(aiff).isDefined) // fallback decodes it
    // a RIFF container with a non-canonical fmt (8-bit PCM): fast path
    // declines, fallback rejects it on the 16-bit gate — None either way
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val s8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](40)), fmt8, 40L)
    val bos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(s8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos8)
    val wav8 = bos8.toByteArray
    assert(WavIo.jdkMightRead(wav8))
    assert(WavIo.parseCanonical(wav8).isEmpty)
    assert(Multimodal.audioPHash31(wav8).isEmpty)
  }

  test("fingerprints and WavCodec features are unchanged on the fixture sweep") {
    // equivalence of the composed paths vs the JDK route, by construction
    // of the dispatch: canonical payloads take the fast path — compare
    // its results against a forced JDK parse of the same bytes
    for (id <- 0L until 256L) {
      val wav = Multimodal.synthWav(id)
      val fast15 = Multimodal.audioPHash15(wav)
      val fast31 = Multimodal.audioPHash31(wav)
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val fmt = in.getFormat
      assert(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
      in.close()
      // polarity invariance must survive the fast path
      assert(fast15 == Multimodal.audioPHash15(Multimodal.synthWavSigned(id, -1)))
      assert(fast31.isDefined && fast15.isDefined)
      // WavCodec features: rate/channels/frames/sums are the synth formula
      val f = Multimodal.WavCodec.decodeBatch(Array(wav), 8)(0)
      val rates = Array(8000f, 11025f, 16000f, 22050f)
      assert(f(0) == rates(Math.floorMod(id, 4L).toInt))
      assert(f(1) == (Math.floorMod(id, 2L) + 1L).toFloat)
      assert(f(2) == (Math.floorMod(id, 50L) + 20L).toFloat)
    }
  }
}
