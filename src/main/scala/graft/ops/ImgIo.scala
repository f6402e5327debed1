package graft.ops

import java.awt.image.BufferedImage

/** Per-thread ImageIO plugin instances for the image hot paths.
  *
  * WHY (optimization round r14): every `ImageIO.read` / `ImageIO.write`
  * call walks the IIORegistry (provider iteration + `canDecode` probes +
  * stream-SPI lookup) and constructs a fresh reader/writer; under a
  * 32-thread Spark stage the registry machinery serializes enough that
  * the parallel microbench (OPTIMIZATION_r14.md §2) measured PNG encode
  * at 8.2× the ideal per-op wall, PNG decode at 6.9×, GIF encode at
  * 3.8×. This object keeps ONE reader/writer per (thread, format) —
  * the SAME JDK plugin classes the registry would return, dispatched on
  * the payload's magic bytes — so the per-call cost is just the codec.
  *
  * Byte/semantics contracts (ImgIoSpec): [[encodePng]] is
  * byte-identical to `ImageIO.write(img, "png", …)`; [[readImage]]
  * decodes identical pixels for PNG/GIF magics, and payloads with any
  * OTHER magic take the unchanged `ImageIO.read` registry path, so
  * acceptance semantics for the whole byte universe are unchanged.
  */
object ImgIo {

  private def tl[T](mk: => T) = ThreadLocal.withInitial(() => mk)

  private val pngWriter = tl {
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
  }
  private val pngReader = tl {
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
  }
  private val gifReader = tl {
    javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
  }

  /** A fresh per-thread GIF writer user: [[synthGif]]-style sequence
    * writes drive prepare/write/end themselves. */
  private val gifWriter = tl {
    javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
  }

  /** `ImageIO.write(img, "png", out)` minus the registry walk —
    * same plugin, same default param, byte-identical stream
    * (ImgIoSpec pins the fixture sweep). */
  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val w = pngWriter.get()
    try {
      w.setOutput(ios)
      w.write(img)
    } finally {
      w.setOutput(null)
      ios.close()
    }
    bos.toByteArray
  }

  /** Borrow the per-thread GIF writer with its output bound to a fresh
    * in-memory stream; `f` drives the sequence API; returns the encoded
    * bytes. The writer is reset (not disposed) so the next payload on
    * this thread reuses it. */
  def withGifWriter(f: javax.imageio.ImageWriter => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val w = gifWriter.get()
    var ok = false
    try {
      w.setOutput(ios)
      f(w)
      w.setOutput(null)
      ok = true
    } finally {
      if (!ok) {
        // f may have died between prepareWriteSequence and
        // endWriteSequence; setOutput(null) does NOT clear the GIF
        // writer's isWritingSequence state, so a reused instance would
        // corrupt the NEXT payload on this thread. Retire it and let
        // the ThreadLocal mint a fresh one.
        try w.dispose() catch { case scala.util.control.NonFatal(_) => }
        gifWriter.remove()
      }
      ios.close()
    }
    bos.toByteArray
  }

  private def magic(bytes: Array[Byte]): Int =
    if (bytes.length < 6) 0
    else ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
      ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)

  private val PNG = 0x89504e47  // \x89PNG
  private val GIF = 0x47494638  // GIF8

  /** Frame 0 of the payload — `ImageIO.read` semantics (null when
    * nothing decodes) with the registry walk skipped for the two magics
    * the fixtures produce; every other byte pattern takes the unchanged
    * `ImageIO.read` path. A 4-byte PNG/GIF magic over an undecodable
    * body returns null here too (the registry probes the FULL signature
    * and would never have claimed it), so the documented contract holds
    * for the whole byte universe, not just the fixtures — web-crawl
    * bytes must degrade per-payload, never kill the task. */
  def readImage(bytes: Array[Byte]): BufferedImage = {
    Multimodal.ensureImageIoMemCache()
    val m = magic(bytes)
    if (m == PNG) readVia(pngReader.get(), bytes)
    else if (m == GIF) readVia(gifReader.get(), bytes)
    else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  private def readVia(r: javax.imageio.ImageReader,
      bytes: Array[Byte]): BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      r.setInput(iis, /* seekForwardOnly = */ true,
        /* ignoreMetadata = */ true)
      r.read(0)
    } catch {
      case scala.util.control.NonFatal(_) => null
    } finally {
      r.setInput(null)
      iis.close()
    }
  }

  /** Borrow a per-thread sequence reader for the payload's magic —
    * `f(reader)` runs with input bound; `None` when no installed reader
    * claims the bytes (identical set to `ImageIO.getImageReaders`:
    * non-PNG/GIF magics still consult the registry). */
  def withSeqReader[T](bytes: Array[Byte])(
      f: javax.imageio.ImageReader => T): Option[T] = {
    Multimodal.ensureImageIoMemCache()
    val m = magic(bytes)
    val fast =
      if (m == PNG) pngReader.get()
      else if (m == GIF) gifReader.get()
      else null
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val r =
        if (fast != null) fast
        else {
          val it = javax.imageio.ImageIO.getImageReaders(iis)
          if (!it.hasNext) return None
          it.next()
        }
      try {
        // plain setInput, matching the pre-r14 sequence readers (the
        // frame-0-only [[readImage]] mirrors ImageIO.read's (true, true))
        r.setInput(iis)
        Some(f(r))
      } finally {
        if (fast != null) r.setInput(null) else r.dispose()
      }
    } finally iis.close()
  }
}
