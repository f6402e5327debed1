package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Pins of the per-thread ImageIO plugin reuse (r14 optimization): the
  * PNG/GIF encoders must stay byte-identical to the per-call
  * `ImageIO.write` / fresh-writer construction they replaced, decode
  * must keep `ImageIO.read` semantics for every payload class, and
  * plugin REUSE across many payloads on one thread must not drift. */
class ImgIoSpec extends AnyFunSuite {

  private def pngViaRegistry(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The pre-r14 per-call GIF sequence writer, kept as the byte oracle. */
  private def gifViaRegistry(nFrames: Int, w: Int, h: Int)(
      gray: (Int, Int, Int) => Int): Array[Byte] = {
    val pal = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, pal, pal, pal)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- 0 until nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        for (y <- 0 until h; x <- 0 until w)
          img.getRaster.setSample(x, y, 0, gray(f, x, y))
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("synthPng family is byte-identical to the ImageIO.write path " +
      "across the fixture sweep (and under writer reuse)") {
    for (id <- 0L until 1024L) {
      // reuse-order stress: the same per-thread writer encodes every id
      assert(java.util.Arrays.equals(Multimodal.synthPng(id), {
        val w = (Math.floorMod(id, 7L) + 2L).toInt
        val h = (Math.floorMod(id, 5L) + 2L).toInt
        val m = Math.floorMod(id, 256L).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val r = (3 * m + 5 * x + 7 * y) % 256
          val g = (11 * m + 13 * x + 17 * y) % 256
          val b = (19 * m + 23 * x + 29 * y) % 256
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
        }
        pngViaRegistry(img)
      }), s"PNG byte mismatch at id=$id")
      val w = (Math.floorMod(id, 7L) + 2L).toInt
      val h = (Math.floorMod(id, 5L) + 2L).toInt
      def shifted(delta: Int, bump: Int) = {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w) {
          val b0 = if (x == w - 1 && y == h - 1) bump else 0
          val r = Math.floorMod(3 * id + 5 * x + 7 * y, 200L).toInt + delta + b0
          val g = Math.floorMod(11 * id + 13 * x + 17 * y, 200L).toInt + delta + b0
          val b = Math.floorMod(19 * id + 23 * x + 29 * y, 200L).toInt + delta + b0
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
        }
        pngViaRegistry(img)
      }
      assert(java.util.Arrays.equals(Multimodal.synthPngShifted(id, 15), shifted(15, 0)),
        s"shifted PNG byte mismatch at id=$id")
      assert(java.util.Arrays.equals(Multimodal.synthPngShiftedBumped(id, 20, 30),
        shifted(20, 30)), s"bumped PNG byte mismatch at id=$id")
    }
  }

  test("synthGif family is byte-identical to the per-call writer path " +
      "across the fixture sweep (and under writer reuse)") {
    for (id <- 0L until 256L) {
      val nF = (Math.floorMod(id, 6L) + 2L).toInt
      val w = (Math.floorMod(id, 5L) + 2L).toInt
      val h = (Math.floorMod(id, 4L) + 2L).toInt
      val m = Math.floorMod(id, 256L).toInt
      assert(java.util.Arrays.equals(Multimodal.synthGif(id),
        gifViaRegistry(nF, w, h)((f, x, y) => (3 * m + 5 * x + 7 * y + 11 * f) % 256)),
        s"GIF byte mismatch at id=$id")
      assert(java.util.Arrays.equals(Multimodal.synthGifShifted(id, 15),
        gifViaRegistry(nF, w, h)((f, x, y) =>
          Math.floorMod(3 * id + 5 * x + 7 * y + 11 * f, 200L).toInt + 15)),
        s"shifted GIF byte mismatch at id=$id")
      assert(java.util.Arrays.equals(Multimodal.synthGifShiftedBumped(id, 20, 30),
        gifViaRegistry(nF, w, h) { (f, x, y) =>
          val b0 = if (f == 0 && x == w - 1 && y == h - 1) 30 else 0
          Math.floorMod(3 * id + 5 * x + 7 * y + 11 * f, 200L).toInt + 20 + b0
        }), s"bumped GIF byte mismatch at id=$id")
    }
  }

  test("readImage keeps ImageIO.read semantics per payload class under reuse") {
    for (id <- 0L until 256L) {
      // PNG: identical pixels through the per-thread reader
      val png = Multimodal.synthPng(id)
      val a = ImgIo.readImage(png)
      val b = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(a.getWidth == b.getWidth && a.getHeight == b.getHeight)
      for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
        assert(a.getRGB(x, y) == b.getRGB(x, y), s"pixel drift id=$id ($x,$y)")
      // GIF frame 0: same via both paths
      val gif = Multimodal.synthGif(id)
      val ga = ImgIo.readImage(gif)
      val gb = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gif))
      assert(ga.getWidth == gb.getWidth && ga.getHeight == gb.getHeight)
      for (y <- 0 until ga.getHeight; x <- 0 until ga.getWidth)
        assert(ga.getRGB(x, y) == gb.getRGB(x, y))
      // junk and WAV payloads: both paths reject
      val junk = Array.fill((Math.floorMod(id, 17L) + 3L).toInt)(
        (Math.floorMod(id, 199L) + 1L).toByte)
      assert(ImgIo.readImage(junk) == null &&
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(junk)) == null)
      val wav = Multimodal.synthWav(id)
      assert(ImgIo.readImage(wav) == null &&
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(wav)) == null)
    }
  }

  test("readImage returns null (not throw) on PNG/GIF magic over an " +
      "undecodable body, and the per-thread reader survives it") {
    // 4-byte magic + garbage: the registry path's full-signature probe
    // never claims these, so ImageIO.read returns null — the fast path
    // must match instead of throwing out of readVia
    val fakePng = 0x89.toByte +: "PNG????????".getBytes("ISO-8859-1")
    val fakeGif = "GIF8????????".getBytes("ISO-8859-1")
    assert(ImgIo.readImage(fakePng) == null)
    assert(ImgIo.readImage(fakeGif) == null)
    // same-thread reuse after the failed decode still yields exact pixels
    val png = Multimodal.synthPng(7L)
    val a = ImgIo.readImage(png)
    val b = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
      assert(a.getRGB(x, y) == b.getRGB(x, y))
  }

  test("a GIF sequence body that throws mid-write cannot poison the " +
      "per-thread writer") {
    val boom = intercept[RuntimeException](ImgIo.withGifWriter { w =>
      w.prepareWriteSequence(null)
      throw new RuntimeException("mid-sequence failure")
    })
    assert(boom.getMessage == "mid-sequence failure")
    // next encode on this thread must produce a byte-correct stream
    val id = 42L
    val viaReuse = Multimodal.synthGif(id)
    val nF = (Math.floorMod(id, 6L) + 2L).toInt
    val frames = Multimodal.imageFrames(viaReuse).get
    assert(frames.length == nF)
  }

  test("multi-frame readers are unchanged on the GIF fixtures and still " +
      "reject junk") {
    for (id <- 0L until 128L) {
      val nF = (Math.floorMod(id, 6L) + 2L).toInt
      val w = (Math.floorMod(id, 5L) + 2L).toInt
      val h = (Math.floorMod(id, 4L) + 2L).toInt
      val m = Math.floorMod(id, 256L).toInt
      val frames = Multimodal.imageFrames(Multimodal.synthGif(id)).get
      assert(frames.length == nF)
      for ((fr, f) <- frames.zipWithIndex) {
        assert(fr._1 == w && fr._2 == h)
        var sum = 0L
        for (y <- 0 until h; x <- 0 until w)
          sum += (3 * m + 5 * x + 7 * y + 11 * f) % 256
        assert(fr._3 == sum, s"frame sum drift id=$id f=$f")
      }
      // brightness twins keep identical sequence fingerprints (q146 law)
      assert(Multimodal.videoSeqHash(Multimodal.synthGifShifted(id, 0)) ==
        Multimodal.videoSeqHash(Multimodal.synthGifShifted(id, 15)))
      val junk = Array.fill(7)((id % 100 + 1).toByte)
      assert(Multimodal.imageFrames(junk).isEmpty &&
        Multimodal.videoSeqHash(junk).isEmpty)
    }
  }
}
