package graft.ext

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
import javax.imageio.metadata.IIOMetadataNode
import javax.imageio.plugins.jpeg.JPEGQTable
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import scala.util.control.NonFatal

/** JPEG decode and encode through the JDK's own codec (`javax.imageio`,
  * a binding to IJG libjpeg), the codec Spark's `format("image")` source
  * decodes with. Closes the one header-only format left in
  * [[Multimodal]]: `decodeJpegDims` reads SOFn dimensions, this reads
  * the pixels.
  *
  * Profile: baseline and progressive Huffman JPEG, grayscale or YCbCr,
  * any sampling factors, with or without restart markers. Arithmetic
  * coding, lossless, 12-bit and CMYK streams return None and fall back
  * to header metadata in [[Multimodal.codecFeatures]].
  *
  * Total-function contract, as for the other codecs: any malformed
  * stream returns None, never throws. libjpeg fills a truncated or
  * corrupt scan with gray and only warns, so any read warning is a
  * failure too.
  *
  * Streams stay in memory (`MemoryCache*ImageStream`): `ImageIO.read`
  * and `write` would cache through files in `java.io.tmpdir` and hide
  * the warnings, and `ImageIO.setUseCache` is JVM-global state.
  *
  * Determinism: libjpeg's integer IDCT and color convert give the same
  * pixels on every JVM/executor, so decode(bytes) is a pure function,
  * safe for the hash-checked gate.
  */
object JpegCodec {

  // a crafted header must not make the reader allocate past 64 MB
  private val MaxSide = 1 << 14
  private val MaxBytes = 1L << 26

  private val NativeFormat = "javax_imageio_jpeg_image_1.0"

  /** Decode a JPEG. Returns (width, height, row-major RGB triplets);
    * grayscale is expanded to triplets. None on anything outside the
    * supported profile or structurally broken.
    */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    val reader = ImageIO.getImageReadersByFormatName("jpeg").next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    var warned = false
    reader.addIIOReadWarningListener((_, _) => warned = true)
    try {
      reader.setInput(in, true, true)
      val (w, h) = (reader.getWidth(0), reader.getHeight(0))
      if (w > MaxSide || h > MaxSide || w.toLong * h * 3 > MaxBytes) return None
      val raster = reader.read(0).getRaster
      val bands = raster.getNumBands
      if (warned || (bands != 1 && bands != 3)) return None
      val px = raster.getPixels(0, 0, w, h, null: Array[Int])
      Some((w, h, Array.tabulate(w * h * 3) { i =>
        px(if (bands == 1) i / 3 else i).toByte
      }))
    } catch { case NonFatal(_) => None }
    finally { reader.dispose(); in.close() }
  }

  /** Encode row-major RGB triplets as baseline JPEG.
    *
    * @param subsample420 true = 4:2:0 (2x2 chroma), false = 4:4:4
    * @param gray         true = single-component luminance stream
    * @param quantVal     flat quantization value for EVERY coefficient
    *                     (1 = near-lossless; 8 keeps flat-color blocks
    *                     exact while shrinking DC magnitudes)
    * @param restartEvery emit DRI + RSTn every N MCUs (0 = none)
    */
  def encode(w: Int, h: Int, rgb: Array[Byte], subsample420: Boolean = false,
             gray: Boolean = false, quantVal: Int = 8,
             restartEvery: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3, "bad pixel buffer")
    require(quantVal >= 1 && quantVal <= 255, "flat quant must fit a byte")
    val img = new BufferedImage(w, h,
      if (gray) BufferedImage.TYPE_BYTE_GRAY else BufferedImage.TYPE_3BYTE_BGR)
    def u(i: Int): Int = rgb(i) & 0xff
    val samples =
      if (gray) Array.tabulate(w * h) { p =>
        math.round(0.299 * u(3 * p) + 0.587 * u(3 * p + 1) + 0.114 * u(3 * p + 2)).toInt
      }
      else Array.tabulate(w * h * 3)(u)
    img.getRaster.setPixels(0, 0, w, h, samples)

    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
    val tree = meta.getAsTree(NativeFormat).asInstanceOf[IIOMetadataNode]
    def nodes(name: String): Seq[IIOMetadataNode] = {
      val l = tree.getElementsByTagName(name)
      (0 until l.getLength).map(l.item(_).asInstanceOf[IIOMetadataNode])
    }
    val flat = new JPEGQTable(Array.fill(64)(quantVal))
    nodes("dqtable").foreach(_.setUserObject(flat))
    nodes("componentSpec").zipWithIndex.foreach { case (c, i) =>
      val f = if (subsample420 && i == 0) "2" else "1"
      c.setAttribute("HsamplingFactor", f)
      c.setAttribute("VsamplingFactor", f)
    }
    if (restartEvery > 0) {
      val dri = new IIOMetadataNode("dri")
      dri.setAttribute("interval", restartEvery.toString)
      val sos = nodes("sos").head
      sos.getParentNode.insertBefore(dri, sos)
    }
    meta.setFromTree(NativeFormat, tree)

    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, meta), null)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  /** Flat-fill RGB buffer helper for fixtures. */
  def flatRgb(w: Int, h: Int, v: Int): Array[Byte] = {
    val a = new Array[Byte](w * h * 3)
    java.util.Arrays.fill(a, v.toByte)
    a
  }

  /** Gradient RGB buffer: channel c of pixel (x,y) =
    * (x*7 + y*13 + c*29 + seed) % 256 — positional content that makes
    * zigzag/IDCT/upsampling errors visible in round-trip tests.
    */
  def gradientRgb(w: Int, h: Int, seed: Int): Array[Byte] =
    Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val ch = i % 3
      ((p % w) * 7 + (p / w) * 13 + ch * 29 + seed).toByte
    }
}
