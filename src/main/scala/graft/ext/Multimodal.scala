package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video payloads ride as opaque
  * `binary` columns next to typed metadata, exactly like a training-data
  * lake would store them (payload + schema'd features).
  *
  * Decode is REAL for the dependency-free formats — BMP (24-bit
  * uncompressed, both row orders), PPM (binary P6), WAV (PCM RIFF)
  * and PNG (truecolor 8-bit: IDAT inflate through the JVM's built-in
  * zlib + all five row filters) are parsed header+payload in pure JVM
  * code; baseline and progressive Huffman JPEG decode through the
  * JDK's own codec ([[JpegCodec]], `javax.imageio`). Out-of-profile
  * JPEG (arithmetic/lossless/12-bit/CMYK) still gets REAL header
  * metadata (SOFn width/height — the fields a lake partitions on) via
  * [[decodeJpegDims]].
  * [[decodePayload]] sniffs magic bytes and routes. Anything else
  * (MP3/H.264/...) falls back to `decodePayloadStub`, which derives
  * deterministic fake features from the bytes so tests have stable
  * expectations; swap the fallback for a JNI/javacv codec without
  * touching the plumbing.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, modality: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, modality: String, n_bytes: Long,
                           width: Long, height: Long, n_frames: Long,
                           sample_rate: Long)

  /** Synthesize a media table from `documents`: payload = utf-8 bytes
    * of the text (a stand-in blob), modality round-robins by id.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video").as("modality"),
      encode(col("text"), "UTF-8").as("payload"))

  /** STUB decode: deterministic pseudo-features from payload length.
    * A real implementation would decode the codec here (this is the
    * only line that changes); everything around it — batching,
    * iterator shape, output schema — is the production plumbing.
    */
  def decodePayloadStub(modality: String, payload: Array[Byte]): (Long, Long, Long, Long) = {
    val n = payload.length.toLong
    modality match {
      case "image" => (16 + n % 640, 16 + (n / 7) % 480, 1L, 0L)
      case "audio" => (0L, 0L, 0L, 8000 + (n % 5) * 8000)
      case _       => (16 + n % 640, 16 + (n / 7) % 480, 1 + n % 16, 0L)
    }
  }

  // ------------------------------------------------------------------
  // Real pure-JVM codecs (no external libraries): BMP 24bpp, PPM P6,
  // WAV PCM. Decoders are total — any malformed input returns None and
  // the caller falls back to the stub; a text payload that happens to
  // start with a magic prefix fails the structural checks and falls
  // through safely.
  // ------------------------------------------------------------------

  import java.nio.{ByteBuffer, ByteOrder}

  /** 24-bit uncompressed BMP. Returns (width, height, pixels) with
    * pixels as top-down row-major BGR triplets (bottom-up source rows
    * are flipped; negative biHeight = top-down handled); 4-byte row
    * padding stripped.
    */
  def decodeBmp(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try {
      if (b.length < 54 || b(0) != 'B' || b(1) != 'M') None
      else {
        val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
        val dataOff = buf.getInt(10)
        val hdrSize = buf.getInt(14)
        val w = buf.getInt(18); val hRaw = buf.getInt(22)
        val planes = buf.getShort(26); val bpp = buf.getShort(28)
        val comp = buf.getInt(30)
        // dimension cap: beyond any real payload AND keeps every
        // w*h*3 / rowSize computation far from Int overflow (a crafted
        // huge width must fail, not wrap around into a bogus success)
        if (hdrSize < 40 || w <= 0 || w > (1 << 20) || hRaw == 0 ||
            math.abs(hRaw) > (1 << 20) || planes != 1 ||
            bpp != 24 || comp != 0) None
        else {
          val h = math.abs(hRaw); val topDown = hRaw < 0
          val rowSize = (w * 3 + 3) / 4 * 4
          if (dataOff < 54 || dataOff.toLong + rowSize.toLong * h > b.length) None
          else {
            val out = new Array[Byte](w * h * 3)
            var row = 0
            while (row < h) {
              val srcRow = if (topDown) row else h - 1 - row
              System.arraycopy(b, dataOff + srcRow * rowSize, out, row * w * 3, w * 3)
              row += 1
            }
            Some((w, h, out))
          }
        }
      }
    } catch { case _: RuntimeException => None }

  /** Binary PPM (P6, maxval 255): whitespace/comment-tolerant header
    * parse, then raw RGB triplets. Returns (width, height, pixels).
    */
  def decodePpm(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try {
      if (b.length < 9 || b(0) != 'P' || b(1) != '6') None
      else {
        var i = 2
        def token(): Option[Long] = {
          while (i < b.length &&
                 (Character.isWhitespace(b(i)) || b(i) == '#')) {
            if (b(i) == '#') while (i < b.length && b(i) != '\n') i += 1
            else i += 1
          }
          val start = i
          while (i < b.length && Character.isDigit(b(i))) i += 1
          if (i == start) None
          else Some(new String(b, start, i - start, "US-ASCII").toLong)
        }
        (token(), token(), token()) match {
          // dimension cap (1M per axis): overflow-proof — w*h*3 stays
          // in Long range and a crafted huge header fails instead of
          // wrapping into a small bogus pixel count
          case (Some(w), Some(h), Some(maxv))
              if w > 0 && h > 0 && w <= (1 << 20) && h <= (1 << 20) &&
                 maxv == 255 && i < b.length &&
                 Character.isWhitespace(b(i)) =>
            i += 1 // exactly one whitespace byte separates header and pixels
            val n = w * h * 3L
            if (i + n > b.length) None
            else Some((w.toInt, h.toInt, java.util.Arrays.copyOfRange(b, i, i + n.toInt)))
          case _ => None
        }
      }
    } catch { case _: RuntimeException => None }

  /** RIFF/WAVE PCM: walks chunks to 'fmt ' and 'data'. Returns
    * (sampleRate, channels, bitsPerSample, nFrames).
    */
  def decodeWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] =
    try {
      def ascii(off: Int, s: String): Boolean =
        s.indices.forall(k => b(off + k) == s(k).toByte)
      if (b.length < 44 || !ascii(0, "RIFF") || !ascii(8, "WAVE")) None
      else {
        val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
        var off = 12
        var fmt: Option[(Int, Int, Int)] = None
        var dataBytes = -1L
        while (off + 8 <= b.length) {
          val size = buf.getInt(off + 4)
          if (size < 0) { off = b.length } // corrupt chunk: stop
          else {
            if (ascii(off, "fmt ") && off + 24 <= b.length) {
              val audioFormat = buf.getShort(off + 8)
              val channels = buf.getShort(off + 10).toInt
              val rate = buf.getInt(off + 12)
              val bits = buf.getShort(off + 22).toInt
              if (audioFormat == 1 && channels > 0 && rate > 0 && bits > 0)
                fmt = Some((rate, channels, bits))
            } else if (ascii(off, "data")) {
              // header-claimed size must be backed by actual payload
              // bytes: a truncated WAV fails the decode (BMP/PPM
              // parity), it does not report claimed frames as read
              if (off + 8 + size.toLong <= b.length) dataBytes = size.toLong
            }
            off += 8 + size + (size & 1) // chunks are word-aligned
          }
        }
        fmt.collect { case (rate, ch, bits) if dataBytes >= 0 =>
          (rate, ch, bits, dataBytes / (ch.toLong * (bits / 8)))
        }
      }
    } catch { case _: RuntimeException => None }

  /** PNG, truecolor 8-bit (color type 2): REAL decode — IHDR parse,
    * IDAT inflate via the JVM's built-in zlib, and per-row unfilter
    * (all five standard filter types). Returns (width, height, pixels)
    * as row-major RGB triplets. Structural failures (bad signature,
    * unsupported depth/color/interlace, truncated or over-claiming
    * IDAT) return None — same total-function contract as BMP/PPM. The
    * decompressed-size cap (64 MB) is the zip-bomb guard: inflate
    * output is not bounded by input length, so the cap must be checked
    * BEFORE allocating, not inferred from payload size.
    */
  def decodePng(b: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try {
      val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      if (b.length < 45 || !sig.indices.forall(i => (b(i) & 0xff) == sig(i))) None
      else {
        val buf = ByteBuffer.wrap(b) // PNG ints are big-endian
        if (buf.getInt(8) != 13 ||
            !"IHDR".indices.forall(k => b(12 + k) == "IHDR".charAt(k).toByte)) None
        else {
          val w = buf.getInt(16); val h = buf.getInt(20)
          val depth = b(24); val color = b(25)
          val comp = b(26); val filt = b(27); val inter = b(28)
          if (w <= 0 || h <= 0 || w.toLong * h * 3 > (1L << 26) ||
              depth != 8 || color != 2 || comp != 0 || filt != 0 || inter != 0) None
          else {
            val idat = new java.io.ByteArrayOutputStream()
            var off = 33; var ok = true; var done = false
            while (ok && !done && off + 8 <= b.length) {
              val len = buf.getInt(off)
              val tag = new String(b, off + 4, 4, "US-ASCII")
              if (len < 0 || off + 12L + len > b.length) ok = false
              else {
                if (tag == "IDAT") idat.write(b, off + 8, len)
                else if (tag == "IEND") done = true
                off += 12 + len
              }
            }
            if (!ok || idat.size() == 0) None
            else {
              val stride = 1 + w * 3
              val raw = new Array[Byte](h * stride)
              val inf = new java.util.zip.Inflater()
              inf.setInput(idat.toByteArray)
              var got = 0; var stuck = false
              while (!stuck && !inf.finished() && got < raw.length) {
                val n = inf.inflate(raw, got, raw.length - got)
                if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stuck = true
                got += n
              }
              // over-claiming IDAT (inflates past h*(1+3w)) is as
              // structurally inconsistent as truncation: probe for a
              // single extra byte before accepting
              val overrun = got == raw.length && !inf.finished() &&
                (try inf.inflate(new Array[Byte](1)) > 0
                 catch { case _: java.util.zip.DataFormatException => true })
              inf.end()
              if (got != raw.length || overrun) None
              else {
                val out = new Array[Byte](w * h * 3)
                var row = 0; var badFilter = false
                while (!badFilter && row < h) {
                  val ft = raw(row * stride) & 0xff
                  if (ft > 4) badFilter = true
                  else {
                    val ro = row * stride + 1; val oo = row * w * 3
                    var i = 0
                    while (i < w * 3) {
                      val x = raw(ro + i) & 0xff
                      val a = if (i >= 3) out(oo + i - 3) & 0xff else 0
                      val up = if (row > 0) out(oo - w * 3 + i) & 0xff else 0
                      val c = if (row > 0 && i >= 3) out(oo - w * 3 + i - 3) & 0xff else 0
                      val v = ft match {
                        case 0 => x
                        case 1 => x + a
                        case 2 => x + up
                        case 3 => x + ((a + up) >> 1)
                        case _ => // Paeth
                          val p = a + up - c
                          val pa = math.abs(p - a); val pb = math.abs(p - up)
                          val pc = math.abs(p - c)
                          x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
                      }
                      out(oo + i) = (v & 0xff).toByte
                      i += 1
                    }
                    row += 1
                  }
                }
                if (badFilter) None else Some((w, h, out))
              }
            }
          }
        }
      }
    } catch {
      case _: RuntimeException => None
      case _: java.util.zip.DataFormatException => None
    }

  /** JPEG frame-header metadata: walks the marker stream to the first
    * SOFn segment and returns (width, height). HEADER-ONLY by design —
    * pixel decode needs a DCT codec (external library); dimensions,
    * the metadata a lake partitions and filters on, are a plain public
    * byte format. Fill bytes, restart markers and all SOF variants
    * (baseline/progressive/lossless) are handled; a malformed stream
    * returns None.
    */
  def decodeJpegDims(b: Array[Byte]): Option[(Int, Int)] =
    try {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) None
      else {
        var off = 2
        var res: Option[(Int, Int)] = None
        var stop = false
        while (!stop && off + 2 <= b.length) {
          if ((b(off) & 0xff) != 0xff) stop = true // marker misalignment
          else {
            var m = b(off + 1) & 0xff
            while (m == 0xff && off + 2 < b.length) { off += 1; m = b(off + 1) & 0xff }
            if (m == 0xd9 || m == 0xda) stop = true // EOI/SOS: dims precede scan data
            else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) off += 2 // standalone
            else if (off + 4 > b.length) stop = true
            else {
              val len = ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
              if (len < 2 || off + 2L + len > b.length) stop = true
              else {
                val isSof = (m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc
                if (isSof) {
                  if (len >= 7 && off + 9 <= b.length) {
                    val h = ((b(off + 5) & 0xff) << 8) | (b(off + 6) & 0xff)
                    val w = ((b(off + 7) & 0xff) << 8) | (b(off + 8) & 0xff)
                    if (w > 0 && h > 0) res = Some((w, h))
                  }
                  stop = true
                }
                off += 2 + len
              }
            }
          }
        }
        res
      }
    } catch { case _: RuntimeException => None }

  /** Fixture/production encoders for the same formats (used by tests
    * and the q85/q100 gates; also how a lake would materialize derived
    * thumbnails/clips without external libs).
    */
  /** 24bpp BMP with per-pixel grayscale from `value(x, y)` — y counted
    * TOP-DOWN (file rows are stored bottom-up, the encoder flips).
    */
  private def encodeBmpWith(w: Int, h: Int)(value: (Int, Int) => Byte): Array[Byte] = {
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var r = 0
    while (r < h) {
      val y = h - 1 - r // bottom-up storage
      val row = new Array[Byte](rowSize)
      var x = 0
      while (x < w) {
        val v = value(x, y)
        row(x * 3) = v; row(x * 3 + 1) = v; row(x * 3 + 2) = v
        x += 1
      }
      buf.put(row); r += 1
    }
    buf.array()
  }

  def encodeBmp(w: Int, h: Int, bgrValue: Int): Array[Byte] =
    encodeBmpWith(w, h)((_, _) => bgrValue.toByte)

  def encodePpm(w: Int, h: Int, grayValue: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](w * h * 3)
    java.util.Arrays.fill(px, grayValue.toByte)
    header ++ px
  }

  /** Truecolor PNG, every pixel (r,g,b) = rgbValue, filter-0 rows,
    * single deflated IDAT, correct CRCs — a real PNG any reader opens.
    */
  def encodePng(w: Int, h: Int, rgbValue: Int): Array[Byte] = {
    import java.util.zip.{CRC32, Deflater}
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val out = ByteBuffer.allocate(12 + body.length) // big-endian
      out.putInt(body.length).put(tag.getBytes("US-ASCII")).put(body)
      val crc = new CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(body)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val ihdr = ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val stride = 1 + w * 3
    val raw = new Array[Byte](h * stride)
    var r = 0
    while (r < h) {
      java.util.Arrays.fill(raw, r * stride + 1, (r + 1) * stride, rgbValue.toByte)
      r += 1
    }
    val defl = new Deflater()
    defl.setInput(raw); defl.finish()
    val z = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) z.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    sig ++ chunk("IHDR", ihdr.array()) ++ chunk("IDAT", z.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Minimal well-formed JPEG marker stream (SOI + JFIF APP0 + SOF0
    * with the given dimensions + EOI) — enough header for any
    * metadata reader; carries no scan data by design.
    */
  def encodeJpegHeader(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b8(v: Int): Unit = out.write(v & 0xff)
    def b16(v: Int): Unit = { b8(v >> 8); b8(v) }
    b8(0xff); b8(0xd8) // SOI
    b8(0xff); b8(0xe0); b16(16) // APP0 JFIF
    out.write("JFIF".getBytes("US-ASCII")); b8(0)
    b8(1); b8(1); b8(0); b16(1); b16(1); b8(0); b8(0)
    b8(0xff); b8(0xc0); b16(17) // SOF0: 8 + 3 components x 3
    b8(8); b16(h); b16(w); b8(3)
    (1 to 3).foreach { c => b8(c); b8(0x11); b8(if (c == 1) 0 else 1) }
    b8(0xff); b8(0xd9) // EOI
    out.toByteArray
  }

  /** Gradient BMP: every channel of pixel (x, y) =
    * (x*7 + y*13 + seed) % 256 — decoding plus any positional
    * transform (resize) is verifiable by pure arithmetic, unlike a
    * constant fill.
    */
  def encodeBmpGradient(w: Int, h: Int, seed: Int): Array[Byte] =
    encodeBmpWith(w, h)((x, y) => ((x * 7 + y * 13 + seed) % 256).toByte)

  /** PCM16 mono WAV carrying the given samples. */
  def encodeWavPcm(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** PCM16 mono sample extraction (same chunk-walk discipline as
    * decodeWav: the walk continues to the end and the LAST backed data
    * chunk is authoritative, so the two decoders can never disagree on
    * which payload nFrames describes; truncated data fails the decode).
    */
  def decodeWavSamples(b: Array[Byte]): Option[Array[Short]] =
    decodeWav(b).flatMap { case (_, ch, bits, nFrames) =>
      if (ch != 1 || bits != 16) None
      else {
        def ascii(off: Int, s: String): Boolean =
          s.indices.forall(k => b(off + k) == s(k).toByte)
        val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
        var off = 12
        var dataOff = -1L
        while (off + 8 <= b.length) {
          val size = buf.getInt(off + 4)
          if (size < 0) off = b.length
          else {
            if (ascii(off, "data") && off + 8 + size.toLong <= b.length)
              dataOff = off + 8L
            off += 8 + size + (size & 1)
          }
        }
        if (dataOff < 0) None
        else {
          val out = new Array[Short](nFrames.toInt)
          var i = 0
          while (i < out.length) { out(i) = buf.getShort((dataOff + i * 2).toInt); i += 1 }
          Some(out)
        }
      }
    }

  /** Nearest-neighbor resize over top-down row-major BGR triplets:
    * out(x, y) = src(x*w/ow, y*h/oh) with floor division — the
    * decode -> transform step of a multimodal feature pipeline.
    */
  def resizeNearest(w: Int, h: Int, px: Array[Byte],
                    ow: Int, oh: Int): Array[Byte] = {
    require(w > 0 && h > 0 && ow > 0 && oh > 0 && px.length == w * h * 3)
    val out = new Array[Byte](ow * oh * 3)
    var y = 0
    while (y < oh) {
      // in Long: x * w (or y * h) overflows Int once a side passes 46340 px
      val sy = (y.toLong * h / oh).toInt
      var x = 0
      while (x < ow) {
        val sx = (x.toLong * w / ow).toInt
        val src = (sy * w + sx) * 3
        val dst = (y * ow + x) * 3
        out(dst) = px(src); out(dst + 1) = px(src + 1); out(dst + 2) = px(src + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Every k-th sample (frame sampling for audio/video streams). */
  def frameSample(samples: Array[Short], k: Int): Array[Short] = {
    require(k > 0)
    Array.tabulate((samples.length + k - 1) / k)(i => samples(i * k))
  }

  def encodeWav(sampleRate: Int, nFrames: Int): Array[Byte] =
    encodeWavPcm(sampleRate, new Array[Short](nFrames)) // PCM16 mono silence

  /** Sniff-and-decode: real parse for BMP/PPM/WAV/PNG and baseline or
    * progressive JPEG (full scan decode via [[JpegCodec]]); real
    * header metadata for out-of-profile JPEG (arithmetic/lossless/
    * 12-bit/CMYK); stub fallback for everything else (and for any
    * malformed payload).
    */
  def decodePayload(modality: String, payload: Array[Byte]): (Long, Long, Long, Long) =
    decodeBmp(payload).map { case (w, h, _) => (w.toLong, h.toLong, 1L, 0L) }
      .orElse(decodePpm(payload).map { case (w, h, _) => (w.toLong, h.toLong, 1L, 0L) })
      .orElse(decodeWav(payload).map { case (sr, _, _, _) => (0L, 0L, 0L, sr.toLong) })
      .orElse(decodePng(payload).map { case (w, h, _) => (w.toLong, h.toLong, 1L, 0L) })
      .orElse(JpegCodec.decode(payload).map { case (w, h, _) => (w.toLong, h.toLong, 1L, 0L) })
      .orElse(decodeJpegDims(payload).map { case (w, h) => (w.toLong, h.toLong, 1L, 0L) })
      .getOrElse(decodePayloadStub(modality, payload))

  /** Batched per-partition feature extraction — the Scala analog of a
    * pandas-UDF `mapInPandas`: payloads are processed in batches of
    * `batchSize` inside each partition (a real codec would amortize
    * per-batch setup), never collected to the driver. Routes through
    * [[decodePayload]]: real parse where the format allows, stub
    * fallback elsewhere.
    */
  def extractFeatures(media: Dataset[MediaRecord], batchSize: Int = 64)
                     (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup for a real codec would go here
        batch.iterator.map { m =>
          val (w, h, fr, sr) = decodePayload(m.modality, m.payload)
          MediaFeatures(m.doc_id, m.modality, m.payload.length.toLong, w, h, fr, sr)
        }
      }
    }
  }

  case class CodecFeatures(doc_id: Long, modality: String, width: Long,
                           height: Long, n_frames: Long, sample_rate: Long,
                           mean_px: Long)

  /** Real-decode feature extraction incl. pixel statistics: mean
    * unsigned pixel byte for images (proves the pixel payload was
    * actually parsed, not just the header), 0 for audio, -1 when no
    * pixels were read — stub fallback, or an out-of-profile JPEG
    * (baseline and progressive Huffman are fully decoded by
    * [[JpegCodec]]; arithmetic/lossless/12-bit/CMYK fall back to real
    * SOFn header dims).
    */
  def codecFeatures(media: Dataset[MediaRecord])
                   (implicit spark: SparkSession): Dataset[CodecFeatures] = {
    import spark.implicits._
    def meanOf(px: Array[Byte]): Long =
      if (px.isEmpty) 0L else {
        var s = 0L; var i = 0
        while (i < px.length) { s += px(i) & 0xff; i += 1 }
        s / px.length
      }
    media.mapPartitions { it =>
      it.map { m =>
        decodeBmp(m.payload).orElse(decodePpm(m.payload))
          .orElse(decodePng(m.payload))
          .orElse(JpegCodec.decode(m.payload)) match {
          case Some((w, h, px)) =>
            CodecFeatures(m.doc_id, m.modality, w, h, 1L, 0L, meanOf(px))
          case None => decodeWav(m.payload) match {
            case Some((sr, _, _, _)) =>
              CodecFeatures(m.doc_id, m.modality, 0L, 0L, 0L, sr.toLong, 0L)
            case None => decodeJpegDims(m.payload) match {
              case Some((w, h)) =>
                CodecFeatures(m.doc_id, m.modality, w, h, 1L, 0L, -1L)
              case None =>
                val (w, h, fr, sr) = decodePayloadStub(m.modality, m.payload)
                CodecFeatures(m.doc_id, m.modality, w, h, fr, sr, -1L)
            }
          }
        }
      }
    }
  }

  case class AudioFeatures(doc_id: Long, sample_rate: Long, n_samples: Long,
                           sum_sq: Long, zero_crossings: Long, peak: Long)

  /** REAL audio feature extraction over decoded PCM16 — the features
    * an audio curation pipeline filters on: energy (emitted as the
    * integer sum of squares, exact cross-engine, instead of a float
    * RMS), zero-crossing count (voiced/unvoiced + DC-offset screen;
    * sign(0) counts as non-negative), and absolute peak (clipping
    * screen). Same batched mapPartitions shape as extractFeatures;
    * rows whose payload fails the WAV decode are dropped to the
    * quarantine pattern (None -> filtered), never faked.
    */
  def audioFeatures(media: Dataset[MediaRecord])
                   (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { m =>
        for {
          (rate, _, _, _) <- decodeWav(m.payload)
          samples <- decodeWavSamples(m.payload)
        } yield {
          var sumSq = 0L; var zc = 0L; var peak = 0L
          var i = 0
          while (i < samples.length) {
            val s = samples(i).toLong
            sumSq += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            if (i > 0 && ((s >= 0) != (samples(i - 1) >= 0))) zc += 1
            i += 1
          }
          AudioFeatures(m.doc_id, rate.toLong, samples.length.toLong,
            sumSq, zc, peak)
        }
      }
    }
  }

  case class PayloadStats(doc_id: Long, modality: String, n_bytes: Long,
                          n_distinct: Long, entropy_mbits: Long, max_run: Long)

  /** REAL (non-stub) byte-level content analysis — the features a lake
    * computes before any codec is involved: Shannon entropy (in
    * milli-bits/byte, integer for exact cross-run compares), distinct
    * byte count, longest byte run. Used for corruption screens
    * (entropy ~8000 = compressed/encrypted, ~0 = padding) and cheap
    * dedup pre-filters. Same batched mapPartitions shape as
    * extractFeatures.
    */
  def payloadStats(media: Dataset[MediaRecord])
                  (implicit spark: SparkSession): Dataset[PayloadStats] = {
    import spark.implicits._
    media.mapPartitions { it =>
      val hist = new Array[Long](256)
      it.map { m =>
        java.util.Arrays.fill(hist, 0L)
        val bytes = m.payload
        var i = 0
        var maxRun = 0L; var run = 0L; var prev = -1
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          hist(b) += 1
          if (b == prev) run += 1 else { prev = b; run = 1 }
          if (run > maxRun) maxRun = run
          i += 1
        }
        val n = bytes.length.toDouble
        var distinct = 0L; var h = 0.0
        var j = 0
        while (j < 256) {
          if (hist(j) > 0) {
            distinct += 1
            val p = hist(j) / n
            h -= p * (math.log(p) / math.log(2.0))
          }
          j += 1
        }
        PayloadStats(m.doc_id, m.modality, bytes.length.toLong, distinct,
          if (bytes.length == 0) 0L else math.round(h * 1000), maxRun)
      }
    }
  }

  /** Column-expression twin of the stub decode (portable to the DuckDB
    * oracle): same arithmetic over octet_length.
    */
  def featuresExpr(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("width",
        when(col("modality") === "audio", 0L)
          .otherwise(lit(16) + pmod(col("n_bytes"), lit(640))))
      .withColumn("height",
        when(col("modality") === "audio", 0L)
          .otherwise(lit(16) + pmod(expr("n_bytes div 7"), lit(480))))
      .withColumn("n_frames",
        when(col("modality") === "image", 1L)
          .when(col("modality") === "audio", 0L)
          .otherwise(lit(1) + pmod(col("n_bytes"), lit(16))))
      .withColumn("sample_rate",
        when(col("modality") === "audio",
          lit(8000) + pmod(col("n_bytes"), lit(5)) * 8000).otherwise(0L))
      .select(col("doc_id"), col("modality"), col("n_bytes"),
              col("width").cast("long"), col("height").cast("long"),
              col("n_frames").cast("long"), col("sample_rate").cast("long"))
}
