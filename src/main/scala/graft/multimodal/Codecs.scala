package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Dependency-free real codecs for the formats parseable in plain
  * JVM code: PNG (zlib inflate is `java.util.zip`; the filter
  * algebra including Paeth is the spec), baseline sequential JPEG
  * (Huffman entropy decode + dequant + IDCT per ITU-T T.81), Netpbm
  * images (binary P5 grayscale / P6 RGB), PCM WAV audio (RIFF/WAVE,
  * 16-bit little-endian), AVI video (RIFF 'AVI ' container walk;
  * uncompressed-DIB and MJPEG frame codecs, the latter riding
  * `decodeJpeg` with the Annex K.3 default-table splice) and GIF
  * animations (87a/89a: variable-width LZW, interlace, transparency/
  * disposal compositing, local/global palettes). These replace the
  * `Media.fakeDecode` stub for recognized containers; unrecognized
  * bytes (MP3-class audio, MP4-class video) still fall through to
  * the stub (documented) so the plumbing accepts any blob.
  *
  * Format references are the public specs: the PNG specification
  * (W3C/ISO 15948 — chunk layout §5, filters §9, zlib datastream
  * §10), ITU-T T.81 (baseline process — Huffman tables annex C,
  * decoder flow annex F, IDCT A.3.3, default tables annex K.3),
  * Netpbm pgm(5)/ppm(5), the Microsoft/IBM RIFF WAVE format (fmt
  * chunk 16, PCM), the Microsoft AVI RIFF File Reference
  * (avih/strh/strf/movi, BITMAPINFOHEADER, word-aligned chunks),
  * and the CompuServe GIF89a specification (logical screen §18,
  * color tables §19/§21, GCE §23, image descriptor §20 with the
  * appendix-E interlace order, appendix-F variable-code LZW).
  */
object Codecs {

  /** A decoded image: gray pixels in [0,1], row-major. P6 RGB reduces
    * to luminance with the Rec.601 weights. */
  final case class Image(width: Int, height: Int, gray: Array[Float])

  /** A decoded audio clip: samples in [-1,1). */
  final case class Audio(sampleRate: Int, samples: Array[Float])

  sealed trait Kind
  case object Pgm extends Kind
  case object Ppm extends Kind
  case object Wav extends Kind
  case object Png extends Kind
  case object Jpeg extends Kind
  case object Avi extends Kind
  case object Gif extends Kind
  case object Unknown extends Kind

  private val PngSig: Array[Int] = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  def detect(bytes: Array[Byte]): Kind =
    if (bytes.length >= 8 &&
        (0 until 8).forall(i => (bytes(i) & 0xff) == PngSig(i))) Png
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
             (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff) Jpeg
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '5') Pgm
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') Ppm
    else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
             bytes(2) == 'F' && bytes(3) == 'F' &&
             bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' &&
             bytes(11) == 'E') Wav
    else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
             bytes(2) == 'F' && bytes(3) == 'F' &&
             bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' &&
             bytes(11) == ' ') Avi
    else if (bytes.length >= 6 && bytes(0) == 'G' && bytes(1) == 'I' &&
             bytes(2) == 'F' && bytes(3) == '8' &&
             (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a') Gif
    else Unknown

  // -- Netpbm (P5 gray / P6 RGB, binary, maxval <= 255) ----------------

  /** Parse the Netpbm header: magic, then whitespace/comment-separated
    * width, height, maxval, then ONE whitespace byte before the raster. */
  private def pnmHeader(b: Array[Byte]): (Int, Int, Int, Int) = {
    var i = 2 // past magic
    def skipWs(): Unit = {
      var go = true
      while (go && i < b.length) {
        val c = b(i).toChar
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0
      require(i < b.length && b(i).toChar.isDigit, s"bad pnm header at byte $i")
      while (i < b.length && b(i).toChar.isDigit) { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
    val w = int(); val h = int(); val maxval = int()
    require(i < b.length && b(i).toChar.isWhitespace, "missing raster separator")
    i += 1
    require(w > 0 && h > 0 && maxval > 0 && maxval <= 255,
      s"unsupported pnm: ${w}x$h maxval=$maxval")
    (w, h, maxval, i)
  }

  def decodePgm(bytes: Array[Byte]): Image = {
    require(detect(bytes) == Pgm, "not a P5 pgm")
    val (w, h, maxval, off) = pnmHeader(bytes)
    require(bytes.length >= off + w * h, s"truncated pgm raster: ${bytes.length} < ${off + w * h}")
    val gray = new Array[Float](w * h)
    var i = 0
    while (i < w * h) { gray(i) = (bytes(off + i) & 0xff).toFloat / maxval; i += 1 }
    Image(w, h, gray)
  }

  def decodePpm(bytes: Array[Byte]): Image = {
    require(detect(bytes) == Ppm, "not a P6 ppm")
    val (w, h, maxval, off) = pnmHeader(bytes)
    require(bytes.length >= off + 3 * w * h, "truncated ppm raster")
    val gray = new Array[Float](w * h)
    var i = 0
    while (i < w * h) {
      val r = bytes(off + 3 * i) & 0xff
      val g = bytes(off + 3 * i + 1) & 0xff
      val b = bytes(off + 3 * i + 2) & 0xff
      gray(i) = (0.299f * r + 0.587f * g + 0.114f * b) / maxval
      i += 1
    }
    Image(w, h, gray)
  }

  /** Encode 8-bit gray pixels as binary P5. */
  def encodePgm(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"${pixels.length} pixels for ${w}x$h")
    val header = s"P5\n$w $h\n255\n".getBytes(StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** Nearest-neighbour resample to (w2, h2), re-encoded as P5 — the
    * real implementation behind `Media.resize` for image rows. */
  def resizePgm(bytes: Array[Byte], w2: Int, h2: Int): Array[Byte] = {
    val img = decodePgm(bytes)
    val out = new Array[Byte](w2 * h2)
    var y = 0
    while (y < h2) {
      val sy = y * img.height / h2
      var x = 0
      while (x < w2) {
        val sx = x * img.width / w2
        out(y * w2 + x) = math.round(img.gray(sy * img.width + sx) * 255f).toByte
        x += 1
      }
      y += 1
    }
    encodePgm(out, w2, h2)
  }

  // -- PNG (8-bit, non-interlaced; gray/RGB/gray+A/RGBA) ----------------

  /** Decode a PNG to gray pixels in [0,1]. Supported: bit depth 8,
    * color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA),
    * interlace 0 — the overwhelmingly common byte layouts; palette
    * (3) and sub-byte depths are rejected loudly. The zlib IDAT
    * stream inflates through `java.util.zip.Inflater`; every chunk
    * CRC is verified (a truncated or bit-flipped file fails here, not
    * as garbage pixels); all five filter types (None/Sub/Up/Average/
    * Paeth) are reconstructed per the spec's byte algebra. Color
    * reduces to luminance with the same Rec.601 weights as `decodePpm`;
    * alpha is ignored (feature pooling reads opaque content). */
  def decodePng(bytes: Array[Byte]): Image = {
    require(detect(bytes) == Png, "not a PNG")
    val crc = new java.util.zip.CRC32
    var pos = 8
    var w = 0; var h = 0; var channels = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    def be32(o: Int): Int =
      ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    while (!seenIend) {
      require(pos + 8 <= bytes.length, "truncated png (chunk header)")
      val len = be32(pos)
      require(len >= 0 && pos + 12 + len <= bytes.length, s"bad chunk length $len")
      val typ = new String(bytes, pos + 4, 4, StandardCharsets.US_ASCII)
      crc.reset(); crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == be32(pos + 8 + len), s"CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, s"IHDR length $len")
          w = be32(pos + 8); h = be32(pos + 12)
          val bitDepth = bytes(pos + 16) & 0xff
          val colorType = bytes(pos + 17) & 0xff
          val interlace = bytes(pos + 20) & 0xff
          require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
          require(bitDepth == 8, s"only 8-bit PNG supported, got depth $bitDepth")
          require(interlace == 0, "interlaced (Adam7) PNG not supported")
          channels = colorType match {
            case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
            case t => throw new IllegalArgumentException(
              s"unsupported PNG color type $t (palette needs PLTE handling)")
          }
          seenIhdr = true
        case "IDAT" =>
          require(seenIhdr, "IDAT before IHDR")
          idat.write(bytes, pos + 8, len)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunk — CRC-checked above, content ignored
      }
      pos += 12 + len
    }
    require(seenIhdr && idat.size() > 0, "missing IHDR or IDAT")
    // inflate the zlib stream to exactly h rows of (1 filter byte + stride)
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      require(n > 0 || inf.finished(),
        "truncated or non-advancing zlib stream in IDAT")
      got += n
    }
    inf.end()
    require(got == raw.length, s"inflated $got bytes, want ${raw.length}")
    // per-row unfilter (spec §9): a = left, b = up, c = up-left, per byte
    val recon = new Array[Int](stride * h)
    val bpp = channels
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      var i = 0
      while (i < stride) {
        val x = raw(y * (stride + 1) + 1 + i) & 0xff
        val a = if (i >= bpp) recon(y * stride + i - bpp) else 0
        val b = if (y > 0) recon((y - 1) * stride + i) else 0
        val c = if (y > 0 && i >= bpp) recon((y - 1) * stride + i - bpp) else 0
        val v = f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case other => throw new IllegalArgumentException(s"bad filter type $other row $y")
        }
        recon(y * stride + i) = v & 0xff
        i += 1
      }
      y += 1
    }
    // gray reduction per color type
    val gray = new Array[Float](w * h)
    var p = 0
    while (p < w * h) {
      val o = p * channels
      gray(p) = channels match {
        case 1 | 2 => recon(o) / 255f
        case _ =>
          (0.299f * recon(o) + 0.587f * recon(o + 1) + 0.114f * recon(o + 2)) / 255f
      }
      p += 1
    }
    Image(w, h, gray)
  }

  /** Encode 8-bit gray pixels as a minimal standard PNG (color type 0,
    * filter 0 rows, one zlib IDAT, CRC'd chunks) — decodable by any
    * compliant reader. */
  def encodePngGray(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"${pixels.length} pixels for ${w}x$h")
    val raw = new Array[Byte]((w + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (w + 1)) = 0 // filter: None
      System.arraycopy(pixels, y * w, raw, y * (w + 1) + 1, w)
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](raw.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    defl.end()
    val zdata = out.toByteArray
    val bb = ByteBuffer.allocate(8 + 25 + (12 + zdata.length) + 12)
    PngSig.foreach(s => bb.put(s.toByte))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      bb.putInt(data.length)
      val t = typ.getBytes(StandardCharsets.US_ASCII)
      bb.put(t).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt)
    }
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array())
    chunk("IDAT", zdata)
    chunk("IEND", Array.emptyByteArray)
    bb.array()
  }

  /** Nearest-neighbour resample of any supported PNG to (w2, h2),
    * re-encoded as gray PNG — `Media.resize` for PNG rows (color
    * inputs resample their luminance plane, the feature the pipeline
    * reads). */
  def resizePng(bytes: Array[Byte], w2: Int, h2: Int): Array[Byte] =
    resampleToPngGray(decodePng(bytes), w2, h2)

  /** Resample a JPEG's luminance plane to (w2, h2), re-encoded as gray
    * PNG — there is no JPEG encoder here (lossy re-encode would also
    * degrade the pixels a second time), and downstream reads the gray
    * plane regardless of container, so the lossless gray PNG container
    * is the faithful output. */
  def resizeJpeg(bytes: Array[Byte], w2: Int, h2: Int): Array[Byte] =
    resampleToPngGray(decodeJpeg(bytes), w2, h2)

  private def resampleToPngGray(img: Image, w2: Int, h2: Int): Array[Byte] = {
    val out = new Array[Byte](w2 * h2)
    var y = 0
    while (y < h2) {
      val sy = y * img.height / h2
      var x = 0
      while (x < w2) {
        val sx = x * img.width / w2
        out(y * w2 + x) = math.round(img.gray(sy * img.width + sx) * 255f).toByte
        x += 1
      }
      y += 1
    }
    encodePngGray(out, w2, h2)
  }

  // -- Baseline JPEG (ITU-T T.81 sequential DCT, Huffman) ---------------

  /** JPEG zigzag order: zigzag index → natural (row-major) index. */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman decode tables (T.81 annex C/F): per code length
    * the min code, max code and index of the first symbol. */
  private final class Huff(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        valPtr(l) = k; minCode(l) = code
        code += bits(l - 1); k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        code <<= 1; l += 1
      }
      require(k == vals.length, s"DHT: ${vals.length} values for $k codes")
    }
  }

  /** IDCT basis: cosTab(u*8+x) = C(u)/2 · cos((2x+1)uπ/16). */
  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) math.sqrt(0.5) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = 0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }

  /** Decode a BASELINE sequential JPEG (SOF0/SOF1, Huffman, 8-bit,
    * optional restart markers) to its luminance plane in [0,1] — the
    * gray contract every decoder here shares, and for JPEG the Y
    * component IS the Rec.601 luma the other decoders compute, so no
    * chroma upsampling or color conversion is needed: Cb/Cr blocks are
    * entropy-decoded (the bit stream is sequential — they must be
    * consumed) and discarded. Progressive (SOF2), arithmetic coding,
    * 12-bit precision and hierarchical modes are rejected loudly.
    * IDCT is the separable floating-point definition (T.81 A.3.3);
    * the spec bounds IDCT accuracy rather than mandating bit-exact
    * output, so cross-decoder comparisons are ±1/255 (MediaSpec pins
    * our output byte-exactly on a fixed fixture AND cross-validates
    * against the JDK's independent decoder within that tolerance). */
  def decodeJpeg(bytes: Array[Byte]): Image = {
    require(detect(bytes) == Jpeg, "not a JPEG")
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)

    // ---- marker scan: tables + frame header up to SOS ----
    val quant = new Array[Array[Int]](4) // zigzag order, per table id
    val dcTabs = new Array[Huff](4); val acTabs = new Array[Huff](4)
    var w = 0; var h = 0
    // per component: id, hSamp, vSamp, quantTable, dcTable, acTable
    var compId: Array[Int] = null; var compH: Array[Int] = null
    var compV: Array[Int] = null; var compQ: Array[Int] = null
    var scanDc: Array[Int] = null; var scanAc: Array[Int] = null
    var scanOrder: Array[Int] = null // component indices in scan order
    var restartInterval = 0
    var p = 2
    var scanStart = -1
    while (scanStart < 0) {
      require(p + 4 <= bytes.length, "truncated JPEG (marker)")
      require(u8(p) == 0xff, f"expected marker at $p, got ${u8(p)}%02x")
      val m = u8(p + 1)
      require(m != 0xd9, "EOI before SOS — no image data")
      if (m == 0xff) { p += 1 } // fill byte
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { p += 2 } // standalone
      else {
        val len = u16(p + 2)
        require(len >= 2 && p + 2 + len <= bytes.length, s"bad segment length $len")
        val seg = p + 4 // first payload byte
        m match {
          case 0xc0 | 0xc1 => // SOF0 baseline / SOF1 extended sequential
            require(u8(seg) == 8, s"only 8-bit precision supported, got ${u8(seg)}")
            h = u16(seg + 1); w = u16(seg + 3)
            val nComp = u8(seg + 5)
            require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
            require(nComp == 1 || nComp == 3, s"unsupported component count $nComp")
            compId = new Array[Int](nComp); compH = new Array[Int](nComp)
            compV = new Array[Int](nComp); compQ = new Array[Int](nComp)
            var c = 0
            while (c < nComp) {
              compId(c) = u8(seg + 6 + 3 * c)
              compH(c) = u8(seg + 7 + 3 * c) >> 4
              compV(c) = u8(seg + 7 + 3 * c) & 15
              compQ(c) = u8(seg + 8 + 3 * c)
              require(compH(c) >= 1 && compH(c) <= 4 && compV(c) >= 1 && compV(c) <= 4,
                s"bad sampling ${compH(c)}x${compV(c)}")
              c += 1
            }
          case 0xc2 => throw new IllegalArgumentException(
            "progressive JPEG (SOF2) not supported — baseline sequential only")
          case x if x >= 0xc3 && x <= 0xcf && x != 0xc4 && x != 0xc8 && x != 0xcc =>
            throw new IllegalArgumentException(
              f"unsupported JPEG frame type SOF${x - 0xc0}%d — baseline sequential only")
          case 0xc4 => // DHT: possibly several tables per segment
            var q = seg
            while (q < p + 2 + len) {
              val tc = u8(q) >> 4; val th = u8(q) & 15
              require(tc <= 1 && th <= 3, s"bad DHT class/id $tc/$th")
              val bits = Array.tabulate(16)(i => u8(q + 1 + i))
              val n = bits.sum
              require(q + 17 + n <= p + 2 + len, "truncated DHT")
              val vals = Array.tabulate(n)(i => u8(q + 17 + i))
              val tab = new Huff(bits, vals)
              if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
              q += 17 + n
            }
          case 0xdb => // DQT: possibly several tables per segment
            var q = seg
            while (q < p + 2 + len) {
              val pq = u8(q) >> 4; val tq = u8(q) & 15
              require(pq <= 1 && tq <= 3, s"bad DQT precision/id $pq/$tq")
              val tab = new Array[Int](64)
              var i = 0
              while (i < 64) {
                tab(i) = if (pq == 0) u8(q + 1 + i) else u16(q + 1 + 2 * i)
                i += 1
              }
              quant(tq) = tab
              q += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xdd => // DRI
            restartInterval = u16(seg)
          case 0xda => // SOS
            require(compId != null, "SOS before SOF")
            val ns = u8(seg)
            require(ns == compId.length, s"partial scan ($ns of ${compId.length} components) not supported")
            scanOrder = new Array[Int](ns)
            scanDc = new Array[Int](compId.length); scanAc = new Array[Int](compId.length)
            var c = 0
            while (c < ns) {
              val cid = u8(seg + 1 + 2 * c)
              val idx = compId.indexOf(cid)
              require(idx >= 0, s"scan references unknown component $cid")
              scanOrder(c) = idx
              scanDc(idx) = u8(seg + 2 + 2 * c) >> 4
              scanAc(idx) = u8(seg + 2 + 2 * c) & 15
              c += 1
            }
            require(u8(seg + 1 + 2 * ns) == 0 && u8(seg + 2 + 2 * ns) == 63,
              "non-baseline spectral selection")
            scanStart = p + 2 + len
          case _ => () // APPn / COM / other — skipped
        }
        if (scanStart < 0) p += 2 + len
      }
    }
    val nComp = compId.length
    val hMax = compH.max; val vMax = compV.max
    require(compH(0) == hMax && compV(0) == vMax,
      "luma must be the max-resolution component")

    // ---- entropy-coded segment: bit reader with FF00 unstuffing ----
    var bp = scanStart; var bitBuf = 0; var bitCnt = 0
    def align(): Unit = bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        require(bp < bytes.length, "truncated entropy stream")
        var b = u8(bp); bp += 1
        if (b == 0xff) {
          require(bp < bytes.length, "truncated entropy stream at FF")
          val m2 = u8(bp)
          if (m2 == 0x00) bp += 1
          else {
            // marker inside entropy data: legal only as trailing fill
            // before EOI/RST — decoding past it means corrupt data
            throw new IllegalArgumentException(
              f"unexpected marker FF$m2%02x inside entropy-coded data")
          }
          b = 0xff
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
    def decodeSym(tab: Huff): Int = {
      require(tab != null, "scan references an undefined Huffman table")
      var code = nextBit(); var l = 1
      while (code > tab.maxCode(l)) {
        code = (code << 1) | nextBit(); l += 1
        require(l <= 16, "invalid Huffman code (>16 bits)")
      }
      tab.vals(tab.valPtr(l) + code - tab.minCode(l))
    }

    // ---- MCU loop: decode every block, keep only luma ----
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val lumaW = mcusX * 8 * hMax // padded plane, cropped at the end
    val luma = new Array[Float](lumaW * mcusY * 8 * vMax)
    val pred = new Array[Int](nComp)
    val coef = new Array[Double](64)
    val tmp = new Array[Double](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        align()
        require(bp + 1 < bytes.length && u8(bp) == 0xff &&
          u8(bp + 1) >= 0xd0 && u8(bp + 1) <= 0xd7,
          s"expected restart marker before MCU $mcu")
        bp += 2
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var so = 0
      while (so < scanOrder.length) {
        val c = scanOrder(so)
        val q = quant(compQ(c))
        require(q != null, "frame references an undefined quant table")
        var by = 0
        while (by < compV(c)) {
          var bx = 0
          while (bx < compH(c)) {
            // decode one 8x8 block into natural-order coef
            java.util.Arrays.fill(coef, 0.0)
            val t = decodeSym(dcTabs(scanDc(c)))
            require(t <= 11, s"bad DC category $t")
            pred(c) += extend(receive(t), t)
            coef(0) = pred(c).toDouble * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = decodeSym(acTabs(scanAc(c)))
              val r = rs >> 4; val s = rs & 15
              if (s == 0) {
                if (r == 15) k += 16 else eob = true
              } else {
                k += r
                require(k < 64, "AC run past block end")
                coef(ZigZag(k)) = extend(receive(s), s).toDouble * q(k)
                k += 1
              }
            }
            if (c == 0) {
              // separable IDCT: rows then columns, +128 level shift
              var y0 = 0
              while (y0 < 8) {
                var x0 = 0
                while (x0 < 8) {
                  var s2 = 0.0; var u = 0
                  while (u < 8) { s2 += CosTab(u * 8 + x0) * coef(y0 * 8 + u); u += 1 }
                  tmp(y0 * 8 + x0) = s2; x0 += 1
                }
                y0 += 1
              }
              val px0 = (mx * compH(c) + bx) * 8
              val py0 = (my * compV(c) + by) * 8
              var x0 = 0
              while (x0 < 8) {
                var y1 = 0
                while (y1 < 8) {
                  var s2 = 0.0; var v = 0
                  while (v < 8) { s2 += CosTab(v * 8 + y1) * tmp(v * 8 + x0); v += 1 }
                  val pix = math.max(0, math.min(255, math.round(s2 + 128.0).toInt))
                  luma((py0 + y1) * lumaW + px0 + x0) = pix / 255f
                  y1 += 1
                }
                x0 += 1
              }
            }
            bx += 1
          }
          by += 1
        }
        so += 1
      }
      mcu += 1
    }
    // crop the padded plane to the declared dimensions
    val gray = new Array[Float](w * h)
    var yy = 0
    while (yy < h) {
      System.arraycopy(luma, yy * lumaW, gray, yy * w, w)
      yy += 1
    }
    Image(w, h, gray)
  }

  // -- PCM WAV (RIFF/WAVE, fmt chunk, 16-bit LE) -----------------------

  def decodeWav(bytes: Array[Byte]): Audio = {
    require(detect(bytes) == Wav, "not a RIFF/WAVE file")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12 // past RIFF size WAVE
    var sampleRate = 0; var bitsPerSample = 0; var channels = 0
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= bytes.length && (dataOff < 0 || sampleRate == 0)) {
      val id = new String(bytes, pos, 4, StandardCharsets.US_ASCII)
      val sz = bb.getInt(pos + 4)
      require(sz >= 0 && pos + 8 + sz <= bytes.length, s"bad chunk $id size $sz")
      if (id == "fmt ") {
        val fmt = bb.getShort(pos + 8) & 0xffff
        require(fmt == 1, s"not PCM (fmt tag $fmt)")
        channels = bb.getShort(pos + 10) & 0xffff
        sampleRate = bb.getInt(pos + 12)
        bitsPerSample = bb.getShort(pos + 22) & 0xffff
        require(bitsPerSample == 16, s"only 16-bit PCM supported, got $bitsPerSample")
        require(channels >= 1, "zero channels")
      } else if (id == "data") { dataOff = pos + 8; dataLen = sz }
      pos += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    require(sampleRate > 0 && dataOff >= 0, "missing fmt or data chunk")
    val n = dataLen / 2 / channels
    val samples = new Array[Float](n)
    var i = 0
    while (i < n) {
      // multi-channel mixes down to the first channel (deterministic)
      samples(i) = bb.getShort(dataOff + i * 2 * channels).toFloat / 32768f
      i += 1
    }
    Audio(sampleRate, samples)
  }

  // -- AVI video (RIFF 'AVI ': hdrl/avih/strh/strf + movi frames) ------
  //
  // Container per the public Microsoft AVI RIFF reference (LIST/chunk
  // walk, word alignment). Two frame codecs decode for real:
  //   * BI_RGB uncompressed DIB ('00db'): 24-bit BGR rows, 4-byte row
  //     padding, bottom-up unless biHeight < 0 — pure byte algebra.
  //   * MJPEG ('00dc', fourcc 'MJPG'): each frame is a baseline JPEG
  //     decoded by `decodeJpeg`; real MJPEG streams conventionally OMIT
  //     the DHT segment and decoders must supply the T.81 Annex K.3
  //     default tables — `decodeMjpegFrame` splices them in when absent.
  //   * 'MPNG' motion-PNG frames dispatch to `decodePng`.

  /** A parsed AVI: stream-format header fields plus the raw per-frame
    * chunk payloads of the first video stream (stream 00). */
  final case class Video(width: Int, height: Int, usPerFrame: Int,
                         nFramesDeclared: Int, bitCount: Int,
                         compression: Int, topDown: Boolean,
                         frames: Vector[Array[Byte]])

  /** 'MJPG' as the little-endian fourcc biCompression value. */
  val MjpgFourcc: Int = 0x47504a4d

  /** Walk the RIFF tree: main header (avih), the FIRST 'vids' stream's
    * format (strf → BITMAPINFOHEADER), and that stream's frame chunks
    * inside 'movi' (chunk ids "%02d"+db/dc keyed by the vids stream's
    * ordinal among the strl lists — NOT assumed to be stream 00, so an
    * audio-first AVI parses too), including 'rec ' sub-lists. idx1 is
    * ignored — the sequential chunk walk is the index. */
  def parseAvi(bytes: Array[Byte]): Video = {
    require(detect(bytes) == Avi, "not a RIFF/AVI file")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(o: Int): String = new String(bytes, o, 4, StandardCharsets.US_ASCII)
    var usPerFrame = 0; var nDecl = 0
    var w = 0; var h = 0; var bitCount = 0; var compression = 0
    var topDown = false; var sawVids = false; var haveFmt = false
    var curStrlVids = false
    // Stream numbering (ADVICE r10): movi chunk ids are "%02d"+db/dc
    // keyed by the stream's ORDINAL among the strl lists, so an AVI
    // whose first stream is audio carries its video frames as
    // '01db'/'01dc'. Track the ordinal and match against the vids
    // stream's, instead of assuming stream 00.
    var strlOrdinal = -1; var vidsOrdinal = -1
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(start: Int, end: Int, inMovi: Boolean, inHdrl: Boolean,
             inStrl: Boolean): Unit = {
      var p = start
      while (p + 8 <= end) {
        val id = fourcc(p)
        val sz = bb.getInt(p + 4)
        require(sz >= 0 && p + 8 + sz <= end, s"bad chunk $id size $sz")
        val body = p + 8
        if (id == "LIST") {
          require(sz >= 4, "LIST without a type")
          val lt = fourcc(body)
          if (lt == "strl") { curStrlVids = false; strlOrdinal += 1 }
          walk(body + 4, body + sz, inMovi || lt == "movi",
               inHdrl || lt == "hdrl", inStrl || lt == "strl")
        } else if (inHdrl && id == "avih") {
          require(sz >= 40, s"short avih ($sz bytes)")
          usPerFrame = bb.getInt(body)
          nDecl = bb.getInt(body + 16)
        } else if (inStrl && id == "strh") {
          require(sz >= 8, s"short strh ($sz bytes)")
          curStrlVids = fourcc(body) == "vids" && !sawVids
          if (curStrlVids) { sawVids = true; vidsOrdinal = strlOrdinal }
        } else if (inStrl && id == "strf" && curStrlVids && !haveFmt) {
          require(sz >= 40, s"short strf ($sz bytes)")
          w = bb.getInt(body + 4)
          val bh = bb.getInt(body + 8)
          h = math.abs(bh); topDown = bh < 0
          bitCount = bb.getShort(body + 14) & 0xffff
          compression = bb.getInt(body + 16)
          haveFmt = true
        } else if (inMovi && vidsOrdinal >= 0 &&
                   (id == f"$vidsOrdinal%02ddb" || id == f"$vidsOrdinal%02ddc")) {
          frames += java.util.Arrays.copyOfRange(bytes, body, body + sz)
        }
        p = body + sz + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, bytes.length, inMovi = false, inHdrl = false, inStrl = false)
    require(sawVids && haveFmt, "missing 'vids' stream headers (strh/strf)")
    require(w > 0 && h > 0, s"bad frame dimensions ${w}x$h")
    Video(w, h, usPerFrame, nDecl, bitCount, compression, topDown,
          frames.result())
  }

  /** Decode frame `i` of a parsed AVI to the shared gray contract. */
  def decodeVideoFrame(v: Video, i: Int): Image = {
    require(i >= 0 && i < v.frames.length,
      s"frame $i of ${v.frames.length}")
    val f = v.frames(i)
    if (v.compression == 0) { // BI_RGB uncompressed DIB
      require(v.bitCount == 24,
        s"BI_RGB bitCount ${v.bitCount} unsupported (24-bit only)")
      val stride = (v.width * 3 + 3) & ~3
      require(f.length >= stride * v.height,
        s"truncated DIB frame: ${f.length} < ${stride * v.height}")
      val gray = new Array[Float](v.width * v.height)
      var y = 0
      while (y < v.height) {
        val srcY = if (v.topDown) y else v.height - 1 - y
        var x = 0
        while (x < v.width) {
          val o = srcY * stride + x * 3
          val b = f(o) & 0xff; val g = f(o + 1) & 0xff; val r = f(o + 2) & 0xff
          gray(y * v.width + x) = (0.299f * r + 0.587f * g + 0.114f * b) / 255f
          x += 1
        }
        y += 1
      }
      Image(v.width, v.height, gray)
    } else detect(f) match {
      case Jpeg => decodeMjpegFrame(f)
      case Png  => decodePng(f) // 'MPNG' motion-PNG streams
      case _ => throw new IllegalArgumentException(
        f"unsupported AVI codec 0x${v.compression}%08x" +
          " with unrecognized frame bytes")
    }
  }

  /** T.81 Annex K.3 default Huffman tables as ONE spliceable DHT
    * segment (DC/AC × luminance/chrominance) — what an MJPEG decoder
    * must supply when frames omit DHT. */
  private lazy val StdDhtSegment: Array[Byte] = {
    val dcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val dcChrBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
    val dcVals = (0 to 11).toArray
    val acLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
    val acLumVals = Array(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
      0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
      0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
      0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
      0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
      0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
      0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
      0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
      0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
      0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
      0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
      0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
      0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
      0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
      0xf9, 0xfa)
    val acChrBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
    val acChrVals = Array(
      0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
      0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
      0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
      0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
      0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
      0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
      0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
      0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
      0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
      0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
      0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
      0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
      0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
      0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
      0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
      0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
      0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
      0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
      0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
      0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
      0xf9, 0xfa)
    val tables = Seq(
      (0x00, dcLumBits, dcVals), (0x10, acLumBits, acLumVals),
      (0x01, dcChrBits, dcVals), (0x11, acChrBits, acChrVals))
    val payload = 2 + tables.map { case (_, bits, vals) =>
      require(bits.sum == vals.length, "DHT table bits/vals mismatch")
      1 + 16 + vals.length
    }.sum
    val out = ByteBuffer.allocate(2 + payload)
    out.put(0xff.toByte).put(0xc4.toByte)
    out.putShort(payload.toShort)
    tables.foreach { case (tcth, bits, vals) =>
      out.put(tcth.toByte)
      bits.foreach(b => out.put(b.toByte))
      vals.foreach(v => out.put(v.toByte))
    }
    out.array()
  }

  /** Decode one MJPEG frame: a baseline JPEG that may, per MJPEG
    * convention, omit its Huffman tables — in that case the Annex K.3
    * defaults are spliced in right after SOI before decoding. */
  def decodeMjpegFrame(bytes: Array[Byte]): Image = {
    require(detect(bytes) == Jpeg, "MJPEG frame is not a JPEG")
    def u8(i: Int): Int = bytes(i) & 0xff
    var p = 2; var hasDht = false; var done = false
    while (!done && p + 4 <= bytes.length) {
      if (u8(p) != 0xff) done = true // malformed — let decodeJpeg report it
      else u8(p + 1) match {
        case 0xc4 => hasDht = true; done = true
        case 0xda | 0xd9 => done = true
        case 0xff => p += 1
        case m if m == 0x01 || (m >= 0xd0 && m <= 0xd7) => p += 2
        case _ => p += 2 + ((u8(p + 2) << 8) | u8(p + 3))
      }
    }
    if (hasDht) decodeJpeg(bytes)
    else {
      val out = new Array[Byte](bytes.length + StdDhtSegment.length)
      System.arraycopy(bytes, 0, out, 0, 2)
      System.arraycopy(StdDhtSegment, 0, out, 2, StdDhtSegment.length)
      System.arraycopy(bytes, 2, out, 2 + StdDhtSegment.length, bytes.length - 2)
      decodeJpeg(out)
    }
  }

  /** Shared container builder: RIFF('AVI ', LIST hdrl(avih, LIST
    * strl(strh, strf)), LIST movi(frame chunks)). */
  private def aviContainer(w: Int, h: Int, usPerFrame: Int,
                           compression: Int, handler: String, bitCount: Int,
                           frames: Seq[Array[Byte]], chunkId: String): Array[Byte] = {
    require(frames.nonEmpty, "no frames")
    require(usPerFrame > 0, s"usPerFrame $usPerFrame")
    val maxFrame = frames.map(_.length).max
    val strlSz = 4 + (8 + 56) + (8 + 40)
    val hdrlSz = 4 + (8 + 56) + (8 + strlSz)
    val moviSz = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    val bb = ByteBuffer.allocate(8 + riffSz).order(ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = bb.put(s.getBytes(StandardCharsets.US_ASCII))
    cc("RIFF"); bb.putInt(riffSz); cc("AVI ")
    cc("LIST"); bb.putInt(hdrlSz); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(usPerFrame).putInt(0).putInt(0).putInt(0)
    bb.putInt(frames.length).putInt(0).putInt(1).putInt(maxFrame)
    bb.putInt(w).putInt(h)
    bb.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
    cc("LIST"); bb.putInt(strlSz); cc("strl")
    cc("strh"); bb.putInt(56)
    cc("vids"); cc(handler)
    bb.putInt(0).putInt(0).putInt(0) // flags, prio+lang, initial frames
    bb.putInt(usPerFrame).putInt(1000000) // dwScale / dwRate = frame period
    bb.putInt(0).putInt(frames.length).putInt(maxFrame)
    bb.putInt(-1).putInt(0) // quality (default), sample size
    bb.putShort(0).putShort(0) // rcFrame
    bb.putShort(w.toShort).putShort(h.toShort)
    cc("strf"); bb.putInt(40)
    bb.putInt(40).putInt(w).putInt(h) // biSize, biWidth, biHeight (bottom-up)
    bb.putShort(1).putShort(bitCount.toShort)
    bb.putInt(compression)
    bb.putInt(if (compression == 0) ((w * bitCount / 8 + 3) & ~3) * h else 0)
    bb.putInt(0).putInt(0).putInt(0).putInt(0) // ppm x/y, clrUsed/Important
    cc("LIST"); bb.putInt(moviSz); cc("movi")
    frames.foreach { f =>
      cc(chunkId); bb.putInt(f.length); bb.put(f)
      if ((f.length & 1) == 1) bb.put(0.toByte) // word alignment pad
    }
    bb.array()
  }

  /** Encode gray frames (w*h pixel arrays) as an uncompressed-DIB AVI:
    * bottom-up 24-bit BGR rows with B=G=R, 4-byte row padding — a
    * standard-compliant video any AVI reader plays. */
  def encodeAviDib(frames: Seq[Array[Byte]], w: Int, h: Int,
                   usPerFrame: Int = 40000): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val dib = frames.map { px =>
      require(px.length == w * h, s"${px.length} pixels for ${w}x$h")
      val f = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        val srcRow = h - 1 - y // bottom-up row order
        var x = 0
        while (x < w) {
          val v = px(srcRow * w + x)
          val o = y * stride + x * 3
          f(o) = v; f(o + 1) = v; f(o + 2) = v
          x += 1
        }
        y += 1
      }
      f
    }
    aviContainer(w, h, usPerFrame, compression = 0, handler = "DIB ",
                 bitCount = 24, frames = dib, chunkId = "00db")
  }

  /** Wrap already-encoded JPEG frames as an MJPEG AVI ('MJPG'). */
  def encodeAviMjpeg(jpegFrames: Seq[Array[Byte]], w: Int, h: Int,
                     usPerFrame: Int = 40000): Array[Byte] =
    aviContainer(w, h, usPerFrame, compression = MjpgFourcc,
                 handler = "MJPG", bitCount = 24, frames = jpegFrames,
                 chunkId = "00dc")

  // -- GIF (87a/89a: LZW-compressed palette frames, the second real
  //    animation container next to AVI) --------------------------------
  //
  // Per the public GIF89a specification (CompuServe, 31 July 1990):
  // logical screen descriptor §18, global/local color tables §19/§21,
  // graphic control extension §23 (disposal/transparency), image
  // descriptor §20 (interlace four-pass order appendix E), and the
  // variable-code-width LZW of appendix F (code width grows when the
  // next free slot reaches 2^width, clear resets, 12-bit ceiling).

  /** A decoded GIF animation: each frame is the full logical-screen
    * canvas AFTER compositing that frame (what a player shows), in the
    * shared gray [0,1] contract. */
  final case class GifAnim(width: Int, height: Int, frames: Vector[Image])

  /** GIF-variant LZW decode: `codes` is the concatenated image data
    * (sub-blocks already joined), `minCode` the root code size, `n`
    * the expected pixel count. Codes pack LSB-first. */
  private[graft] def lzwDecode(codes: Array[Byte], minCode: Int, n: Int): Array[Byte] = {
    require(minCode >= 2 && minCode <= 8, s"bad LZW min code size $minCode")
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new Array[Byte](n)
    var outPos = 0
    // table as (prefix link, final byte): roots have prefix -1
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    var next = 0; var width = 0
    def reset(): Unit = {
      var i = 0
      while (i < clear) { prefix(i) = -1; last(i) = i.toByte; i += 1 }
      next = eoi + 1; width = minCode + 1
    }
    reset()
    var bitPos = 0L
    val nBits = codes.length.toLong * 8
    def read(): Int = {
      if (bitPos + width > nBits) return eoi // truncated stream: stop
      var v = 0; var i = 0
      while (i < width) {
        val bp = bitPos + i
        if ((codes((bp >> 3).toInt) >> (bp & 7).toInt & 1) != 0) v |= 1 << i
        i += 1
      }
      bitPos += width
      v
    }
    // expand code c into out at outPos (reversed walk up the prefix chain)
    val stack = new Array[Byte](4096)
    def emit(c: Int): Byte = {
      var sp = 0; var cc = c
      while (cc >= 0) { stack(sp) = last(cc); sp += 1; cc = prefix(cc) }
      val first = stack(sp - 1)
      while (sp > 0 && outPos < n) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
      first
    }
    var prev = -1
    var done = false
    while (!done && outPos < n) {
      val c = read()
      if (c == eoi) done = true
      else if (c == clear) { reset(); prev = -1 }
      else {
        require(c <= next, s"LZW code $c beyond table size $next")
        if (prev < 0) {
          require(c < clear, s"first LZW code $c is not a root")
          emit(c); prev = c
        } else {
          val first =
            if (c < next) emit(c)
            else { // c == next: the K-of-prev self-reference case
              var sp = 0; var cc = prev
              while (cc >= 0) { stack(sp) = last(cc); sp += 1; cc = prefix(cc) }
              val f = stack(sp - 1)
              // prev's expansion followed by its own first byte
              if (outPos < n) {
                while (sp > 0 && outPos < n) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
                if (outPos < n) { out(outPos) = f; outPos += 1 }
              }
              f
            }
          if (next < 4096) {
            prefix(next) = prev; last(next) = first; next += 1
            // Width bookkeeping is the compress-lineage convention every
            // GIF codec shares (the JDK's GIFImageReader uses literally
            // this check): grow when the table reaches 2^width. The
            // ENCODER mirror grows one entry later (when next EXCEEDS
            // 2^width) because it adds each entry one code ahead of the
            // decoder — MediaSpec pins both directions against the JDK.
            if (next == (1 << width) && width < 12) width += 1
          }
          prev = c
        }
      }
    }
    require(outPos == n, s"LZW stream yielded $outPos of $n pixels")
    out
  }

  /** GIF-variant LZW encode of `px` (palette indices) at `minCode`
    * root size; emits a leading clear, resets the table when full,
    * grows the code width in lockstep with the decoder's table. */
  private[graft] def lzwEncode(px: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val buf = new java.io.ByteArrayOutputStream()
    var acc = 0L; var accBits = 0
    var width = minCode + 1
    def put(code: Int): Unit = {
      acc |= code.toLong << accBits; accBits += width
      while (accBits >= 8) { buf.write((acc & 0xff).toInt); acc >>= 8; accBits -= 8 }
    }
    // dict: (prefix code, next byte) -> code, keyed as prefix*256+byte
    val dict = new java.util.HashMap[Integer, Integer](8192)
    var next = eoi + 1
    def reset(): Unit = { dict.clear(); next = eoi + 1; width = minCode + 1 }
    put(clear)
    if (px.nonEmpty) {
      var cur = px(0) & 0xff
      var i = 1
      while (i < px.length) {
        val k = px(i) & 0xff
        val key = Integer.valueOf(cur * 256 + k)
        val hit = dict.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          put(cur)
          if (next == 4096) { put(clear); reset() }
          else {
            dict.put(key, Integer.valueOf(next)); next += 1
            // one code later than the decoder's check — see lzwDecode
            if (next > (1 << width) && width < 12) width += 1
          }
          cur = k
        }
        i += 1
      }
      put(cur)
    }
    put(eoi)
    if (accBits > 0) buf.write((acc & 0xff).toInt)
    buf.toByteArray
  }

  private val GifInterlacePasses: Array[(Int, Int)] =
    Array((0, 8), (4, 8), (2, 4), (1, 2))

  /** Decode a GIF (87a/89a) to per-frame canvases. Supported: global
    * and local color tables, interlace, transparency, disposal methods
    * 0/1 (leave) and 2 (restore background); disposal 3 (restore
    * previous) is rejected loudly. Luma uses the same Rec.601 float
    * algebra as the DIB/PPM decoders, so a grayscale-palette GIF
    * round-trips its source bytes exactly (the oracle-twin recovery
    * contract). */
  def decodeGif(bytes: Array[Byte]): GifAnim = {
    require(detect(bytes) == Gif, "not a GIF file")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def u8(o: Int): Int = bytes(o) & 0xff
    def u16(o: Int): Int = bb.getShort(o) & 0xffff
    require(bytes.length >= 13, "truncated logical screen descriptor")
    val w = u16(6); val h = u16(8)
    require(w > 0 && h > 0, s"bad GIF dimensions ${w}x$h")
    // Plausibility cap BEFORE any allocation (check the header before
    // allocating from it): garbage bytes behind a valid magic must fail with a
    // catchable require, never an OutOfMemoryError from a 4-billion-
    // pixel canvas. 2^24 pixels (4096x4096) covers any sane GIF.
    require(w.toLong * h <= (1L << 24), s"implausible GIF screen ${w}x$h")
    val packed = u8(10)
    val bg = u8(11)
    var p = 13
    var gct: Array[Int] = null // packed 0xRRGGBB
    def readCt(size: Int): Array[Int] = {
      val ct = new Array[Int](size)
      var i = 0
      while (i < size) {
        require(p + 2 < bytes.length, "truncated color table")
        ct(i) = (u8(p) << 16) | (u8(p + 1) << 8) | u8(p + 2); p += 3; i += 1
      }
      ct
    }
    if ((packed & 0x80) != 0) gct = readCt(2 << (packed & 7))
    def luma(rgb: Int): Float = {
      val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
      (0.299f * r + 0.587f * g + 0.114f * b) / 255f
    }
    // canvas starts as the background color (or black without a GCT)
    val bgLuma = if (gct != null && bg < gct.length) luma(gct(bg)) else 0f
    var canvas = Array.fill(w * h)(bgLuma)
    val frames = Vector.newBuilder[Image]
    var transparent = -1; var disposal = 0
    var done = false
    while (!done) {
      require(p < bytes.length, "missing GIF trailer")
      u8(p) match {
        case 0x3b => done = true
        case 0x21 => // extension: label + length-prefixed sub-blocks
          require(p + 1 < bytes.length, "truncated extension")
          val label = u8(p + 1); p += 2
          if (label == 0xf9) {
            require(p + 5 < bytes.length && u8(p) == 4, "bad GCE block")
            val gp = u8(p + 1)
            disposal = (gp >> 2) & 7
            require(disposal <= 2,
              s"GIF disposal method $disposal unsupported (0/1/2 only)")
            transparent = if ((gp & 1) != 0) u8(p + 4) else -1
            p += 6 // size byte + 4 payload + terminator
          } else { // skip any other extension's sub-blocks
            while (u8(p) != 0) { p += 1 + u8(p); require(p < bytes.length, "runaway extension") }
            p += 1
          }
        case 0x2c => // image descriptor
          require(p + 10 <= bytes.length, "truncated image descriptor")
          val left = u16(p + 1); val top = u16(p + 3)
          val fw = u16(p + 5); val fh = u16(p + 7)
          val fp = u8(p + 9); p += 10
          require(fw > 0 && fh > 0 && left + fw <= w && top + fh <= h,
            s"frame ${fw}x$fh at ($left,$top) exceeds ${w}x$h")
          val ct = if ((fp & 0x80) != 0) readCt(2 << (fp & 7)) else gct
          require(ct != null, "frame without any color table")
          val interlaced = (fp & 0x40) != 0
          require(p < bytes.length, "missing LZW code size")
          val minCode = u8(p); p += 1
          // join data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (u8(p) != 0) {
            val n = u8(p)
            require(p + 1 + n <= bytes.length, "truncated image data")
            data.write(bytes, p + 1, n); p += 1 + n
          }
          p += 1
          val idx = lzwDecode(data.toByteArray, minCode, fw * fh)
          // storage rows -> screen rows (interlace appendix E)
          val rowOf = new Array[Int](fh)
          if (interlaced) {
            var sr = 0
            GifInterlacePasses.foreach { case (start, step) =>
              var y = start
              while (y < fh) { rowOf(sr) = y; sr += 1; y += step }
            }
          } else { var y = 0; while (y < fh) { rowOf(y) = y; y += 1 } }
          val before = if (disposal == 2) canvas.clone() else null
          var sr = 0
          while (sr < fh) {
            val y = top + rowOf(sr)
            var x = 0
            while (x < fw) {
              val ci = idx(sr * fw + x) & 0xff
              if (ci != transparent) {
                require(ci < ct.length, s"palette index $ci of ${ct.length}")
                canvas(y * w + left + x) = luma(ct(ci))
              }
              x += 1
            }
            sr += 1
          }
          frames += Image(w, h, canvas.clone())
          if (disposal == 2) { // restore the covered region to background
            canvas = before
            var yy = top
            while (yy < top + fh) {
              var xx = left
              while (xx < left + fw) { canvas(yy * w + xx) = bgLuma; xx += 1 }
              yy += 1
            }
          }
          transparent = -1; disposal = 0
        case other =>
          throw new IllegalArgumentException(f"unknown GIF block 0x$other%02x at $p")
      }
    }
    GifAnim(w, h, frames.result())
  }

  /** Encode gray frames (w*h pixel arrays) as an animated GIF89a with
    * a 256-entry grayscale global palette (index i = gray level i, so
    * decode recovers the source bytes exactly), real LZW compression,
    * full-frame images, and a per-frame graphic control extension —
    * a standard-compliant animation any GIF viewer plays. */
  def encodeGifGray(frames: Seq[Array[Byte]], w: Int, h: Int,
                    delayCs: Int = 4): Array[Byte] = {
    require(frames.nonEmpty, "no frames")
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
    le16(w); le16(h)
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    frames.foreach { px =>
      require(px.length == w * h, s"${px.length} pixels for ${w}x$h")
      // GCE: disposal 1 (leave in place), no transparency
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0x04); le16(delayCs); out.write(0); out.write(0)
      out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(0)
      out.write(8) // LZW min code size
      val lzw = lzwEncode(px, 8)
      var o = 0
      while (o < lzw.length) {
        val n = math.min(255, lzw.length - o)
        out.write(n); out.write(lzw, o, n); o += n
      }
      out.write(0) // data terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(StandardCharsets.US_ASCII)).putInt(36 + dataLen)
    bb.put("WAVE".getBytes(StandardCharsets.US_ASCII))
    bb.put("fmt ".getBytes(StandardCharsets.US_ASCII)).putInt(16)
    bb.putShort(1).putShort(1) // PCM, mono
    bb.putInt(sampleRate).putInt(sampleRate * 2) // byte rate
    bb.putShort(2).putShort(16) // block align, bits
    bb.put("data".getBytes(StandardCharsets.US_ASCII)).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }
}
