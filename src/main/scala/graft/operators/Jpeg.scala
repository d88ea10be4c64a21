package graft.operators

/** REAL baseline JPEG (ITU-T T.81 sequential DCT) codec, pure JVM.
  *
  * Closes the last compressed-media stub the same way the PNG/BMP/WAV
  * codecs did: genuine container + entropy layer, byte-exact where the
  * math allows it. The encoder is a general baseline encoder — forward
  * 8x8 DCT, quantization tables, zigzag, DC-difference + AC run-length
  * canonical Huffman, 0xFF byte stuffing, restart markers — and the
  * decoder is a general baseline decoder: full marker walk, DQT/DHT
  * parsing (Huffman tables are RECONSTRUCTED from the 16 length counts
  * by the T.81 Annex C canonical assignment, the one that also builds
  * the encoder's tables), SOF0/SOS validation, entropy decode
  * with sign extension and DC prediction, RST alignment + predictor
  * reset, dequantize, de-zigzag, float IDCT, level shift + clamp, and
  * MCU-padding crop.
  *
  * Oracle strategy (same discipline as SURVEY §3): the synthetic corpus
  * images are constant per 8x8 block with EVEN sample values, so every
  * block's DCT is DC-only and DC quantizes losslessly (8·(v-128) is a
  * multiple of 16 = Q[0][0]) — decode is therefore BIT-exact and DuckDB
  * can replay the features analytically. The lossy general path (AC
  * coefficients, rounding) is exercised by specs on gradient images
  * with a +-1 tolerance, which is what lossy-codec parity means.
  *
  * Both sampling modes are implemented: 4:4:4 (three full-resolution
  * components, MCU = one block per component) and 4:2:0 chroma
  * subsampling (interleaved 16x16 MCUs — four Y blocks + one Cb + one
  * Cr per MCU, box-average downsample on encode, replication upsample
  * on decode; see synthJpeg420Bytes / q_multimodal_jpeg420).
  */
object Jpeg {

  /** Decoded image: full-resolution Y/Cb/Cr planes, row-major. */
  final case class JpegImage(width: Int, height: Int,
                             yPlane: Array[Int], cbPlane: Array[Int],
                             crPlane: Array[Int])

  // ---- tables (ride inside the file; the decoder never sees these) ----

  /** Luma quantization table, row-major. [0][0]=16 makes even-valued
    * constant blocks lossless; AC entries grow with frequency like the
    * T.81 Annex K example table does. */
  private val QLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Chroma quantization table ([0][0] also 16 — chroma constants stay
    * lossless too). */
  private val QChroma: Array[Int] = Array(
    16, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Zigzag order: ZigZag(i) = row-major index of the i-th zigzag coeff. */
  private val ZigZag: Array[Int] = {
    val zz = new Array[Int](64)
    var i = 0
    var x = 0; var y = 0; var up = true
    while (i < 64) {
      zz(i) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      i += 1
    }
    zz
  }

  /** DC Huffman spec: 12 size categories, all 4-bit codes (Kraft sum
    * 12/16 < 1 — valid, canonical, and never all-ones). */
  private val DcCounts: Array[Int] =
    Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcSymbols: Array[Int] = (0 until 12).toArray

  /** AC Huffman spec: EOB, ZRL, then (run,size) run 0..15 x size 1..10 —
    * the full 162-symbol baseline alphabet, all 8-bit codes. */
  private val AcCounts: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcSymbols: Array[Int] =
    Array(0x00, 0xF0) ++
      (for (run <- 0 until 16; size <- 1 to 10) yield (run << 4) | size)

  /** The Huffman table of DHT `counts` (codes per length 1..16) and
    * `symbols`, codes assigned canonically (T.81 Annex C) — the one
    * assignment of the encoder's tables and every decoded DHT. */
  private def canonicalCodes(counts: Array[Int],
                             symbols: Array[Int]): Bits.PrefixCode = {
    var code = 0; var si = 0
    val out = Seq.newBuilder[(Int, Int, Int)]
    var len = 1
    while (len <= 16) {
      var n = counts(len - 1)
      while (n > 0) {
        out += ((code, len, symbols(si)))
        code += 1; si += 1; n -= 1
      }
      code <<= 1
      len += 1
    }
    new Bits.PrefixCode(out.result())
  }

  private lazy val dcEnc = canonicalCodes(DcCounts, DcSymbols)
  private lazy val acEnc = canonicalCodes(AcCounts, AcSymbols)

  // ---- the synthetic corpus image (see oracle strategy above) ----

  def jpegW(d: Long): Int = (20 + d % 13).toInt
  def jpegH(d: Long): Int = (16 + d % 11).toInt

  /** Per-block constant sample value for component c (0=Y 1=Cb 2=Cr):
    * even, in [0, 254]. */
  def blockValue(d: Long, bx: Int, by: Int, c: Int): Int = c match {
    case 0 => ((d * 17 + bx * 29 + by * 41) % 128).toInt * 2
    case 1 => ((d * 7 + bx * 13 + by * 23) % 128).toInt * 2
    case _ => ((d * 11 + bx * 19 + by * 31) % 128).toInt * 2
  }

  /** Document docId's synthetic planes (w x h each, row-major). */
  def synthPlanes(docId: Long): JpegImage = {
    val w = jpegW(docId); val h = jpegH(docId)
    val planes = Array.fill(3)(new Array[Int](w * h))
    var c = 0
    while (c < 3) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          planes(c)(y * w + x) = blockValue(docId, x / 8, y / 8, c)
          x += 1
        }
        y += 1
      }
      c += 1
    }
    JpegImage(w, h, planes(0), planes(1), planes(2))
  }

  private def bitSize(v: Int): Int = {
    var s = 0; var a = math.abs(v)
    while (a != 0) { s += 1; a >>= 1 }
    s
  }

  /** Cosine basis, Cos(x)(u) = cos((2x+1)·u·π/16) — computing this in
    * the DCT inner loops (128 math.cos calls per coefficient) made the
    * sf0.1 feature query a 12s straggler; the cached basis runs it with
    * plain multiply-adds. */
  private val Cos: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private val InvSqrt2 = 1.0 / math.sqrt(2)

  /** Forward 8x8 DCT-II (orthonormal JPEG normalization) of a
    * level-shifted block, separable: rows then columns — 8+8 basis
    * products per coefficient instead of 64. */
  private def fdct(px: Array[Int]): Array[Double] = {
    // pass 1: 1-D DCT along each row -> tmp(y)(v)
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += (px(y * 8 + x) - 128) * Cos(x)(v); x += 1 }
        tmp(y * 8 + v) = s
        v += 1
      }
      y += 1
    }
    // pass 2: 1-D DCT down each column + normalization
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) InvSqrt2 else 1.0
      var v = 0
      while (v < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + v) * Cos(yy)(u); yy += 1 }
        val cv = if (v == 0) InvSqrt2 else 1.0
        out(u * 8 + v) = 0.25 * cu * cv * s
        v += 1
      }
      u += 1
    }
    out
  }

  /** Inverse 8x8 DCT (same normalization), rounding to int, no clamp
    * (caller clamps); separable like [[fdct]]. */
  private def idct(coef: Array[Int]): Array[Int] = {
    // pass 1: un-normalize + 1-D inverse down each column -> tmp(y)(v)
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) {
      val cv = if (v == 0) InvSqrt2 else 1.0
      var y = 0
      while (y < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val c = coef(u * 8 + v)
          if (c != 0) {
            val cu = if (u == 0) InvSqrt2 else 1.0
            s += cu * c * Cos(y)(u)
          }
          u += 1
        }
        tmp(y * 8 + v) = cv * s
        y += 1
      }
      v += 1
    }
    // pass 2: 1-D inverse along each row
    val out = new Array[Int](64)
    var y2 = 0
    while (y2 < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += tmp(y2 * 8 + vv) * Cos(x)(vv); vv += 1 }
        out(y2 * 8 + x) = math.round(0.25 * s).toInt + 128
        x += 1
      }
      y2 += 1
    }
    out
  }

  // ---- encoder ----

  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xFF); out.write(m)
  }

  private def segment(out: java.io.ByteArrayOutputStream, m: Int,
                      body: Array[Byte]): Unit = {
    marker(out, m)
    val len = body.length + 2
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    out.write(body, 0, body.length)
  }

  /** Write `w`'s bits as one entropy-coded segment: the last byte
    * padded with 1-bits (T.81 F.1.2.3), a 0x00 stuffed after every
    * 0xFF byte. */
  private def writeEcs(out: java.io.ByteArrayOutputStream,
                       w: Bits.Writer): Unit = {
    w.align(1)
    w.bytes.foreach { b => out.write(b); if (b == 0xFF.toByte) out.write(0) }
  }

  /** The entropy-coded segments of the scan starting at `from`, FF00
    * unstuffed: one (bytes, marker ending it) per restart interval, the
    * last ending at the first non-RST marker (-1 at the end of data). */
  private def readEcs(b: Array[Byte], from: Int): Seq[(Array[Byte], Int)] = {
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Int)]
    var seg = new java.io.ByteArrayOutputStream
    var p = from
    var last = false
    while (!last) {
      if (p == b.length) { segs += ((seg.toByteArray, -1)); last = true }
      else if (b(p) != 0xFF.toByte) { seg.write(b(p)); p += 1 }
      else {
        require(p + 1 < b.length, "jpeg: truncated after 0xFF")
        val m = b(p + 1) & 0xFF
        p += 2
        if (m == 0) seg.write(0xFF)
        else {
          segs += ((seg.toByteArray, m))
          seg = new java.io.ByteArrayOutputStream
          last = m < 0xD0 || m > 0xD7
        }
      }
    }
    segs.toSeq
  }

  /** Restart interval in MCUs (small so sf test images hit several
    * RST markers; at scale restarts are what make a single scan
    * splittable across decode tasks). */
  val RestartInterval = 4

  /** Encode arbitrary w x h Y/Cb/Cr planes as a baseline 4:4:4 JFIF
    * file. General path: every block goes through fdct + quantize +
    * zigzag + DC-diff/AC-run Huffman; MCU padding replicates the
    * block's last row/column sample. */
  def encode(img: JpegImage): Array[Byte] =
    encodeSampled(img, subsample = false)

  /** Encode with 4:2:0 chroma subsampling: Y at (2,2), Cb/Cr at (1,1) —
    * 16x16-pixel interleaved MCUs (4 Y blocks + Cb + Cr), chroma
    * averaged 2x2 down before encoding (edge-clamped for odd dims). */
  def encode420(img: JpegImage): Array[Byte] =
    encodeSampled(img, subsample = true)

  private def encodeSampled(img: JpegImage, subsample: Boolean): Array[Byte] = {
    val w = img.width; val h = img.height
    // per-component sampling factors and component-resolution planes
    val hv: Array[(Int, Int)] =
      if (subsample) Array((2, 2), (1, 1), (1, 1))
      else Array((1, 1), (1, 1), (1, 1))
    val hMax = hv.map(_._1).max; val vMax = hv.map(_._2).max
    val compW = hv.map { case (hi, _) => (w * hi + hMax - 1) / hMax }
    val compH = hv.map { case (_, vi) => (h * vi + vMax - 1) / vMax }
    val full = Array(img.yPlane, img.cbPlane, img.crPlane)
    val planes = Array.tabulate(3) { c =>
      if (compW(c) == w && compH(c) == h) full(c)
      else { // box-average downsample, edge-clamped
        val fx = hMax / hv(c)._1; val fy = vMax / hv(c)._2
        val p = new Array[Int](compW(c) * compH(c))
        var y = 0
        while (y < compH(c)) {
          var x = 0
          while (x < compW(c)) {
            var s = 0
            var j = 0
            while (j < fy) {
              var i = 0
              while (i < fx) {
                val sx = math.min(x * fx + i, w - 1)
                val sy = math.min(y * fy + j, h - 1)
                s += full(c)(sy * w + sx)
                i += 1
              }
              j += 1
            }
            p(y * compW(c) + x) = (s + fx * fy / 2) / (fx * fy)
            x += 1
          }
          y += 1
        }
        p
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    marker(out, 0xD8) // SOI
    segment(out, 0xE0, Array[Byte]( // APP0 JFIF, 1.1, no units, no thumb
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    def dqt(id: Int, q: Array[Int]): Array[Byte] = {
      val b = new Array[Byte](65)
      b(0) = id.toByte // precision 0 (8-bit) << 4 | table id
      var i = 0
      while (i < 64) { b(1 + i) = q(ZigZag(i)).toByte; i += 1 } // zigzag order
      b
    }
    segment(out, 0xDB, dqt(0, QLuma))
    segment(out, 0xDB, dqt(1, QChroma))
    segment(out, 0xC0, Array[Byte]( // SOF0: 8-bit, 3 components
      8,
      ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
      ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte,
      3,
      1, ((hv(0)._1 << 4) | hv(0)._2).toByte, 0, // Y: quant table 0
      2, ((hv(1)._1 << 4) | hv(1)._2).toByte, 1, // Cb: quant table 1
      3, ((hv(2)._1 << 4) | hv(2)._2).toByte, 1)) // Cr: quant table 1
    def dht(clazz: Int, id: Int, counts: Array[Int],
            symbols: Array[Int]): Array[Byte] =
      Array(((clazz << 4) | id).toByte) ++ counts.map(_.toByte) ++
        symbols.map(_.toByte)
    // two DC + two AC tables (same content, distinct ids) so the
    // decoder's multi-table DHT walk is exercised
    segment(out, 0xC4, dht(0, 0, DcCounts, DcSymbols))
    segment(out, 0xC4, dht(0, 1, DcCounts, DcSymbols))
    segment(out, 0xC4, dht(1, 0, AcCounts, AcSymbols))
    segment(out, 0xC4, dht(1, 1, AcCounts, AcSymbols))
    segment(out, 0xDD, Array[Byte]( // DRI
      ((RestartInterval >> 8) & 0xFF).toByte,
      (RestartInterval & 0xFF).toByte))
    segment(out, 0xDA, Array[Byte]( // SOS
      3,
      1, 0x00, // Y: DC 0, AC 0
      2, 0x11, // Cb: DC 1, AC 1
      3, 0x11, // Cr
      0, 63, 0)) // baseline spectral selection
    // entropy-coded scan: MCU = (8·hMax) x (8·vMax) pixels, hi x vi
    // blocks per component, interleaved in component order
    var bw = new Bits.Writer
    val mcuX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuY = (h + 8 * vMax - 1) / (8 * vMax)
    val quant = Array(QLuma, QChroma, QChroma)
    val pred = new Array[Int](3)
    var mcu = 0; var rst = 0

    def encodeBlock(c: Int, bx: Int, by: Int): Unit = {
      // gather the block, replicating the edge sample into padding
      val cw = compW(c); val ch = compH(c)
      val px = new Array[Int](64)
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          val sx = math.min(bx * 8 + xx, cw - 1)
          val sy = math.min(by * 8 + yy, ch - 1)
          px(yy * 8 + xx) = planes(c)(sy * cw + sx)
          xx += 1
        }
        yy += 1
      }
      val f = fdct(px)
      val zz = new Array[Int](64)
      var i = 0
      while (i < 64) {
        val q = quant(c)(ZigZag(i))
        zz(i) = math.round(f(ZigZag(i)) / q).toInt
        i += 1
      }
      // DC difference
      val diff = zz(0) - pred(c)
      pred(c) = zz(0)
      val s = bitSize(diff)
      require(s <= 11, s"jpeg encode: DC category $s out of range")
      dcEnc.put(bw, s)
      if (s > 0) {
        val bits = if (diff < 0) diff + (1 << s) - 1 else diff
        bw.put(bits, s)
      }
      // AC run-length
      var run = 0
      var k = 1
      while (k < 64) {
        val v = zz(k)
        if (v == 0) run += 1
        else {
          while (run >= 16) { acEnc.put(bw, 0xF0); run -= 16 } // ZRL
          val sz = bitSize(v)
          require(sz <= 10, s"jpeg encode: AC size $sz out of range")
          acEnc.put(bw, (run << 4) | sz)
          val bits = if (v < 0) v + (1 << sz) - 1 else v
          bw.put(bits, sz)
          run = 0
        }
        k += 1
      }
      if (run > 0) acEnc.put(bw, 0x00) // EOB
    }

    var my = 0
    while (my < mcuY) {
      var mx = 0
      while (mx < mcuX) {
        if (RestartInterval > 0 && mcu > 0 &&
            mcu % RestartInterval == 0) {
          writeEcs(out, bw)
          bw = new Bits.Writer
          marker(out, 0xD0 + rst % 8); rst += 1
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        var c = 0
        while (c < 3) {
          val (hi, vi) = hv(c)
          var v2 = 0
          while (v2 < vi) {
            var h2 = 0
            while (h2 < hi) {
              encodeBlock(c, mx * hi + h2, my * vi + v2)
              h2 += 1
            }
            v2 += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    writeEcs(out, bw)
    marker(out, 0xD9) // EOI
    out.toByteArray
  }

  /** Document docId's synthetic image as a real JPEG file. */
  def synthJpegBytes(docId: Long): Array[Byte] = encode(synthPlanes(docId))

  /** 4:2:0 corpus image: Y constant per 8x8 as in [[synthPlanes]], but
    * chroma constant per 16x16 — the encoder's 2x2 box average of a
    * constant region is that constant, the subsampled plane is then
    * constant per 8x8 (DC-only, lossless), and the decoder's
    * replication upsample restores the full-res plane bit-exactly. */
  def synthPlanes420(docId: Long): JpegImage = {
    val w = jpegW(docId); val h = jpegH(docId)
    val planes = Array.tabulate(3) { c =>
      val cell = if (c == 0) 8 else 16
      val p = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          p(y * w + x) = blockValue(docId, x / cell, y / cell, c)
          x += 1
        }
        y += 1
      }
      p
    }
    JpegImage(w, h, planes(0), planes(1), planes(2))
  }

  /** Document docId's synthetic image as a 4:2:0-subsampled JPEG. */
  def synthJpeg420Bytes(docId: Long): Array[Byte] =
    encode420(synthPlanes420(docId))

  // ---- decoder ----

  private def extend(bits: Int, size: Int): Int =
    if (size == 0) 0
    else if (bits < (1 << (size - 1))) bits - (1 << size) + 1
    else bits

  /** Decode a baseline 4:4:4 JFIF byte stream produced by any encoder
    * honoring the constraints in SOF0 validation below. */
  def decode(payload: Array[Byte]): JpegImage = {
    require(payload.length >= 4 && (payload(0) & 0xFF) == 0xFF &&
      (payload(1) & 0xFF) == 0xD8, "jpeg: missing SOI")
    var pos = 2
    val qtabs = new Array[Array[Int]](4)
    val dcTabs = new Array[Bits.PrefixCode](4)
    val acTabs = new Array[Bits.PrefixCode](4)
    var w = 0; var h = 0
    var compQ: Array[Int] = null   // quant table id per component
    var compHv: Array[(Int, Int)] = null // sampling factors per component
    var compDc: Array[Int] = null  // DC Huffman id per component
    var compAc: Array[Int] = null
    var restartInterval = 0
    var scanStart = -1
    def u16(p: Int): Int = ((payload(p) & 0xFF) << 8) | (payload(p + 1) & 0xFF)
    while (scanStart < 0) {
      require(pos + 3 < payload.length, "jpeg: truncated markers")
      require((payload(pos) & 0xFF) == 0xFF, "jpeg: expected marker")
      val m = payload(pos + 1) & 0xFF
      val len = u16(pos + 2)
      require(pos + 2 + len <= payload.length, "jpeg: truncated segment")
      val body = pos + 4
      m match {
        case 0xDB => // DQT (possibly several tables per segment)
          var p = body
          while (p < pos + 2 + len) {
            val pq = (payload(p) & 0xFF) >> 4
            val id = payload(p) & 0x0F
            require(pq == 0, "jpeg: only 8-bit quant tables supported")
            require(id <= 3, s"jpeg: DQT table id $id > 3")
            val q = new Array[Int](64)
            var i = 0
            while (i < 64) { q(ZigZag(i)) = payload(p + 1 + i) & 0xFF; i += 1 }
            qtabs(id) = q
            p += 65
          }
        case 0xC4 => // DHT (possibly several tables per segment)
          var p = body
          while (p < pos + 2 + len) {
            val clazz = (payload(p) & 0xFF) >> 4
            val id = payload(p) & 0x0F
            require(clazz <= 1 && id <= 3, s"jpeg: DHT class $clazz id $id")
            val counts = Array.tabulate(16)(i => payload(p + 1 + i) & 0xFF)
            val n = counts.sum
            val symbols = Array.tabulate(n)(i => payload(p + 17 + i) & 0xFF)
            val t = canonicalCodes(counts, symbols)
            if (clazz == 0) dcTabs(id) = t else acTabs(id) = t
            p += 17 + n
          }
        case 0xC0 => // SOF0 baseline
          require((payload(body) & 0xFF) == 8, "jpeg: 8-bit only")
          h = u16(body + 1); w = u16(body + 3)
          val nc = payload(body + 5) & 0xFF
          require(nc == 3, "jpeg: expected 3 components")
          compQ = new Array[Int](3)
          compHv = new Array[(Int, Int)](3)
          var c = 0
          while (c < 3) {
            val sampling = payload(body + 7 + c * 3) & 0xFF
            compHv(c) = (sampling >> 4, sampling & 0x0F)
            compQ(c) = payload(body + 8 + c * 3) & 0xFF
            require(compQ(c) <= 3, s"jpeg: quant table id ${compQ(c)} > 3")
            c += 1
          }
          require(compHv.forall { case (hi, vi) =>
            hi >= 1 && hi <= 2 && vi >= 1 && vi <= 2 },
            "jpeg: sampling factors beyond 2 not supported")
        case 0xC1 | 0xC2 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA |
             0xCB | 0xCD | 0xCE | 0xCF =>
          throw new IllegalArgumentException(
            f"jpeg: unsupported SOF marker FF$m%02X (baseline only)")
        case 0xDD => restartInterval = u16(body)
        case 0xDA => // SOS
          val ns = payload(body) & 0xFF
          require(ns == 3, "jpeg: expected 3-component scan")
          compDc = new Array[Int](3); compAc = new Array[Int](3)
          var c = 0
          while (c < 3) {
            compDc(c) = (payload(body + 2 + c * 2) & 0xFF) >> 4
            compAc(c) = payload(body + 2 + c * 2) & 0x0F
            require(compDc(c) <= 3 && dcTabs(compDc(c)) != null &&
              compAc(c) <= 3 && acTabs(compAc(c)) != null,
              "jpeg: scan references an undefined Huffman table")
            c += 1
          }
          scanStart = pos + 2 + len
        case _ => () // APPn/COM: skip
      }
      if (scanStart < 0) pos += 2 + len
    }
    require(w > 0 && h > 0, "jpeg: missing SOF0 before SOS")
    // component-resolution planes: compW = ceil(w·hi/hMax) etc.
    val hMax = compHv.map(_._1).max; val vMax = compHv.map(_._2).max
    val compW = compHv.map { case (hi, _) => (w * hi + hMax - 1) / hMax }
    val compH = compHv.map { case (_, vi) => (h * vi + vMax - 1) / vMax }
    val planes = Array.tabulate(3)(c => new Array[Int](compW(c) * compH(c)))
    val ecs = readEcs(payload, scanStart)
    var br = new Bits.Reader(ecs(0)._1)
    val mcuX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuY = (h + 8 * vMax - 1) / (8 * vMax)
    val pred = new Array[Int](3)
    var mcu = 0; var rst = 0

    def decodeBlock(c: Int, bx: Int, by: Int): Unit = {
      val coef = new Array[Int](64)
      val q = qtabs(compQ(c))
      require(q != null, "jpeg: scan references missing quant table")
      // DC
      val s = dcTabs(compDc(c)).decode(br)
      pred(c) += extend(br.bits(s), s)
      coef(0) = pred(c) * q(0)
      // AC
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = acTabs(compAc(c)).decode(br)
        if (rs == 0x00) eob = true // EOB
        else if (rs == 0xF0) k += 16 // ZRL
        else {
          k += rs >> 4
          require(k < 64, "jpeg: AC run overflows block")
          val sz = rs & 0x0F
          coef(ZigZag(k)) = extend(br.bits(sz), sz) * q(ZigZag(k))
          k += 1
        }
      }
      val px = idct(coef)
      // store with crop at component resolution
      val cw = compW(c); val ch = compH(c)
      var yy = 0
      while (yy < 8) {
        val sy = by * 8 + yy
        if (sy < ch) {
          var xx = 0
          while (xx < 8) {
            val sx = bx * 8 + xx
            if (sx < cw) {
              val v = px(yy * 8 + xx)
              planes(c)(sy * cw + sx) =
                if (v < 0) 0 else if (v > 255) 255 else v
            }
            xx += 1
          }
        }
        yy += 1
      }
    }

    var my = 0
    while (my < mcuY) {
      var mx = 0
      while (mx < mcuX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          require(ecs(rst)._2 == 0xD0 + rst % 8,
            s"jpeg: expected RST${rst % 8}")
          rst += 1
          br = new Bits.Reader(ecs(rst)._1)
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        var c = 0
        while (c < 3) {
          val (hi, vi) = compHv(c)
          var v2 = 0
          while (v2 < vi) {
            var h2 = 0
            while (h2 < hi) {
              decodeBlock(c, mx * hi + h2, my * vi + v2)
              h2 += 1
            }
            v2 += 1
          }
          c += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // nearest-neighbor upsample any subsampled component to full
    // resolution (replication — exact for the constant-region corpus)
    val fullPlanes = Array.tabulate(3) { c =>
      if (compW(c) == w && compH(c) == h) planes(c)
      else {
        val fx = hMax / compHv(c)._1; val fy = vMax / compHv(c)._2
        val p = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            p(y * w + x) = planes(c)(
              math.min(y / fy, compH(c) - 1) * compW(c) +
                math.min(x / fx, compW(c) - 1))
            x += 1
          }
          y += 1
        }
        p
      }
    }
    JpegImage(w, h, fullPlanes(0), fullPlanes(1), fullPlanes(2))
  }

  case class JpegFeatures(doc_id: Long, width: Long, height: Long,
                          sum_y: Long, sum_cb: Long, sum_cr: Long,
                          grad_y: Long)

  /** Encode + full decode per document, features over the decoded
    * YCbCr planes (horizontal gradient on Y — nonzero exactly at block
    * boundaries for the constant-block corpus, which the SQL oracle
    * replays). Same mapPartitions batch shape as the other codecs. */
  private def featuresOf(d: Long, img: JpegImage): JpegFeatures = {
    var sy = 0L; var scb = 0L; var scr = 0L; var grad = 0L
    var i = 0
    while (i < img.yPlane.length) {
      sy += img.yPlane(i); scb += img.cbPlane(i); scr += img.crPlane(i)
      i += 1
    }
    var y = 0
    while (y < img.height) {
      var x = 1
      while (x < img.width) {
        grad += math.abs(img.yPlane(y * img.width + x) -
          img.yPlane(y * img.width + x - 1))
        x += 1
      }
      y += 1
    }
    JpegFeatures(d, img.width, img.height, sy, scb, scr, grad)
  }

  def jpegFeatures(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, functions => F}
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[JpegFeatures]
    docs.select(F.col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(d => featuresOf(d, decode(synthJpegBytes(d)))))
      .toDF()
  }

  /** Features over the 4:2:0 path — full encode420/decode round trip,
    * still bit-exact by construction (see [[synthPlanes420]]). */
  def jpeg420Features(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, functions => F}
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[JpegFeatures]
    docs.select(F.col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(d => featuresOf(d, decode(synthJpeg420Bytes(d)))))
      .toDF()
  }
}
