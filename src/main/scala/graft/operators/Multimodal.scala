package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column support for training-data
  * pipelines (SURVEY.md §2 row 38).
  *
  * Media are opaque `binary` payloads plus a typed metadata struct; the
  * decode/feature-extract step runs batch-wise inside executors via
  * `mapPartitions` over a typed Dataset (the Scala analogue of a
  * vectorized pandas UDF: one JVM call per partition, tight loop per
  * batch, no per-row SerDe to a foreign runtime).
  *
  * REAL codecs: RIFF/WAVE PCM audio, 24-bit BMP images (+ nearest-
  * neighbor resize), the GVID frame container, PNG (zlib-compressed,
  * all five scanline filters, CRC-checked chunks — java.util.zip
  * supplies the deflate layer), and baseline JPEG (operators.Jpeg —
  * full sequential-DCT entropy layer), and MP4 (ISO BMFF box tree +
  * complete stsd/stts/stsc/stsz/stco sample table, below). Only
  * payloads needing external DSP codec libraries (H.264/MP3 bit
  * streams) keep a stub: the MP4 track carries BMP frames under a
  * private sample entry, and `decodeStub` remains for opaque bytes.
  * The Spark-side plumbing (binary schema, typed rows, per-partition
  * batch shape) is identical across stub and real paths, so swapping
  * in a codec call (e.g. libavcodec via JNI) is local.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
                           checksum: Long, width: Long, height: Long)

  /** Wrap a documents table into a media table: binary payload (UTF-8
    * bytes stand in for encoded media) + modality metadata. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))

  /** Deterministic fake decode: polynomial checksum over the payload
    * bytes; "decoded" dimensions derived from it. Replace with a real
    * codec for production. */
  private def decodeStub(r: MediaRow): MediaFeatures = {
    var h = 0L
    var i = 0
    while (i < r.payload.length) {
      h = (h * 131 + (r.payload(i) & 0xff)) % 1000000007L
      i += 1
    }
    MediaFeatures(r.doc_id, r.kind, r.payload.length.toLong, h,
      width = 16 + (h % 16), height = 16 + ((h / 16) % 16))
  }

  /** Batch feature extraction over the media table. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val encIn = Encoders.product[MediaRow]
    media.as[MediaRow].mapPartitions(_.map(decodeStub))
  }

  // ---------------------------------------------------------------
  // REAL media decode: RIFF/WAVE 16-bit PCM. Unlike decodeStub above,
  // this is an actual audio container parser — deterministic synthetic
  // PCM is encoded to genuine WAV bytes and decoded back by walking
  // RIFF chunks, so the "media" column carries a real format and the
  // features come from real decoded samples. No external codec needed:
  // WAV/PCM is pure byte layout. (PNG below covers the compressed
  // case via the JDK's zlib; JPEG/MP3/MP4 remain the documented stub —
  // their codecs aren't in the JDK.)
  // ---------------------------------------------------------------

  case class WavRow(doc_id: Long, payload: Array[Byte])
  case class WavFeatures(doc_id: Long, n_samples: Long, sample_rate: Long,
                         duration_ms: Long, sum_sq: Long, peak: Long)

  /** Deterministic synthetic 16-bit PCM sample i of document d —
    * exact integer arithmetic so an engine-independent oracle can
    * replay the decoded features analytically. */
  private def pcmSample(d: Long, i: Long): Int =
    (((d * 31 + i * 17) % 2003) - 1001).toInt

  /** Encode document `docId`'s synthetic audio as a REAL WAV file:
    * RIFF header, fmt chunk (PCM, mono, 8 kHz, 16-bit), data chunk of
    * little-endian samples. 256 + docId % 256 samples. */
  def synthWavBytes(docId: Long): Array[Byte] = {
    val n = (256 + docId % 256).toInt
    val dataBytes = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(1) // mono
    bb.putInt(8000) // sample rate
    bb.putInt(8000 * 2) // byte rate
    bb.putShort(2) // block align
    bb.putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < n) { bb.putShort(pcmSample(docId, i).toShort); i += 1 }
    bb.array()
  }

  /** WAV with PLANTED SILENCE: the same RIFF container as
    * [[synthWavBytes]], but every 64-sample frame f with
    * (docId + f) % 5 < 2 is zeroed — deterministic speech/silence
    * alternation so the VAD segmentation path has genuine gaps to
    * find (the corpus's pseudo-noise samples are otherwise uniformly
    * energetic; the CSV/unicode planting move). */
  def synthWavVadBytes(docId: Long): Array[Byte] = {
    val n = (256 + docId % 256).toInt
    val dataBytes = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1)
    bb.putShort(1)
    bb.putInt(8000)
    bb.putInt(8000 * 2)
    bb.putShort(2)
    bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < n) {
      val silenced = (docId + i / 64) % 5 < 2
      bb.putShort(if (silenced) 0 else pcmSample(docId, i).toShort)
      i += 1
    }
    bb.array()
  }

  /** REAL WAV decode: walk the RIFF chunk list (every chunk is stepped
    * over by its declared length plus the pad byte RIFF adds after an
    * odd length; unknown chunks are skipped), validate the fmt chunk
    * (PCM / mono / 16-bit), and read the one data chunk's
    * little-endian samples. Malformed input fails loudly with the
    * offending reason. Returns (sample_rate, samples). */
  def decodeWavSamples(payload: Array[Byte]): (Long, Array[Short]) = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def str4(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    require(bb.remaining() >= 12, "wav: truncated header")
    require(str4() == "RIFF", "wav: missing RIFF magic")
    bb.getInt // declared riff payload length (unchecked: stream-style)
    require(str4() == "WAVE", "wav: not a WAVE form")
    var sampleRate = 0L
    var samples: Array[Short] = null
    var seenFmt = false
    while (bb.remaining() >= 8) {
      val id = str4()
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining(), s"wav: bad $id chunk length")
      val next = math.min(bb.position() + len + (len & 1), bb.limit())
      id match {
        case "fmt " =>
          require(len >= 16, "wav: short fmt chunk")
          val fmt = bb.getShort()
          val channels = bb.getShort()
          sampleRate = bb.getInt().toLong
          bb.getInt() // byte rate
          bb.getShort() // block align
          val bits = bb.getShort()
          require(fmt == 1, s"wav: not PCM (fmt=$fmt)")
          require(channels == 1, s"wav: not mono (channels=$channels)")
          require(bits == 16, s"wav: not 16-bit (bits=$bits)")
          seenFmt = true
        case "data" =>
          require(seenFmt, "wav: data chunk before fmt")
          require(samples == null, "wav: second data chunk")
          samples = new Array[Short](len / 2)
          var i = 0
          while (i < samples.length) { samples(i) = bb.getShort(); i += 1 }
        case _ => // unknown chunk: skipped
      }
      bb.position(next)
    }
    require(samples != null, "wav: no data chunk")
    (sampleRate, samples)
  }

  /** [[decodeWavSamples]] folded to sample statistics: (n_samples,
    * sample_rate, sum of squared samples, peak |sample|). */
  def decodeWav(payload: Array[Byte]): (Long, Long, Long, Long) = {
    val (sampleRate, samples) = decodeWavSamples(payload)
    var sumSq = 0L
    var peak = 0L
    for (v <- samples) {
      val s = v.toLong
      sumSq += s * s
      peak = math.max(peak, math.abs(s))
    }
    (samples.length.toLong, sampleRate, sumSq, peak)
  }

  /** documents -> real WAV media table (one genuine WAV payload per
    * doc), then decode back to audio features — the whole round trip
    * runs distributed, one tight JVM loop per partition. A feature row
    * hash-matches the analytic oracle ONLY if the encoder wrote a valid
    * container and the decoder read exactly the samples written. */
  def wavFeatures(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[WavFeatures]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val (n, sr, ss, pk) = decodeWav(synthWavBytes(d))
        WavFeatures(d, n, sr, n * 1000L / sr, ss, pk)
      }).toDF()
  }

  case class ResampleRow(doc_id: Long, n_in: Long, n_out: Long,
                         sum_abs_in: Long, sum_abs_out: Long,
                         checksum_out: Long)

  /** 8 kHz → 6 kHz linear-interpolation resample — the sample-rate
    * normalization an audio corpus runs before any model sees it
    * (training features assume ONE rate; crawled audio arrives at
    * many). Ratio 4/3 keeps every interpolation weight an exact third:
    * output j reads input position j·4/3, so y = (x_k·(3−r) +
    * x_{k+1}·r) / 3 with r = (4j) mod 3 — computed over +32768-shifted
    * non-negative ints so the integer division is unambiguous floor on
    * BOTH engines (JVM `/` truncates toward zero, DuckDB `//` floors;
    * they agree only on non-negative numerators — the §3 division rule
    * in the sample domain). Real WAV decode feeds it; the checksum
    * column pins every output sample, not just aggregate energy. */
  def resampleFeatures(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encR = Encoders.product[ResampleRow]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val (_, xs) = decodeWavSamples(synthWavBytes(d))
        val n = xs.length
        val m = n * 3 / 4
        var sumAbsIn = 0L
        var i = 0
        while (i < n) { sumAbsIn += math.abs(xs(i).toLong); i += 1 }
        var sumAbsOut = 0L
        var checksum = 0L
        var j = 0
        while (j < m) {
          val p = j * 4
          val k = p / 3
          val r = p % 3
          val ua = xs(k) + 32768
          val ub = (if (k + 1 < n) xs(k + 1) else xs(k)) + 32768
          val y = (ua * (3 - r) + ub * r) / 3 - 32768
          sumAbsOut += math.abs(y.toLong)
          checksum += y.toLong * (1 + j % 5)
          j += 1
        }
        ResampleRow(d, n.toLong, m.toLong, sumAbsIn, sumAbsOut, checksum)
      }).toDF()
  }

  case class WavFrame(doc_id: Long, frame_idx: Long, energy: Long,
                      zcr: Long, peak: Long)

  /** Frame-level audio features over REAL decoded WAV samples — the
    * VAD/speech-pipeline shape: the clip splits into fixed 64-sample
    * frames (incomplete tail dropped) and each frame reports energy
    * (sum of squares), zero-crossing count (sign transitions, s >= 0 vs
    * s < 0) and peak |sample| — exact integers an analytic oracle
    * replays from the synth formula. One clip per row in, one frame per
    * row out, all distributed. */
  def wavFrameFeatures(docs: DataFrame, frameLen: Int = 64): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[WavFrame]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val (_, s) = decodeWavSamples(synthWavBytes(d))
        val nFrames = s.length / frameLen
        Iterator.range(0, nFrames).map { f =>
          var energy = 0L
          var zcr = 0L
          var peak = 0L
          var i = 0
          while (i < frameLen) {
            val v = s(f * frameLen + i).toLong
            energy += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i > 0 && ((v >= 0) != (s(f * frameLen + i - 1) >= 0)))
              zcr += 1
            i += 1
          }
          WavFrame(d, f.toLong, energy, zcr, peak)
        }
      }).toDF()
  }

  /** Per-frame energies over the silence-planted VAD corpus
    * ([[synthWavVadBytes]]): decoded by the real WAV parser, one row
    * per full 64-sample frame. The segmentation itself
    * (gaps-and-islands over speech frames) happens in DataFrame land
    * so the window arithmetic is oracle-replayable. */
  def wavVadFrames(docs: DataFrame, frameLen: Int = 64): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[WavFrame]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val (_, s) = decodeWavSamples(synthWavVadBytes(d))
        val nFrames = s.length / frameLen
        Iterator.range(0, nFrames).map { f =>
          var energy = 0L
          var zcr = 0L
          var peak = 0L
          var i = 0
          while (i < frameLen) {
            val v = s(f * frameLen + i).toLong
            energy += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i > 0 && ((v >= 0) != (s(f * frameLen + i - 1) >= 0)))
              zcr += 1
            i += 1
          }
          WavFrame(d, f.toLong, energy, zcr, peak)
        }
      }).toDF()
  }

  // ---------------------------------------------------------------
  // REAL image decode: 24-bit uncompressed BMP (BITMAPFILEHEADER +
  // BITMAPINFOHEADER + bottom-up BGR rows padded to 4 bytes). Like the
  // WAV path, deterministic synthetic pixels are encoded into a
  // genuine container and decoded back by a real parser, then a REAL
  // nearest-neighbor resize runs on the decoded pixels — decode,
  // feature-extract and resize are all actual image operations, and
  // the analytic oracle catches any byte-layout drift (padding,
  // bottom-up row order, BGR channel order are all load-bearing).
  // ---------------------------------------------------------------

  case class BmpImage(width: Int, height: Int, rgb: Array[Int])
  case class BmpFeatures(doc_id: Long, width: Long, height: Long,
                         sum_r: Long, sum_g: Long, sum_b: Long,
                         rwidth: Long, rheight: Long,
                         rsum_r: Long, rsum_g: Long, rsum_b: Long)

  private def pxR(d: Long, x: Int, y: Int): Int =
    ((d * 3 + x * 29 + y * 23) % 256).toInt
  private def pxG(d: Long, x: Int, y: Int): Int =
    ((d * 11 + x * 17 + y * 5) % 256).toInt
  private def pxB(d: Long, x: Int, y: Int): Int =
    ((d * 7 + x * 13 + y * 31) % 256).toInt

  /** 24-bit BI_RGB BMP container writer: 54-byte header, bottom-up
    * 4-byte-padded BGR rows. `rgb(x, y)` supplies (r, g, b) for the
    * TOP-DOWN pixel grid; the writer does the flip. Shared by the
    * per-doc synthetic corpus and [[graft.operators.ImageHash]]'s
    * group-keyed near-dup corpus. */
  def writeBmp24(w: Int, h: Int,
                 rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val imgSize = (rowBytes + pad) * h
    val bb = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(54 + imgSize).putInt(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h)
    bb.putShort(1).putShort(24)
    bb.putInt(0) // BI_RGB
    bb.putInt(imgSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy // file rows are bottom-up
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(x, y)
        bb.put(b.toByte)
        bb.put(g.toByte)
        bb.put(r.toByte)
        x += 1
      }
      var p = 0
      while (p < pad) { bb.put(0.toByte); p += 1 }
      fy += 1
    }
    bb.array()
  }

  /** Encode document `docId`'s synthetic image as a REAL BMP file:
    * 8..16 px wide (exercising every 4-byte row-padding case) by
    * 8..12 px tall, 24-bit BI_RGB, bottom-up BGR rows. */
  def synthBmpBytes(docId: Long): Array[Byte] = {
    val w = (8 + docId % 9).toInt
    val h = (8 + docId % 5).toInt
    writeBmp24(w, h, (x, y) =>
      (pxR(docId, x, y), pxG(docId, x, y), pxB(docId, x, y)))
  }

  /** REAL BMP decode: header validation (magic, 24-bit, BI_RGB,
    * positive dims), seek to the declared pixel offset, un-flip the
    * bottom-up padded BGR rows into a top-down RGB pixel array.
    * Malformed input fails loudly. */
  def decodeBmp(payload: Array[Byte]): BmpImage = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 54, "bmp: truncated header")
    require(bb.get() == 'B'.toByte && bb.get() == 'M'.toByte,
      "bmp: missing BM magic")
    bb.getInt // declared file size
    bb.getInt // reserved
    val offset = bb.getInt
    val biSize = bb.getInt
    require(biSize >= 40, s"bmp: unsupported header size $biSize")
    val w = bb.getInt
    val h = bb.getInt
    require(w > 0 && h > 0, s"bmp: bad dimensions ${w}x$h")
    bb.getShort // planes
    val bits = bb.getShort
    require(bits == 24, s"bmp: not 24-bit (bits=$bits)")
    val compression = bb.getInt
    require(compression == 0, s"bmp: compressed (type=$compression)")
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    require(offset >= 54 && offset.toLong + (rowBytes + pad).toLong * h
      <= payload.length, "bmp: pixel data out of bounds")
    bb.position(offset)
    val rgb = new Array[Int](w * h * 3)
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy
      var x = 0
      while (x < w) {
        val b = bb.get() & 0xff
        val g = bb.get() & 0xff
        val r = bb.get() & 0xff
        val base = (y * w + x) * 3
        rgb(base) = r; rgb(base + 1) = g; rgb(base + 2) = b
        x += 1
      }
      bb.position(bb.position() + pad)
      fy += 1
    }
    BmpImage(w, h, rgb)
  }

  /** REAL nearest-neighbor downsample by `factor` on decoded pixels:
    * out(x, y) = in(factor*x, factor*y). */
  def resizeNearest(img: BmpImage, factor: Int): BmpImage = {
    val rw = img.width / factor
    val rh = img.height / factor
    val out = new Array[Int](rw * rh * 3)
    var y = 0
    while (y < rh) {
      var x = 0
      while (x < rw) {
        val src = ((y * factor) * img.width + x * factor) * 3
        val dst = (y * rw + x) * 3
        out(dst) = img.rgb(src)
        out(dst + 1) = img.rgb(src + 1)
        out(dst + 2) = img.rgb(src + 2)
        x += 1
      }
      y += 1
    }
    BmpImage(rw, rh, out)
  }

  private def channelSums(img: BmpImage): (Long, Long, Long) = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    while (i < img.rgb.length) {
      r += img.rgb(i); g += img.rgb(i + 1); b += img.rgb(i + 2)
      i += 3
    }
    (r, g, b)
  }

  /** documents -> real BMP encode -> real decode -> channel features of
    * the full image AND of a real 2x nearest-neighbor downsample, all
    * distributed. Hash-matches the analytic oracle only if padding,
    * bottom-up row order, BGR ordering and the resize sampling grid are
    * all byte-exact. */
  def bmpFeatures(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[BmpFeatures]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val img = decodeBmp(synthBmpBytes(d))
        val (r, g, b) = channelSums(img)
        val small = resizeNearest(img, 2)
        val (rr, rg, rb) = channelSums(small)
        BmpFeatures(d, img.width, img.height, r, g, b,
          small.width, small.height, rr, rg, rb)
      }).toDF()
  }

  case class AugRow(doc_id: Long, variant: String, width: Long,
                    height: Long, sum_r: Long, wsum_r: Long)

  /** Horizontal flip on decoded pixels. */
  def flipH(img: BmpImage): BmpImage = {
    val out = new Array[Int](img.rgb.length)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val src = (y * img.width + (img.width - 1 - x)) * 3
        val dst = (y * img.width + x) * 3
        out(dst) = img.rgb(src)
        out(dst + 1) = img.rgb(src + 1)
        out(dst + 2) = img.rgb(src + 2)
        x += 1
      }
      y += 1
    }
    BmpImage(img.width, img.height, out)
  }

  /** 90° clockwise rotation: out(x, y) = in(y, h-1-x); dims swap. */
  def rot90(img: BmpImage): BmpImage = {
    val out = new Array[Int](img.rgb.length)
    val rw = img.height
    val rh = img.width
    var y = 0
    while (y < rh) {
      var x = 0
      while (x < rw) {
        val src = ((img.height - 1 - x) * img.width + y) * 3
        val dst = (y * rw + x) * 3
        out(dst) = img.rgb(src)
        out(dst + 1) = img.rgb(src + 1)
        out(dst + 2) = img.rgb(src + 2)
        x += 1
      }
      y += 1
    }
    BmpImage(rw, rh, out)
  }

  /** Center crop to cw x ch (top-left at ((w-cw)/2, (h-ch)/2)). */
  def centerCrop(img: BmpImage, cw: Int, ch: Int): BmpImage = {
    val x0 = (img.width - cw) / 2
    val y0 = (img.height - ch) / 2
    val out = new Array[Int](cw * ch * 3)
    var y = 0
    while (y < ch) {
      var x = 0
      while (x < cw) {
        val src = ((y0 + y) * img.width + x0 + x) * 3
        val dst = (y * cw + x) * 3
        out(dst) = img.rgb(src)
        out(dst + 1) = img.rgb(src + 1)
        out(dst + 2) = img.rgb(src + 2)
        x += 1
      }
      y += 1
    }
    BmpImage(cw, ch, out)
  }

  /** Image AUGMENTATION over real decoded pixels — the training-side
    * transform stage: horizontal flip, 90° clockwise rotation and a
    * 4x4 center crop of each document's BMP. Plain channel sums are
    * flip/rotation-INVARIANT, so each variant also reports the
    * position-weighted red checksum Σ (y*w + x + 1)·r in its own
    * coordinate frame — wrong geometry cannot hash-match. */
  def augmentFeatures(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[AugRow]
    def row(d: Long, v: String, img: BmpImage): AugRow = {
      var sum = 0L
      var wsum = 0L
      var y = 0
      while (y < img.height) {
        var x = 0
        while (x < img.width) {
          val r = img.rgb((y * img.width + x) * 3)
          sum += r
          wsum += (y.toLong * img.width + x + 1) * r
          x += 1
        }
        y += 1
      }
      AugRow(d, v, img.width, img.height, sum, wsum)
    }
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val img = decodeBmp(synthBmpBytes(d))
        Iterator(row(d, "orig", img), row(d, "flip", flipH(img)),
          row(d, "rot90", rot90(img)),
          row(d, "crop", centerCrop(img, 4, 4)))
      }).toDF()
  }

  // ---------------------------------------------------------------
  // REAL video container: "GVID" — a minimal uncompressed motion
  // format (magic, frame count, frame byte size, then N concatenated
  // REAL BMP frames). The frame-sampling path decodes every k-th
  // frame with the real BMP parser and extracts per-frame features —
  // the keyframe-sampling shape of a video curation pipeline, with
  // every byte of container + frame layout oracle-checked.
  // ---------------------------------------------------------------

  case class FrameFeatures(doc_id: Long, frame_idx: Long, width: Long,
                           height: Long, sum_r: Long, sum_g: Long,
                           sum_b: Long)

  /** Encode document `docId`'s synthetic clip as a GVID container:
    * 4..11 frames, each a REAL BMP whose pixel formulas shift with the
    * frame index (motion), all frames the same size so the index
    * header is (magic, n_frames, frame_bytes). */
  def synthVideoBytes(docId: Long): Array[Byte] = {
    val nFrames = (4 + docId % 8).toInt
    val frames = (0 until nFrames).map(f =>
      // frame f of doc d = image of synthetic doc (d * 131 + f * 17):
      // deterministic per-frame content drift, same dims per doc only
      // when the derived id keeps (id % 9, id % 5) constant — so frame
      // dims are pinned by re-deriving from docId alone below
      synthBmpBytes(docId * 45 + f * 45)) // 45 = lcm(9,5): dims constant
    val frameBytes = frames.head.length
    val bb = java.nio.ByteBuffer.allocate(12 + nFrames * frameBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GVID".getBytes("US-ASCII"))
    bb.putInt(nFrames).putInt(frameBytes)
    frames.foreach(bb.put)
    bb.array()
  }

  /** REAL frame-sampled video decode: validate the container header,
    * slice every `everyN`-th frame by the declared frame size, decode
    * each with the real BMP parser, and emit per-frame channel sums. */
  def decodeVideoFrames(docId: Long, payload: Array[Byte],
                        everyN: Int): Iterator[FrameFeatures] = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 12, "gvid: truncated header")
    val magic = new Array[Byte](4)
    bb.get(magic)
    require(new String(magic, "US-ASCII") == "GVID", "gvid: bad magic")
    val nFrames = bb.getInt
    val frameBytes = bb.getInt
    require(nFrames > 0 && frameBytes > 0, "gvid: bad frame table")
    require(12L + nFrames.toLong * frameBytes <= payload.length,
      "gvid: frames out of bounds")
    Iterator.range(0, nFrames).filter(_ % everyN == 0).map { f =>
      val frame = new Array[Byte](frameBytes)
      System.arraycopy(payload, 12 + f * frameBytes, frame, 0, frameBytes)
      val img = decodeBmp(frame)
      val (r, g, b) = channelSums(img)
      FrameFeatures(docId, f.toLong, img.width, img.height, r, g, b)
    }
  }

  /** Scene-structured clip: same GVID container, but frames belong to
    * SCENES of `3 + docId % 3` frames — within a scene every frame is
    * the same real BMP (scene id drives the pixel formulas), across a
    * cut the content jumps. The shape a keyframe selector exists for;
    * 12..17 frames per clip. */
  def synthSceneVideoBytes(docId: Long): Array[Byte] = {
    val nFrames = (12 + docId % 6).toInt
    val sceneLen = (3 + docId % 3).toInt
    val frames = (0 until nFrames).map(f =>
      synthBmpBytes(docId * 45 + (f / sceneLen).toLong * 45))
    val frameBytes = frames.head.length
    val bb = java.nio.ByteBuffer.allocate(12 + nFrames * frameBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GVID".getBytes("US-ASCII"))
    bb.putInt(nFrames).putInt(frameBytes)
    frames.foreach(bb.put)
    bb.array()
  }

  case class Keyframe(doc_id: Long, frame_idx: Long, diff_metric: Long,
                      is_keyframe: Boolean, n_keyframes: Long)

  /** Keyframe selection by scene-change detection — the frame-sample
    * step a video curation pipeline runs INSTEAD of row 38's blind
    * every-Nth sampling (which pays for near-duplicate frames and
    * misses short scenes): decode ALL frames with the real BMP parser,
    * score consecutive-frame change as the L1 distance of channel
    * sums, keep frame 0 plus every frame whose change is nonzero.
    * Entirely row-local (one clip per row, the diff chain lives inside
    * the iterator — no window, no shuffle); the oracle reproduces the
    * channel sums analytically from the generator formulas and replays
    * the diff/flag chain in SQL. */
  def videoKeyframes(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encK = Encoders.product[Keyframe]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        val fr = decodeVideoFrames(d, synthSceneVideoBytes(d), 1).toArray
        val rows = fr.zipWithIndex.map { case (f, i) =>
          val diff = if (i == 0) 0L
          else math.abs(f.sum_r - fr(i - 1).sum_r) +
            math.abs(f.sum_g - fr(i - 1).sum_g) +
            math.abs(f.sum_b - fr(i - 1).sum_b)
          (f.frame_idx, diff, i == 0 || diff > 0L)
        }
        val nk = rows.count(_._3).toLong
        rows.iterator.map(r => Keyframe(d, r._1, r._2, r._3, nk))
      }).toDF()
  }

  /** documents -> real GVID encode -> frame-sampled real decode (every
    * 2nd frame), distributed one clip per row, exploding to one row
    * per sampled frame. */
  def videoFrameFeatures(docs: DataFrame, everyN: Int = 2): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[FrameFeatures]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        decodeVideoFrames(d, synthVideoBytes(d), everyN)
      }).toDF()
  }

  // ---------------------------------------------------------------
  // REAL compressed image decode: PNG (RFC 2083), truecolor 8-bit.
  // The one genuinely-compressed format implementable without codec
  // libraries: zlib IS in the JDK (java.util.zip, owned by Deflate),
  // and everything else — signature, length/type/CRC chunk framing,
  // IHDR, scanline filters — is pure public-spec byte walking, same
  // discipline as the WAV/BMP codecs above. The encoder cycles ALL
  // FIVE filter types (row y uses filter y % 5) and splits the zlib
  // stream across two IDAT chunks, so a hash-green round trip proves
  // real deflate/inflate, chunk CRC validation, multi-IDAT
  // concatenation, and every unfilter path (None/Sub/Up/Average/
  // Paeth) byte-exact.
  // ---------------------------------------------------------------

  case class PngFeatures(doc_id: Long, width: Long, height: Long,
                         sum_r: Long, sum_g: Long, sum_b: Long,
                         grad_r: Long)

  private def pngR(d: Long, x: Int, y: Int): Int =
    ((d * 5 + x * 19 + y * 37) % 256).toInt
  private def pngG(d: Long, x: Int, y: Int): Int =
    ((d * 23 + x * 7 + y * 11) % 256).toInt
  private def pngB(d: Long, x: Int, y: Int): Int =
    ((d * 13 + x * 3 + y * 29) % 256).toInt

  /** Paeth predictor (PNG spec §6.6). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue.toInt
  }

  /** Encode document `docId`'s synthetic image as a REAL PNG: 8-bit
    * truecolor, 12..18 px wide by 9..14 px tall, scanline filters
    * cycling None/Sub/Up/Average/Paeth by row, zlib-deflated pixel
    * stream split across TWO IDAT chunks, CRC on every chunk. */
  def synthPngBytes(docId: Long): Array[Byte] = {
    val w = (12 + docId % 7).toInt
    val h = (9 + docId % 6).toInt
    val bpp = 3
    val stride = w * bpp
    // raw top-down RGB scanlines
    val raw = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = y * stride + x * bpp
        raw(o) = pngR(docId, x, y).toByte
        raw(o + 1) = pngG(docId, x, y).toByte
        raw(o + 2) = pngB(docId, x, y).toByte
        x += 1
      }
      y += 1
    }
    // filtered stream: one filter-type byte + filtered bytes per row
    val filtered = new Array[Byte](h * (1 + stride))
    y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var i = 0
      while (i < stride) {
        val cur = raw(y * stride + i) & 0xff
        val left = if (i >= bpp) raw(y * stride + i - bpp) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + i) & 0xff else 0
        val ul = if (y > 0 && i >= bpp) raw((y - 1) * stride + i - bpp) & 0xff
                 else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        filtered(y * (1 + stride) + 1 + i) = f.toByte
        i += 1
      }
      y += 1
    }
    // zlib-compress the filtered stream
    val z = Deflate.deflate(filtered)
    // chunk framing
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data)
        .putInt(crc32(t, data)).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, none
      .array()
    val split = z.length / 2 // two IDAT chunks: decoders must concatenate
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", java.util.Arrays.copyOfRange(z, 0, split)) ++
      chunk("IDAT", java.util.Arrays.copyOfRange(z, split, z.length)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** REAL PNG decode: signature check, chunk walk with CRC validation
    * on every chunk, IHDR validation (8-bit truecolor, deflate,
    * non-interlaced), multi-IDAT concatenation, zlib inflate, and
    * per-row unfiltering of all five filter types. Malformed input —
    * including a corrupted CRC — fails loudly. Returns top-down RGB
    * (reuses [[BmpImage]] as the decoded-pixels carrier). */
  def decodePng(payload: Array[Byte]): BmpImage = {
    require(payload.length >= 8, "png: truncated signature")
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    require(java.util.Arrays.equals(
      java.util.Arrays.copyOf(payload, 8), sig), "png: bad signature")
    val bb = java.nio.ByteBuffer.wrap(payload, 8, payload.length - 8)
    var w = 0; var h = 0; var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      require(bb.remaining() >= 12, "png: truncated chunk")
      val len = bb.getInt
      require(len >= 0 && len <= bb.remaining() - 8, "png: bad chunk length")
      val t = new Array[Byte](4); bb.get(t)
      val typ = new String(t, "US-ASCII")
      val data = new Array[Byte](len); bb.get(data)
      require(bb.getInt == crc32(t, data), s"png: bad CRC on $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, "png: bad IHDR length")
          val ib = java.nio.ByteBuffer.wrap(data)
          w = ib.getInt; h = ib.getInt
          require(w > 0 && h > 0, s"png: bad dimensions ${w}x$h")
          val (depth, color) = (ib.get(), ib.get())
          require(depth == 8, s"png: unsupported bit depth $depth")
          require(color == 2, s"png: unsupported color type $color")
          require(ib.get() == 0 && ib.get() == 0 && ib.get() == 0,
            "png: unsupported compression/filter/interlace")
          seenIhdr = true
        case "IDAT" =>
          require(seenIhdr, "png: IDAT before IHDR")
          idat.write(data)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunk: CRC checked, content skipped
      }
    }
    require(seenIhdr, "png: no IHDR")
    val bpp = 3
    val stride = w * bpp
    // zlib inflate of the concatenated IDAT stream
    val z = idat.toByteArray
    val filtered = Deflate.inflate(z, 0, z.length)._1
    require(filtered.length >= h * (1 + stride), "png: short pixel stream")
    // unfilter into top-down RGB
    val rgb = new Array[Int](w * h * 3)
    val prior = new Array[Int](stride)
    val cur = new Array[Int](stride)
    var y = 0
    while (y < h) {
      val ft = filtered(y * (1 + stride)) & 0xff
      require(ft <= 4, s"png: bad filter type $ft")
      var i = 0
      while (i < stride) {
        val f = filtered(y * (1 + stride) + 1 + i) & 0xff
        val left = if (i >= bpp) cur(i - bpp) else 0
        val up = prior(i)
        val ul = if (i >= bpp) prior(i - bpp) else 0
        cur(i) = ft match {
          case 0 => f
          case 1 => (f + left) & 0xff
          case 2 => (f + up) & 0xff
          case 3 => (f + (left + up) / 2) & 0xff
          case 4 => (f + paeth(left, up, ul)) & 0xff
        }
        rgb(y * stride + i) = cur(i)
        i += 1
      }
      System.arraycopy(cur, 0, prior, 0, stride)
      y += 1
    }
    BmpImage(w, h, rgb)
  }

  /** documents -> real PNG encode -> real decode -> channel sums plus a
    * horizontal-gradient feature (sum of |r(x,y) - r(x-1,y)|), all
    * distributed. The gradient term makes pixel ADJACENCY load-bearing:
    * a decoder that got row order or any unfilter path wrong could
    * still match plain channel sums, but not the gradient. */
  def pngFeatures(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[PngFeatures]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val img = decodePng(synthPngBytes(d))
        val (r, g, b) = channelSums(img)
        var grad = 0L
        var y = 0
        while (y < img.height) {
          var x = 1
          while (x < img.width) {
            val o = (y * img.width + x) * 3
            grad += math.abs(img.rgb(o) - img.rgb(o - 3))
            x += 1
          }
          y += 1
        }
        PngFeatures(d, img.width, img.height, r, g, b, grad)
      }).toDF()
  }

  // ---------------------------------------------------------------
  // REAL MP4 container: ISO BMFF (ISO/IEC 14496-12). The box grammar —
  // 32-bit size + fourcc, nested containers, full-box version/flags —
  // and the sample-table machinery (stsd/stts/stsc/stsz/stco) are pure
  // public-spec byte walking, same discipline as the WAV/BMP/PNG
  // codecs. The writer emits a genuine ftyp/moov/mdat file whose track
  // carries REAL BMP frames as samples under a private 'gbmp' sample
  // entry (an H.264 payload would need a DSP codec; the CONTAINER
  // layer, which is what a curation pipeline's frame sampler actually
  // walks, is fully real). Sample sizes VARY per frame and samples are
  // grouped two-per-chunk with a possible short last chunk, so
  // stsz/stsc/stco are all load-bearing: a decoder that mis-walks any
  // of them slices the wrong bytes and the BMP parse fails or the
  // channel sums drift. decodeMp4Frames walks the real box tree
  // (skipping unknown boxes by declared size, handling 64-bit
  // largesize), reconstructs per-sample absolute offsets from the
  // chunk map, and frame-samples every k-th sample.
  // ---------------------------------------------------------------

  case class Mp4Frame(doc_id: Long, sample_idx: Long, n_samples: Long,
                      duration_ms: Long, sample_bytes: Long, width: Long,
                      height: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** ISO BMFF box: uint32 size + fourcc + payload. */
  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val len = 8 + payload.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(len)
    bb.putInt(len).put(typ.getBytes("US-ASCII"))
    payload.foreach(bb.put)
    bb.array()
  }

  /** Full box payload prefix: version + 24-bit flags. */
  private def vflags(version: Int, flags: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt((version << 24) | flags).array()

  private def be32(vs: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
    vs.foreach(bb.putInt)
    bb.array()
  }

  /** Encode document `docId`'s clip as a REAL MP4: ftyp(isom), moov
    * with a full video track — mvhd/tkhd, mdhd at timescale 1000,
    * hdlr('vide'), vmhd/dinf/dref, and a complete sample table: stsd
    * ('gbmp' sample entry), stts (n samples x 40 ms), stsc (2 samples
    * per chunk, short last chunk when n is odd), stsz (per-sample
    * sizes — frames are REAL BMPs of varying dimensions), stco
    * (absolute chunk offsets into mdat) — then mdat with the
    * concatenated frames. 3..8 samples; frame f carries the pixels of
    * synthetic BMP id (docId + 7f). */
  def synthMp4Bytes(docId: Long): Array[Byte] = {
    val n = (3 + docId % 6).toInt
    val frames = (0 until n).map(f => synthBmpBytes(docId + 7L * f))
    val sizes = frames.map(_.length)
    val nChunks = (n + 1) / 2
    val dur = n * 40

    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(0x200),
      "isomiso2".getBytes("US-ASCII"))

    def moovOf(chunkOffsets: Seq[Int]): Array[Byte] = {
      val matrix = be32(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
      val mvhd = box("mvhd", vflags(0, 0), be32(0, 0, 1000, dur),
        be32(0x10000), Array[Byte](1, 0, 0, 0), be32(0, 0), matrix,
        be32(0, 0, 0, 0, 0, 0), be32(2))
      val tkhd = box("tkhd", vflags(0, 7), be32(0, 0, 1, 0, dur),
        be32(0, 0), be32(0, 0), matrix, be32(0, 0))
      val mdhd = box("mdhd", vflags(0, 0), be32(0, 0, 1000, dur),
        Array[Byte](0x55, (0xc4 - 256).toByte, 0, 0))
      val hdlr = box("hdlr", vflags(0, 0), be32(0),
        "vide".getBytes("US-ASCII"), be32(0, 0, 0),
        "graft\u0000".getBytes("US-ASCII"))
      val vmhd = box("vmhd", vflags(0, 1), new Array[Byte](8))
      val dref = box("dref", vflags(0, 0), be32(1),
        box("url ", vflags(0, 1)))
      val dinf = box("dinf", dref)
      // minimal SampleEntry: 6 reserved bytes + uint16 data-ref index
      val entry = box("gbmp", new Array[Byte](6), Array[Byte](0, 1))
      val stsd = box("stsd", vflags(0, 0), be32(1), entry)
      val stts = box("stts", vflags(0, 0), be32(1, n, 40))
      val stscEntries =
        if (n % 2 == 0) be32(1, 1, 2, 1)
        else be32(2, 1, 2, 1, nChunks, 1, 1)
      val stsc = box("stsc", vflags(0, 0), stscEntries)
      val stsz = box("stsz", vflags(0, 0), be32(0, n), be32(sizes: _*))
      val stco = box("stco", vflags(0, 0), be32(nChunks),
        be32(chunkOffsets.map(o => o): _*))
      val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
      val minf = box("minf", vmhd, dinf, stbl)
      val mdia = box("mdia", mdhd, hdlr, minf)
      val trak = box("trak", tkhd, mdia)
      box("moov", mvhd, trak)
    }

    // moov's length is independent of the offset VALUES (fixed-width
    // uint32s), so build once with zeros to learn the length, then
    // rebuild with real absolute offsets.
    val moovLen = moovOf(Seq.fill(nChunks)(0)).length
    val mdatStart = ftyp.length + moovLen + 8
    val chunkOffsets = (0 until nChunks).map { c =>
      mdatStart + sizes.take(c * 2).sum
    }
    val moov = moovOf(chunkOffsets)
    val mdat = box("mdat", frames: _*)
    ftyp ++ moov ++ mdat
  }

  /** Walk the children of an ISO BMFF byte range: returns (fourcc,
    * payload-start, payload-end) triples, skipping every box by its
    * declared size (64-bit largesize handled). Malformed sizes fail
    * loudly. */
  private def walkBoxes(buf: Array[Byte], from: Int,
                        until: Int): Seq[(String, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    var p = from
    while (p < until) {
      require(p + 8 <= until, "mp4: truncated box header")
      val bb = java.nio.ByteBuffer.wrap(buf, p, until - p)
      val size32 = bb.getInt
      val typ = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      val (hdr, size) =
        if (size32 == 1) { require(p + 16 <= until, "mp4: truncated largesize")
          (16, bb.getLong) }
        else (8, size32.toLong)
      require(size >= hdr && p + size <= until, s"mp4: bad $typ box size")
      out += ((typ, p + hdr, p + size.toInt))
      p += size.toInt
    }
    out.toSeq
  }

  private def child(boxes: Seq[(String, Int, Int)],
                    typ: String): (Int, Int) =
    boxes.find(_._1 == typ) match {
      case Some((_, s, e)) => (s, e)
      case None => throw new IllegalArgumentException(s"mp4: no $typ box")
    }

  /** REAL frame-sampled MP4 decode: walk ftyp/moov/mdat, descend
    * moov > trak > mdia > minf > stbl, parse the full sample table
    * (stsd fourcc check, stts durations, stsz sizes, stsc chunk map,
    * stco offsets), reconstruct each sample's absolute byte range,
    * slice every `everyN`-th sample and decode it with the real BMP
    * parser. */
  def decodeMp4Frames(docId: Long, payload: Array[Byte],
                      everyN: Int): Iterator[Mp4Frame] = {
    val top = walkBoxes(payload, 0, payload.length)
    require(top.headOption.exists(_._1 == "ftyp"), "mp4: no leading ftyp")
    val (moovS, moovE) = child(top, "moov")
    val (mdatS, mdatE) = child(top, "mdat")
    val moov = walkBoxes(payload, moovS, moovE)
    val (trakS, trakE) = child(moov, "trak")
    val (mdiaS, mdiaE) = child(walkBoxes(payload, trakS, trakE), "mdia")
    val mdia = walkBoxes(payload, mdiaS, mdiaE)
    val (mdhdS, _) = child(mdia, "mdhd")
    val (minfS, minfE) = child(mdia, "minf")
    val (stblS, stblE) = child(walkBoxes(payload, minfS, minfE), "stbl")
    val stbl = walkBoxes(payload, stblS, stblE)

    def full(at: Int): java.nio.ByteBuffer = {
      val bb = java.nio.ByteBuffer.wrap(payload, at, payload.length - at)
      val vf = bb.getInt
      require((vf >>> 24) == 0, "mp4: unsupported box version")
      bb
    }
    // mdhd: timescale + duration
    val mb = full(mdhdS)
    mb.getInt; mb.getInt // creation, modification
    val timescale = mb.getInt
    val duration = mb.getInt
    require(timescale > 0, "mp4: bad timescale")
    // stsd: require our sample-entry fourcc
    val sd = full(child(stbl, "stsd")._1)
    require(sd.getInt == 1, "mp4: expected one sample entry")
    sd.getInt // entry size
    val fourcc = { val a = new Array[Byte](4); sd.get(a)
      new String(a, "US-ASCII") }
    require(fourcc == "gbmp", s"mp4: unsupported sample entry $fourcc")
    // stts: total sample count (sum over run-length entries)
    val tt = full(child(stbl, "stts")._1)
    val nStts = (0 until tt.getInt).map(_ => (tt.getInt, tt.getInt))
    val nSamples = nStts.map(_._1).sum
    // stsz: per-sample sizes (uniform-size shortcut honored)
    val sz = full(child(stbl, "stsz")._1)
    val uniform = sz.getInt
    val nSz = sz.getInt
    require(nSz == nSamples, "mp4: stsz/stts sample count mismatch")
    val sizes = if (uniform != 0) Array.fill(nSz)(uniform)
                else Array.fill(nSz)(sz.getInt)
    // stsc: (first_chunk, samples_per_chunk) map
    val sc = full(child(stbl, "stsc")._1)
    val stsc = (0 until sc.getInt).map { _ =>
      val fc = sc.getInt; val spc = sc.getInt; sc.getInt; (fc, spc)
    }
    require(stsc.nonEmpty && stsc.head._1 == 1, "mp4: bad stsc")
    // stco: chunk offsets
    val co = full(child(stbl, "stco")._1)
    val offsets = (0 until co.getInt).map(_ => co.getInt)
    // chunk map -> absolute per-sample offsets
    val sampleOff = new Array[Int](nSamples)
    var s = 0
    offsets.zipWithIndex.foreach { case (chunkOff, ci) =>
      val spc = stsc.takeWhile(_._1 <= ci + 1).last._2
      var off = chunkOff
      var i = 0
      while (i < spc && s < nSamples) {
        sampleOff(s) = off
        off += sizes(s)
        s += 1; i += 1
      }
    }
    require(s == nSamples, "mp4: chunk map covers too few samples")
    sampleOff.zip(sizes).foreach { case (o, len) =>
      require(o >= mdatS && o + len <= mdatE, "mp4: sample outside mdat")
    }
    val durMs = duration.toLong * 1000L / timescale
    Iterator.range(0, nSamples).filter(_ % everyN == 0).map { f =>
      val frame = java.util.Arrays.copyOfRange(
        payload, sampleOff(f), sampleOff(f) + sizes(f))
      val img = decodeBmp(frame)
      val (r, g, b) = channelSums(img)
      Mp4Frame(docId, f.toLong, nSamples.toLong, durMs, sizes(f).toLong,
        img.width, img.height, r, g, b)
    }
  }

  /** documents -> real MP4 encode -> box-tree + sample-table decode of
    * every 2nd sample, distributed one clip per row. */
  def mp4FrameFeatures(docs: DataFrame, everyN: Int = 2): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[Mp4Frame]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { d =>
        decodeMp4Frames(d, synthMp4Bytes(d), everyN)
      }).toDF()
  }

  // ---------------------------------------------------------------
  // REAL MP3 frame walker: MPEG-1 Audio Layer III framing (ISO/IEC
  // 11172-3). What an audio curation pipeline actually does to MP3s —
  // index, slice, measure duration/bitrate — needs the FRAME layer,
  // not the DSP payload: 11-bit sync, version/layer bits, the
  // bitrate-index and sample-rate tables, the padding bit, and the
  // frame-length formula 144*bitrate/samplerate + pad, plus skipping
  // a leading ID3v2 tag by its syncsafe length. All of that is real
  // here, over a VBR stream (bitrate index varies per frame, so the
  // walker's per-frame table lookups are load-bearing); only the
  // Huffman/IMDCT payload decode stays out (DSP, no codec libs).
  // ---------------------------------------------------------------

  case class Mp3Features(doc_id: Long, n_frames: Long, sample_rate: Long,
                         n_bytes: Long, sum_kbps: Long, duration_ms: Long)

  /** MPEG-1 Layer III bitrate table, kbps by bitrate index (index 0 =
    * "free" and 15 = forbidden are not writable). */
  private[operators] val Mp3Kbps = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320)
  private[operators] val Mp3Rates = Array(44100, 48000, 32000)

  /** Encode document `docId`'s synthetic audio as a REAL MP3 frame
    * stream: a leading ID3v2.3 tag (syncsafe length — walkers must
    * skip it), then 4..8 MPEG-1 Layer III frames with VARYING bitrate
    * index (VBR) and alternating padding bit; each frame is a genuine
    * 4-byte header + deterministic filler to the exact spec frame
    * length. */
  def synthMp3Bytes(docId: Long): Array[Byte] = {
    val n = (4 + docId % 5).toInt
    val srIdx = (docId % 3).toInt
    val sr = Mp3Rates(srIdx)
    val frames = (0 until n).map { i =>
      val brIdx = (1 + (docId + i) % 14).toInt
      val pad = ((docId + i) % 2).toInt
      val len = 144 * Mp3Kbps(brIdx) * 1000 / sr + pad
      val b = new Array[Byte](len)
      b(0) = 0xff.toByte
      b(1) = 0xfb.toByte // sync|11, MPEG-1 (11), Layer III (01), no CRC
      b(2) = ((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte
      b(3) = 0xc0.toByte // mono
      var j = 4
      while (j < len) {
        b(j) = ((docId * 31 + i * 17 + j) % 251).toByte
        j += 1
      }
      b
    }
    val id3len = 32
    val id3 = new Array[Byte](10 + id3len)
    "ID3".getBytes("US-ASCII").copyToArray(id3)
    id3(3) = 3 // v2.3
    id3(8) = (id3len >> 7).toByte
    id3(9) = (id3len & 0x7f).toByte
    var j = 10
    while (j < id3.length) { id3(j) = ((docId + j) % 127).toByte; j += 1 }
    id3 ++ frames.flatten
  }

  /** One MPEG-1 Layer III frame: byte offset, bitrate kbps, sample
    * rate and spec length 144*bitrate/samplerate + padding. */
  private[operators] final case class Mp3Frame(at: Int, kbps: Int, rate: Int,
                                               len: Int)

  /** REAL MP3 frame walk, the one of every MP3 reader: skip a leading
    * ID3v2 tag by its syncsafe size, then step frame to frame, checking
    * each header's sync bits, MPEG-1 / Layer III version bits, bitrate
    * index (0 "free" and 15 rejected) and sample-rate index (3
    * reserved), that the frame fits the payload, that the sample rate
    * never changes and that no bytes trail the last frame. Malformed
    * input fails loudly. */
  private[operators] def mp3Frames(payload: Array[Byte]): Seq[Mp3Frame] = {
    var p = 0
    if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D'
        && payload(2) == '3') {
      val size = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      p = 10 + size
      require(p <= payload.length, "mp3: ID3 tag overruns stream")
    }
    val frames = scala.collection.mutable.ArrayBuffer.empty[Mp3Frame]
    while (p + 4 <= payload.length) {
      require(payload(p) == 0xff.toByte
        && (payload(p + 1) & 0xe0) == 0xe0, "mp3: lost frame sync")
      val version = (payload(p + 1) >> 3) & 3
      val layer = (payload(p + 1) >> 1) & 3
      require(version == 3, s"mp3: not MPEG-1 (version bits $version)")
      require(layer == 1, s"mp3: not Layer III (layer bits $layer)")
      val brIdx = (payload(p + 2) >> 4) & 15
      val srIdx = (payload(p + 2) >> 2) & 3
      val pad = (payload(p + 2) >> 1) & 1
      require(brIdx >= 1 && brIdx <= 14, s"mp3: bad bitrate index $brIdx")
      require(srIdx != 3, "mp3: reserved sample-rate index")
      val sr = Mp3Rates(srIdx)
      val len = 144 * Mp3Kbps(brIdx) * 1000 / sr + pad
      require(p + len <= payload.length, "mp3: truncated frame")
      require(frames.isEmpty || frames.head.rate == sr,
        "mp3: sample rate changed")
      frames += Mp3Frame(p, Mp3Kbps(brIdx), sr, len)
      p += len
    }
    require(p == payload.length, "mp3: trailing garbage")
    require(frames.nonEmpty, "mp3: no frames")
    frames.toSeq
  }

  /** The [[mp3Frames]] walk summarized: (frame count, sample rate,
    * total kbps, bytes walked); duration follows from 1152 samples per
    * frame. */
  def walkMp3(payload: Array[Byte]): (Long, Long, Long, Long) = {
    val frames = mp3Frames(payload)
    (frames.length.toLong, frames.head.rate.toLong,
      frames.map(_.kbps.toLong).sum, payload.length.toLong)
  }

  /** documents -> real MP3 encode -> frame walk, distributed. 1152
    * samples per Layer III frame gives the exact integer duration. */
  def mp3Features(docs: DataFrame): DataFrame = {
    implicit val encL = Encoders.scalaLong
    implicit val encF = Encoders.product[Mp3Features]
    docs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { d =>
        val (n, sr, kbps, bytes) = walkMp3(synthMp3Bytes(d))
        Mp3Features(d, n, sr, bytes, kbps, n * 1152L * 1000L / sr)
      }).toDF()
  }
}
