package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bits, H264, Jpeg, Mp3, Multimodal}

/** Byte-level contracts of the codec writers and the loud-failure
  * policy of their decoders — plain functions, no Spark session. */
class CodecSpec extends AnyFunSuite {

  /** `b` with the `n` bits at bit offset `at` (most significant first)
    * set to `v`. */
  private def setBits(b: Array[Byte], at: Int, n: Int, v: Int): Array[Byte] = {
    val t = b.clone
    for (i <- 0 until n) {
      val p = at + i
      val mask = 0x80 >> (p & 7)
      val set = ((v >> (n - 1 - i)) & 1) == 1
      t(p >> 3) = (if (set) t(p >> 3) | mask else t(p >> 3) & ~mask).toByte
    }
    t
  }

  /** Offset of the first FF `m` marker in `b`. */
  private def markerAt(b: Array[Byte], m: Int): Int =
    b.indices.find(i => (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == m).get

  test("Bits: writes across byte boundaries, both pads and bounded " +
    "reads round-trip") {
    val w = new Bits.Writer
    w.put(5, 3); w.put(0x1abc, 13); w.put(1, 1)
    w.align(0)
    w.put(3, 2)
    w.align(1)
    val b = w.bytes
    assert(b.toSeq === Seq(0xba, 0xbc, 0x80, 0xff).map(_.toByte))
    val r = new Bits.Reader(b)
    assert(Seq(r.bits(3), r.bits(13), r.bit(), r.bits(7), r.bits(2),
      r.bits(6)) === Seq(5, 0x1abc, 1, 0, 3, 0x3f))
    intercept[IllegalArgumentException](r.bit())
    val mid = new Bits.Reader(b, 1, 2)
    assert(mid.bits(8) === 0xbc && mid.left === 0)
    intercept[IllegalArgumentException](mid.bit())
  }

  test("Bits: a prefix code round-trips its symbols and rejects " +
    "duplicate, prefix and unmatched codes") {
    // "0" -> 7, "10" -> 9; "11" is no code
    val code = new Bits.PrefixCode(Seq((0, 1, 7), (2, 2, 9)))
    val w = new Bits.Writer
    Seq(9, 7, 9).foreach(code.put(w, _))
    w.put(3, 2) // "11"
    w.align(0)
    val r = new Bits.Reader(w.bytes)
    assert(Seq(code.decode(r), code.decode(r), code.decode(r)) ===
      Seq(9, 7, 9))
    intercept[IllegalArgumentException](code.decode(r))
    for (bad <- Seq(Seq((0, 1, 1), (0, 1, 2)), Seq((1, 1, 1), (2, 2, 2)),
        Seq((2, 2, 1), (1, 1, 2)), Seq((2, 1, 1))))
      withClue(bad)(intercept[IllegalArgumentException](
        new Bits.PrefixCode(bad)))
  }

  test("H.264: the four streams' bytes for docs 0..999 are pinned") {
    // SHA-256 over every stream of every doc, stream by stream: a
    // writer refactor must not move a single bit
    val streams: Seq[Long => Array[Byte]] = Seq(H264.synthH264Bytes,
      H264.synthH264MbBytes, H264.synthH264AcBytes, H264.synthH264CbpBytes)
    val md = MessageDigest.getInstance("SHA-256")
    for (s <- streams; d <- 0L to 999L) md.update(s(d))
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hex ===
      "0f9097511b42c041f384f6877a4a691f42a5ef58f4ea88b0073db99ba9bfc8f1")
  }

  test("JPEG and MP3: the 4:4:4, 4:2:0 and coded MP3 bytes for docs " +
    "0..999 are pinned") {
    // one SHA-256 per writer, computed before the bit layer was shared
    def sha(s: Long => Array[Byte]): String = {
      val md = MessageDigest.getInstance("SHA-256")
      for (d <- 0L to 999L) md.update(s(d))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    assert(sha(Jpeg.synthJpegBytes) ===
      "04ca6e8518b182fe4c34484ba0e31a8fde0f34334eea7dc1fa88c3f4744e2867")
    assert(sha(Jpeg.synthJpeg420Bytes) ===
      "c4d6485cb1019b124b15392e559203800bb3202837a01d901f220fec31a77658")
    assert(sha(Mp3.synthMp3Coded) ===
      "db4fe574fbc7b074dce1e4ddc743084b7439a4b9158c2cff2977f9a8cb346705")
  }

  test("H.264: a flipped last byte fails the ac and cbp decoders loudly") {
    // the stop bit and zero pad are checked after the last macroblock,
    // so no tampered trailing bit decodes silently
    def flipLast(b: Array[Byte]): Array[Byte] = {
      val t = b.clone
      t(t.length - 1) = (t(t.length - 1) ^ 0x01).toByte
      t
    }
    intercept[IllegalArgumentException] {
      H264.decodeH264Ac(7L, flipLast(H264.synthH264AcBytes(7L)))
    }
    intercept[IllegalArgumentException] {
      H264.decodeH264Cbp(7L, flipLast(H264.synthH264CbpBytes(7L)))
    }
  }

  test("MP3 spectral decode: a forbidden or reserved frame header is " +
    "rejected, not indexed out of bounds or looped on") {
    val ok = Mp3.synthMp3Coded(0L)
    def tamper(i: Int)(f: Int => Int): Array[Byte] = {
      val t = ok.clone
      t(i) = f(t(i) & 0xff).toByte
      t
    }
    val cases = Seq(
      "bitrate index 15" -> tamper(2)(b => b | 0xf0),
      "sample-rate index 3" -> tamper(2)(b => b | 0x0c),
      "Layer II bits" -> tamper(1)(b => (b & ~0x06) | 0x04),
      // frame length 144 * 0 / sr + 0 = 0: the walk would never advance
      "bitrate index 0, no padding" -> tamper(2)(b => b & 0x0d))
    for ((what, bad) <- cases) withClue(what) {
      intercept[IllegalArgumentException](Mp3.decodeMp3Spectral(bad))
    }
  }

  test("MP3 spectral decode: big_values past 288 or main data past its " +
    "frame fails loudly") {
    // granule 0's big_values: 32 header bits, then main_data_begin 9,
    // private 5, scfsi 4 and part2_3_length 12
    val ok = Mp3.synthMp3Coded(0L)
    for (bv <- Seq(300, 511)) withClue(bv) {
      intercept[IllegalArgumentException](
        Mp3.decodeMp3Spectral(setBits(ok, 62, 9, bv)))
    }
    // the first frame alone, cut to 32 kbps (104 bytes at 44.1 kHz):
    // 288 big_values pairs need more bits than its main data holds
    val cut = setBits(ok, 16, 4, 1).take(104)
    assert(Multimodal.walkMp3(cut)._1 === 1L)
    intercept[IllegalArgumentException](
      Mp3.decodeMp3Spectral(setBits(cut, 62, 9, 288)))
  }

  test("MP3 spectral decode: bytes after the last frame fail loudly") {
    intercept[IllegalArgumentException] {
      Mp3.decodeMp3Spectral(Mp3.synthMp3Coded(0L) ++ Array[Byte](1, 2, 3))
    }
  }

  test("JPEG: out-of-range or undefined table ids fail loudly") {
    val ok = Jpeg.synthJpegBytes(3L)
    def tamper(i: Int, v: Int): Array[Byte] = {
      val t = ok.clone
      t(i) = v.toByte
      t
    }
    // SOS: length 2, count 1, then (component id, DC << 4 | AC) pairs;
    // DQT and DHT: length 2, then (precision or class) << 4 | id
    val sosY = markerAt(ok, 0xda) + 6
    val cases = Seq(
      "SOS tables 15/15" -> tamper(sosY, 0xff),
      "SOS tables 2/2, undefined" -> tamper(sosY, 0x22),
      "DHT id 7" -> tamper(markerAt(ok, 0xc4) + 4, 0x07),
      "DQT id 4" -> tamper(markerAt(ok, 0xdb) + 4, 0x04))
    for ((what, bad) <- cases) withClue(what) {
      assert(intercept[IllegalArgumentException](Jpeg.decode(bad))
        .getMessage.contains("jpeg:"))
    }
  }

  test("JPEG: an over-subscribed DHT is rejected") {
    // the first DC table's 12 four-bit codes become three one-bit codes
    // and nine four-bit ones: the third one-bit code cannot exist
    val ok = Jpeg.synthJpegBytes(3L)
    val counts = markerAt(ok, 0xc4) + 5
    val bad = ok.clone
    bad(counts) = 3
    bad(counts + 3) = 9
    assert(intercept[IllegalArgumentException](Jpeg.decode(bad))
      .getMessage.contains("over-subscribed"))
  }

  test("WAV: a chunk of odd length is stepped over with its RIFF pad " +
    "byte") {
    // a 3-byte LIST chunk plus its pad byte before the data chunk
    val base = Multimodal.synthWavBytes(42L)
    val bb = java.nio.ByteBuffer.allocate(base.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(base, 0, 36) // RIFF..fmt chunk end
    bb.put("LIST".getBytes("US-ASCII")).putInt(3).put(Array[Byte](1, 2, 3, 0))
    bb.put(base, 36, base.length - 36)
    bb.putInt(4, base.length + 4)
    assert(Multimodal.decodeWav(bb.array()) ===
      Multimodal.decodeWav(base))
  }
}
