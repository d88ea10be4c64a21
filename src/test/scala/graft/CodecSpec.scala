package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{H264, Mp3, Multimodal}

/** Byte-level contracts of the codec writers and the loud-failure
  * policy of their decoders — plain functions, no Spark session. */
class CodecSpec extends AnyFunSuite {

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

  test("MP3 spectral decode: bytes after the last frame fail loudly") {
    intercept[IllegalArgumentException] {
      Mp3.decodeMp3Spectral(Mp3.synthMp3Coded(0L) ++ Array[Byte](1, 2, 3))
    }
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
