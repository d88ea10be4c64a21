package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{Deflater, GZIPInputStream, GZIPOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Deflate
import graft.operators.Deflate.{Compressed, Stored}

/** The DEFLATE layer is the JDK's zlib; what graft owns is the gzip
  * member framing around it and the consumed-byte accounting a member
  * walk relies on. Both are checked against the JDK's own gzip streams
  * in BOTH directions — our members read under GZIPInputStream, and
  * GZIPOutputStream's members read under ours — so the framing is
  * pinned by an independent implementation, not by our own roundtrip.
  */
class DeflateSpec extends AnyFunSuite {

  /** deterministic pseudo-text: word soup with heavy repetition (LZ77
    * matches guaranteed) plus a binary tail (all byte values appear) */
  private def sample(seed: Long, n: Int): Array[Byte] = {
    val words = Array("spark", "shuffle", "join", "scan", "batch",
      "window", "the", "a", "merge", "sort")
    val sb = new StringBuilder
    var s = seed
    while (sb.length < n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      sb.append(words(((s >>> 33) % words.length).toInt)).append(' ')
    }
    val text = sb.toString.take(n).getBytes("UTF-8")
    val bin = Array.tabulate(256)(i => ((i * 7 + seed) & 0xff).toByte)
    text ++ bin
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** RFC 1951 §3.2.3: the first block header's BTYPE, bits 1-2 of the
    * stream's first byte (00 stored, 01 fixed, 10 dynamic Huffman) */
  private def firstBtype(stream: Array[Byte], off: Int): Int =
    (stream(off) >> 1) & 3

  /** where a member's DEFLATE stream starts: 10 header bytes plus the
    * NUL-terminated FNAME */
  private def payloadOff(fname: String): Int = 10 + fname.length + 1

  test("our deflate inflates under JDK zlib — all three block types") {
    // empty and short text compress to a fixed-Huffman block, long text
    // to a dynamic one, and Stored writes stored blocks: every member
    // must read back under the JDK's GZIPInputStream
    val inputs = Seq(Array.empty[Byte], utf8("a"), utf8("to be or not to be"),
      utf8("to be or not to be that is the question " * 200)) ++
      Seq(300, 5000, 70000).map(n => sample(n + 1, n))
    val btypes = for (mode <- Seq(Stored, Compressed); data <- inputs) yield {
      val member = Deflate.gzipMember(data, mode, Some("x"))
      val gis = new GZIPInputStream(new ByteArrayInputStream(member))
      assert(gis.readAllBytes().sameElements(data),
        s"mode=$mode n=${data.length}: JDK cannot read our member")
      firstBtype(member, payloadOff("x"))
    }
    assert(btypes.toSet === Set(0, 1, 2))
    // compression is real: the repetitive text shrinks well below 1/4
    val text = inputs(3)
    assert(Deflate.deflate(text, Compressed.level, raw = true).length <
      text.length / 4)
  }

  test("JDK deflate inflates under ours — stored, fixed and dynamic") {
    // raw streams the JDK's Deflater writes at levels 0/1/6/9 inflate
    // under Deflate.inflate, which reports exactly the bytes they span
    val inputs = Seq(Array.empty[Byte], utf8("to be or not to be")) ++
      Seq(300, 5000, 70000).map(n => sample(n + 2, n))
    val btypes = for (level <- Seq(0, 1, 6, 9); data <- inputs) yield {
      val d = new Deflater(level, true)
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      val raw = out.toByteArray
      val (got, used) = Deflate.inflate(raw, 0, raw.length, raw = true)
      assert(got.sameElements(data), s"level=$level n=${data.length}")
      assert(used == raw.length)
      firstBtype(raw, 0)
    }
    assert(btypes.toSet === Set(0, 1, 2))
    // a GZIPOutputStream member (its own header: MTIME, OS) and two of
    // them concatenated read back under gunzipAll
    val a = sample(3, 5000)
    val bos = new ByteArrayOutputStream()
    val gos = new GZIPOutputStream(bos)
    gos.write(a); gos.close()
    val jdkMember = bos.toByteArray
    val members = Deflate.gunzipAll(jdkMember ++ jdkMember)
    assert(members.size == 2)
    assert(members.forall(m => m._1.sameElements(a) && m._2.isEmpty))
  }

  test("own roundtrip and consumed-byte accounting") {
    for (mode <- Seq(Stored, Compressed)) {
      val data = sample(7, 1234)
      val enc = Deflate.deflate(data, mode.level, raw = true)
      // trailing garbage must not be consumed (member-boundary contract)
      val padded = enc ++ Array[Byte](1, 2, 3)
      val (got, used) = Deflate.inflate(padded, 0, padded.length, raw = true)
      assert(got.sameElements(data))
      assert(used == enc.length, s"mode=$mode consumed $used != ${enc.length}")
    }
  }

  test("gzip members: FNAME roundtrip, multi-member split, CRC tamper detection") {
    val a = sample(1, 500)
    val b = sample(2, 40)
    val stream = Deflate.gzipMember(a, Compressed, Some("a.txt")) ++
      Deflate.gzipMember(b, Stored, None) ++
      Deflate.gzipMember(Array.empty[Byte], Compressed, Some("empty"))
    val members = Deflate.gunzipAll(stream)
    assert(members.size == 3)
    assert(members(0)._1.sameElements(a) && members(0)._2.contains("a.txt"))
    assert(members(1)._1.sameElements(b) && members(1)._2.isEmpty)
    assert(members(2)._1.isEmpty && members(2)._2.contains("empty"))
    // flip one payload bit -> CRC mismatch must throw
    val bad = stream.clone()
    bad(20) = (bad(20) ^ 0x40).toByte
    intercept[Exception] { Deflate.gunzipAll(bad) }
  }

  test("a truncated member fails loudly") {
    val member = Deflate.gzipMember(sample(4, 3000), Compressed, Some("t"))
    // cut inside the DEFLATE stream, and inside the CRC/ISIZE trailer
    val inStream = intercept[IllegalArgumentException] {
      Deflate.gunzipAll(member.take(member.length / 2))
    }
    assert(inStream.getMessage.contains("truncated stream"))
    val inTrailer = intercept[IllegalArgumentException] {
      Deflate.gunzipAll(member.dropRight(3))
    }
    assert(inTrailer.getMessage.contains("truncated trailer"))
  }

  test("a stored member's first block has BTYPE 00") {
    for (data <- Seq(Array.empty[Byte], utf8("short"), sample(5, 70000))) {
      val member = Deflate.gzipMember(data, Stored, Some("s"))
      val off = payloadOff("s")
      assert(firstBtype(member, off) === 0, s"n=${data.length}")
      // stored blocks carry the payload verbatim: LEN, then NLEN = ~LEN
      val len = (member(off + 1) & 0xff) | ((member(off + 2) & 0xff) << 8)
      val nlen = (member(off + 3) & 0xff) | ((member(off + 4) & 0xff) << 8)
      assert(len === (~nlen & 0xffff))
      assert(member.slice(off + 5, off + 5 + len)
        .sameElements(data.take(len)))
    }
  }
}
