package graft.operators

import scala.collection.mutable.ArrayBuffer

/** The one MSB-first bit layer of the entropy codecs ([[H264]],
  * [[Mp3]], [[Jpeg]]): a writer, a bounded reader and one prefix-code
  * table.
  * Byte-level escapes stay with each container — H.264's emulation
  * prevention on the NAL payload, JPEG's FF00 stuffing on each
  * entropy-coded segment — so the bits here are always plain bytes.
  */
object Bits {

  /** Bits appended most significant first, packed into bytes. */
  final class Writer {
    private val out = new java.io.ByteArrayOutputStream
    private var cur = 0
    private var nbits = 0

    /** The low `n` bits of `v`, most significant first. */
    def put(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1L).toInt
        nbits += 1
        if (nbits == 8) { out.write(cur); cur = 0; nbits = 0 }
        i -= 1
      }
    }

    def bitLength: Int = out.size * 8 + nbits

    /** Fill the current byte with `pad` bits (0 or 1). */
    def align(pad: Int): Unit = while (nbits != 0) put(pad, 1)

    /** The written bytes; the writer must be byte-aligned. */
    def bytes: Array[Byte] = {
      require(nbits == 0, "bits: unaligned writer")
      out.toByteArray
    }
  }

  /** Reads the bytes `[from, until)` of `data` most significant bit
    * first; a read past `until` fails. */
  final class Reader(data: Array[Byte], from: Int, until: Int) {
    require(0 <= from && from <= until && until <= data.length,
      s"bits: range [$from, $until) outside ${data.length} bytes")
    def this(data: Array[Byte]) = this(data, 0, data.length)

    private var pos = from.toLong * 8
    private val end = until.toLong * 8

    def bit(): Int = {
      require(pos < end, "bits: read past the end")
      val b = (data((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1
      pos += 1
      b
    }

    /** The next `n` <= 31 bits as an unsigned value. */
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }

    /** Bits left before `until`. */
    def left: Long = end - pos
  }

  /** A prefix code over symbols >= 0, built from (code, length, symbol)
    * entries as a flat binary trie: slots 2n and 2n+1 hold node n's
    * 0- and 1-child — 0 for none, k > 0 for node k, -1 - s for a leaf
    * of symbol s. A code that collides with another (equal, or one the
    * prefix of the other) or overflows its length is rejected, so an
    * over-subscribed code space fails here rather than leaving a
    * symbol unreachable. */
  final class PrefixCode(entries: Seq[(Int, Int, Int)]) {
    private val maxSym = entries.map(_._3).foldLeft(0)(math.max)
    private val codeOf = new Array[Int](maxSym + 1)
    private val lenOf = new Array[Int](maxSym + 1)
    private val trie: Array[Int] = {
      val trie = ArrayBuffer(0, 0)
      for ((code, len, sym) <- entries) {
        require(len >= 1 && len <= 31 && sym >= 0,
          s"prefix code: bad entry ($code, $len, $sym)")
        require(code >= 0 && code < (1L << len),
          s"prefix code: over-subscribed at length $len")
        var n = 0
        var i = len - 1
        while (i > 0) {
          val slot = 2 * n + ((code >> i) & 1)
          require(trie(slot) >= 0, "prefix code: a code extends another")
          if (trie(slot) == 0) {
            trie(slot) = trie.length / 2
            trie ++= Seq(0, 0)
          }
          n = trie(slot)
          i -= 1
        }
        val leaf = 2 * n + (code & 1)
        require(trie(leaf) == 0, "prefix code: duplicate or prefix code")
        trie(leaf) = -1 - sym
        codeOf(sym) = code
        lenOf(sym) = len
      }
      trie.toArray
    }

    /** Write the code of `sym`. */
    def put(w: Writer, sym: Int): Unit = {
      require(sym >= 0 && sym <= maxSym && lenOf(sym) > 0,
        s"prefix code: no code for symbol $sym")
      w.put(codeOf(sym), lenOf(sym))
    }

    /** Read one code; a bit path that matches no code fails. */
    def decode(r: Reader): Int = {
      var v = trie(r.bit())
      while (v > 0) v = trie(2 * v + r.bit())
      require(v < 0, "prefix code: the bits read match no code")
      -1 - v
    }
  }
}
