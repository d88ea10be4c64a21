package graft.operators

import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable.ArrayBuffer

/** The engine's one zlib owner: DEFLATE (RFC 1951) through the JDK's
  * `java.util.zip`, plus graft's own gzip (RFC 1952) member framing —
  * the compression layer under every web-scale text corpus (Common
  * Crawl WARC/WET files are per-record gzip members; JSONL corpora ship
  * as .jsonl.gz). PDF FlateDecode streams and PNG IDAT data are the
  * zlib-wrapped (RFC 1950) form of the same helpers.
  *
  *  - [[deflate]]/[[inflate]]: raw or zlib-wrapped streams; the native
  *    stream is released in a `finally`, on the failure path too.
  *    [[inflate]] reports the input bytes its stream used, so a caller
  *    walking concatenated members knows where the next one starts.
  *  - gzip member framing with a deterministic header (MTIME 0, OS 255,
  *    optional FNAME), FEXTRA/FCOMMENT/FHCRC skipped on read, CRC-32 and
  *    ISIZE verified on read — corruption fails loudly — and
  *    multi-member concatenation (the WARC convention: one member per
  *    record).
  *
  * Everything is row-local byte work (codecs are the one place
  * mapPartitions-style imperative code is the right Spark answer — same
  * boundary as Jpeg/Mp3); the plan above it stays scan -> flatMap with
  * no shuffle, embarrassingly parallel at any corpus size. Specs check
  * interop with the JDK's own gzip streams in both directions.
  *
  * Reference analogue: none (gpd_lite_toolbox reads plain files);
  * public spec: RFC 1950/1951/1952.
  */
object Deflate {

  /** The choice zlib can honour for a member's DEFLATE stream: stored
    * blocks (level 0) or zlib's default compression, which picks fixed
    * or dynamic Huffman per block itself. */
  sealed abstract class Mode(val level: Int)
  case object Stored extends Mode(Deflater.NO_COMPRESSION)
  case object Compressed extends Mode(Deflater.DEFAULT_COMPRESSION)

  /** DEFLATE `data` at `level`: zlib-wrapped (RFC 1950) by default, as
    * PDF and PNG embed it; `raw` drops the wrapper (the gzip payload). */
  def deflate(data: Array[Byte], level: Int = Deflater.DEFAULT_COMPRESSION,
              raw: Boolean = false): Array[Byte] = {
    val defl = new java.util.zip.Deflater(level, raw)
    try {
      defl.setInput(data); defl.finish()
      val out = new java.io.ByteArrayOutputStream(data.length + 64)
      val buf = new Array[Byte](8192)
      while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
      out.toByteArray
    } finally defl.end()
  }

  /** Inflate the one stream starting at `data(off)` (at most `len`
    * bytes); returns (payload, input bytes the stream used). Input past
    * the stream's end is left unread. A stream that ends before its
    * final block fails loudly. */
  def inflate(data: Array[Byte], off: Int, len: Int,
              raw: Boolean = false): (Array[Byte], Int) = {
    val infl = new java.util.zip.Inflater(raw)
    try {
      infl.setInput(data, off, len)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!infl.finished()) {
        val n = infl.inflate(buf)
        require(n > 0 || infl.finished(), "zlib: truncated stream")
        out.write(buf, 0, n)
      }
      (out.toByteArray, len - infl.getRemaining)
    } finally infl.end()
  }

  private def crc32(data: Array[Byte]): Long = {
    val c = new CRC32
    c.update(data)
    c.getValue
  }

  // ----------------------------------------------------------- gzip

  /** one gzip member (RFC 1952) with a deterministic header: MTIME=0,
    * XFL=0, OS=255 (unknown), optional FNAME */
  def gzipMember(data: Array[Byte], mode: Mode,
                 fname: Option[String] = None): Array[Byte] = {
    val out = ArrayBuffer.empty[Byte]
    out += 0x1f.toByte; out += 0x8b.toByte // magic
    out += 8 // CM = deflate
    out += (if (fname.isDefined) 0x08 else 0x00).toByte // FLG: FNAME
    out ++= Array[Byte](0, 0, 0, 0) // MTIME = 0, deterministic
    out += 0 // XFL
    out += 0xff.toByte // OS = unknown
    fname.foreach { n =>
      out ++= n.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      out += 0
    }
    out ++= deflate(data, mode.level, raw = true)
    val crc = crc32(data)
    (0 until 4).foreach(i => out += ((crc >>> (8 * i)) & 0xff).toByte)
    val isize = data.length.toLong & 0xffffffffL
    (0 until 4).foreach(i => out += ((isize >>> (8 * i)) & 0xff).toByte)
    out.toArray
  }

  /** parse ONE member at `off`; returns (payload, fname, bytes consumed).
    * CRC-32 and ISIZE are verified — a corrupted member throws. */
  def gunzipMember(data: Array[Byte], off: Int): (Array[Byte], Option[String], Int) = {
    var p = off
    require((data(p) & 0xff) == 0x1f && (data(p + 1) & 0xff) == 0x8b,
      "gzip: bad magic")
    require((data(p + 2) & 0xff) == 8, "gzip: unknown method")
    val flg = data(p + 3) & 0xff
    p += 10
    if ((flg & 0x04) != 0) { // FEXTRA
      val xlen = (data(p) & 0xff) | ((data(p + 1) & 0xff) << 8)
      p += 2 + xlen
    }
    val fname =
      if ((flg & 0x08) != 0) {
        val start = p
        while (data(p) != 0) p += 1
        val n = new String(data, start, p - start,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        p += 1
        Some(n)
      } else None
    if ((flg & 0x10) != 0) { while (data(p) != 0) p += 1; p += 1 } // FCOMMENT
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    val (payload, used) = inflate(data, p, data.length - p, raw = true)
    p += used
    require(p + 8 <= data.length, "gzip: truncated trailer")
    def le32(q: Int): Long =
      ((data(q) & 0xffL)) | ((data(q + 1) & 0xffL) << 8) |
        ((data(q + 2) & 0xffL) << 16) | ((data(q + 3) & 0xffL) << 24)
    val crcStored = le32(p)
    val isize = le32(p + 4)
    p += 8
    require(crc32(payload) == crcStored, "gzip: CRC-32 mismatch")
    require((payload.length.toLong & 0xffffffffL) == isize,
      "gzip: ISIZE mismatch")
    (payload, fname, p - off)
  }

  /** all members of a concatenated multi-member stream, in order */
  def gunzipAll(data: Array[Byte]): Seq[(Array[Byte], Option[String])] = {
    val out = ArrayBuffer.empty[(Array[Byte], Option[String])]
    var p = 0
    while (p < data.length) {
      val (payload, fname, used) = gunzipMember(data, p)
      out += ((payload, fname))
      p += used
    }
    out.toSeq
  }
}
