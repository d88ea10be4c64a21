package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Deflate

/** WARC (ISO 28500 / WARC/1.0) writer + reader over gzip — the Common
  * Crawl container: a .warc.gz file is a CONCATENATION OF GZIP MEMBERS,
  * one member per record, so a reader can seek to any record boundary
  * and start inflating without touching the rest of the file. That
  * per-record framing is what makes 100 TB of crawl splittable: Spark
  * assigns member ranges to tasks independently, and this module keeps
  * the same contract — build and parse are both row/file-local
  * (mapPartitions over file groups, no shuffle beyond the one grouping
  * exchange on file_id).
  *
  * Record syntax (WARC/1.0 §4): a CRLF-terminated header block
  * (`WARC/1.0`, named fields, `Content-Length` in octets), one empty
  * line, `Content-Length` payload octets, two CRLFs. The reader
  * enforces Content-Length framing and the gzip layer's CRC-32/ISIZE,
  * so corruption at either layer fails loudly instead of shearing
  * records.
  *
  * Determinism: WARC-Date derives from doc_id (epoch + id seconds),
  * gzip MTIME is 0, and per-file record order is doc_id order — byte
  * output is a pure function of the input rows.
  *
  * Reference analogue: none (gpd_lite_toolbox reads spatialite only);
  * this is the web-corpus member of the sources family.
  */
object Warc {

  private val Crlf = "\r\n"
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** deterministic ISO-8601 WARC-Date: fixed epoch + doc_id seconds */
  private[graft] def warcDate(docId: Long): String = {
    val t = java.time.Instant.ofEpochSecond(1600000000L + docId)
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(t)
  }

  /** one WARC/1.0 resource record (uncompressed bytes) */
  private[graft] def record(docId: Long, source: String,
                            payload: Array[Byte]): Array[Byte] = {
    val header =
      s"WARC/1.0$Crlf" +
        s"WARC-Type: resource$Crlf" +
        s"WARC-Record-ID: <urn:graft:doc-$docId>$Crlf" +
        s"WARC-Date: ${warcDate(docId)}$Crlf" +
        s"WARC-Target-URI: graft://$source/doc/$docId$Crlf" +
        s"Content-Type: text/plain$Crlf" +
        s"Content-Length: ${payload.length}$Crlf" +
        Crlf
    header.getBytes(Utf8) ++ payload ++ (Crlf + Crlf).getBytes(Utf8)
  }

  /** parse ONE record's uncompressed bytes -> (headers, payload) */
  private[graft] def parseRecord(bytes: Array[Byte]): (Map[String, String], Array[Byte]) = {
    // header block ends at the first CRLFCRLF
    var sep = -1
    var i = 0
    while (sep < 0 && i + 3 < bytes.length) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n') sep = i
      i += 1
    }
    require(sep >= 0, "warc: no header terminator")
    val headerText = new String(bytes, 0, sep, Utf8)
    val lines = headerText.split(Crlf)
    require(lines.head == "WARC/1.0", s"warc: bad version line '${lines.head}'")
    val fields = lines.tail.map { l =>
      val c = l.indexOf(':')
      require(c > 0, s"warc: malformed header '$l'")
      l.substring(0, c).trim -> l.substring(c + 1).trim
    }.toMap
    val len = fields.getOrElse("Content-Length",
      throw new IllegalArgumentException("warc: missing Content-Length")).toInt
    val start = sep + 4
    require(start + len <= bytes.length, "warc: payload truncated")
    // record must close with exactly CRLF CRLF after the payload
    require(bytes.length == start + len + 4 &&
      bytes(start + len) == '\r' && bytes(start + len + 1) == '\n' &&
      bytes(start + len + 2) == '\r' && bytes(start + len + 3) == '\n',
      "warc: bad record trailer")
    (fields, java.util.Arrays.copyOfRange(bytes, start, start + len))
  }

  private val FileSchema = StructType(Seq(
    StructField("warc_file", LongType, nullable = false),
    StructField("n_records", IntegerType, nullable = false),
    StructField("bytes", BinaryType, nullable = false)))

  /** Pack documents(doc_id, source, text) into .warc.gz file blobs,
    * `docsPerFile` records each (file_id = doc_id DIV docsPerFile, so
    * membership is content-independent and the oracle can replay it).
    * One shuffle on file_id; records gzip per-member (the splittable CC
    * convention), at zlib's default compression. */
  def writeFiles(docs: DataFrame, docsPerFile: Int = 64): DataFrame = {
    val grouped = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        col("source"), col("text"))
      .withColumn("warc_file", expr(s"doc_id DIV $docsPerFile"))
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] =
      ExpressionEncoder(FileSchema)
    grouped.groupByKey(_.getAs[Long]("warc_file"))(
        org.apache.spark.sql.Encoders.scalaLong)
      .mapGroups { (fileId, rows) =>
        val sorted = rows.toSeq.sortBy(_.getAs[Long]("doc_id"))
        val out = ArrayBuffer.empty[Byte]
        sorted.foreach { r =>
          val id = r.getAs[Long]("doc_id")
          val rec = record(id, r.getAs[String]("source"),
            r.getAs[String]("text").getBytes(Utf8))
          out ++= Deflate.gzipMember(rec, Deflate.Compressed,
            Some(s"rec-$id.warc"))
        }
        Row(fileId, sorted.size, out.toArray)
      }.toDF()
  }

  case class WarcDoc(doc_id: Long, warc_file: Long, target_uri: String,
                     warc_date: String, payload: Array[Byte])

  /** Unpack .warc.gz blobs back to one row per record: gzip member walk
    * (CRC-verified) -> WARC parse (Content-Length framing) -> payload.
    * Row-local typed flatMap, no shuffle. */
  def readFiles(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("warc_file").cast("long"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fileId, bytes) =>
        Deflate.gunzipAll(bytes).map { case (rec, _) =>
          val (fields, payload) = parseRecord(rec)
          val rid = fields("WARC-Record-ID")
          require(rid.startsWith("<urn:graft:doc-") && rid.endsWith(">"),
            s"warc: unexpected record id $rid")
          val docId = rid.stripPrefix("<urn:graft:doc-").stripSuffix(">").toLong
          require(fields("WARC-Type") == "resource", "warc: unexpected type")
          WarcDoc(docId, fileId, fields("WARC-Target-URI"),
            fields("WARC-Date"), payload)
        }
      }).toDF()
  }
}
