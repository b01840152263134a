package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (Web ARChive) — the container web-scale training corpora actually
  * arrive in (Common Crawl ships .warc.gz). A WARC file is a sequence of
  * records, each `WARC/1.0` + CRLF headers + blank line + Content-Length
  * payload + CRLF CRLF; the .gz framing compresses EACH RECORD as its own
  * gzip member so readers can split work without decompressing the world.
  *
  * [[encodeWarc]] builds that framing for real (per-record gzip members
  * via java.util.zip, exact Content-Length octets) around the fixture
  * corpus; [[decodeWarc]] is a REAL parser: multi-member GZIP inflate,
  * header-block scan, Content-Length-driven body extraction, one output
  * row per record. Both run partition-at-a-time: typed `mapPartitions` /
  * `flatMap` over whole blobs with an explicit row encoder, each task
  * streaming many payloads — the object-store batch shape.
  */
object WarcOps {

  private val warcInSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType)))

  val warcRecordSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("seq", IntegerType),
    StructField("rec_type", StringType),
    StructField("uri", StringType),
    StructField("content_length", IntegerType),
    StructField("body_md5", StringType)))

  val warcBodySchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("seq", IntegerType),
    StructField("rec_type", StringType),
    StructField("uri", StringType),
    StructField("body", StringType)))

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  private def record(recType: String, id: Long, seq: Int,
                     uri: String, body: Array[Byte]): Array[Byte] = {
    val headers =
      s"WARC/1.0\r\n" +
        s"WARC-Type: $recType\r\n" +
        s"WARC-Record-ID: <urn:graft:doc-$id-$seq>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(headers.getBytes("US-ASCII"))
    bos.write(body)
    bos.write("\r\n\r\n".getBytes("US-ASCII"))
    bos.toByteArray
  }

  /** Per-doc .warc.gz payload: a `response` record carrying the doc's text
    * (exact UTF-8 octets) and a `metadata` record carrying `lang=<lang>`,
    * each as its OWN gzip member — the Common Crawl framing. */
  def encodeWarc(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val enc = RowEncoder.encoderFor(warcInSchema)
    docs.select(col(idCol).cast("long"), col("text"), col("lang"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val uri = s"https://example.com/doc/$id"
          val out = new java.io.ByteArrayOutputStream()
          out.write(gzipMember(record("response", id, 0, uri,
            r.getString(1).getBytes("UTF-8"))))
          out.write(gzipMember(record("metadata", id, 1, uri,
            s"lang=${r.getString(2)}".getBytes("UTF-8"))))
          Row(id, out.toByteArray)
        }
      }(enc)
  }

  /** [[decodeWarcBodies]] projected to the record REPORT shape: octet
    * length + body digest (via expressions over the parsed bodies — one
    * parser, two surfaces). */
  def decodeWarc(payloads: DataFrame, idCol: String = "doc_id",
                 payloadCol: String = "payload"): DataFrame =
    decodeWarcBodies(payloads, idCol, payloadCol)
      .select(col("doc_id"), col("seq"), col("rec_type"), col("uri"),
        octet_length(col("body")).as("content_length"),
        md5(col("body").cast("binary")).as("body_md5"))

  /** REAL WARC parse: inflate the multi-member gzip stream, then walk
    * records — scan the CRLF-headers block to its blank line, read the
    * version line and the `WARC-Type` / `WARC-Target-URI` /
    * `Content-Length` headers, slice exactly Content-Length body octets
    * (decoded as UTF-8 — the text-corpus contract), require the record
    * terminator. One row per record; a malformed record fails loudly with
    * the doc id and record ordinal. */
  def decodeWarcBodies(payloads: DataFrame, idCol: String = "doc_id",
                       payloadCol: String = "payload"): DataFrame = {
    val enc = RowEncoder.encoderFor(warcBodySchema)
    payloads.select(col(idCol).cast("long"), col(payloadCol))
      .flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        require(bytes.length > 2 && (bytes(0) & 0xff) == 0x1f &&
          (bytes(1) & 0xff) == 0x8b,
          s"not a gzip payload (no 1f 8b magic): doc $id")
        // JDK GZIPInputStream consumes concatenated members transparently
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val all = gz.readAllBytes()
        gz.close()
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var pos = 0
        var seq = 0
        while (pos < all.length) {
          // header block ends at the first CRLFCRLF
          var hEnd = pos
          while (hEnd + 3 < all.length &&
            !(all(hEnd) == '\r' && all(hEnd + 1) == '\n' &&
              all(hEnd + 2) == '\r' && all(hEnd + 3) == '\n')) hEnd += 1
          require(hEnd + 3 < all.length,
            s"unterminated WARC header block: doc $id record $seq")
          val header = new String(all, pos, hEnd - pos, "US-ASCII")
          val lines = header.split("\r\n")
          require(lines.head == "WARC/1.0",
            s"bad WARC version '${lines.head}': doc $id record $seq")
          def h(name: String): String = lines.tail
            .collectFirst {
              case l if l.toLowerCase.startsWith(name.toLowerCase + ":") =>
                l.substring(name.length + 1).trim
            }
            .getOrElse(throw new IllegalArgumentException(
              s"missing WARC header $name: doc $id record $seq"))
          val len = h("Content-Length").toInt
          val bodyStart = hEnd + 4
          require(bodyStart + len + 4 <= all.length,
            s"truncated WARC body: doc $id record $seq")
          val body = java.util.Arrays.copyOfRange(all, bodyStart,
            bodyStart + len)
          require(all(bodyStart + len) == '\r' &&
            all(bodyStart + len + 1) == '\n' &&
            all(bodyStart + len + 2) == '\r' &&
            all(bodyStart + len + 3) == '\n',
            s"missing WARC record terminator: doc $id record $seq")
          out += Row(id, seq, h("WARC-Type"), h("WARC-Target-URI"),
            new String(body, "UTF-8"))
          pos = bodyStart + len + 4
          seq += 1
        }
        out
      }(enc)
  }
}
