package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (ISO 28500) web-archive ingestion — the container format of the
  * web-scale corpora a 100 TB training pipeline actually reads (Common
  * Crawl ships ~100k .warc.gz shards per crawl). The reference's scraper
  * fetches pages one URL at a time (多数据源获取数据.py's per-link fetch
  * loop); at corpus scale the same content arrives as WARC records, so the
  * engine grows a real record walker instead of an HTTP client.
  *
  * Format, from the public spec:
  *  - record = `WARC/1.0\r\n` + header lines (`Name: value\r\n`, names
  *    case-insensitive) + `\r\n` + exactly Content-Length body bytes +
  *    `\r\n\r\n`;
  *  - a `response` record's body is itself an HTTP/1.1 message (status
  *    line, headers, `\r\n\r\n`, payload);
  *  - Common Crawl compresses each record as its OWN gzip member and
  *    concatenates the members, so a shard is both a valid multi-member
  *    gzip stream and randomly seekable per record.
  *
  * The walk is pure byte arithmetic per file (`mapPartitions`, no shuffle):
  * one wrong Content-Length or header-length step desyncs every subsequent
  * record, so the q112 oracle hash certifies the whole walk. Damaged tails
  * keep their complete leading records (same posture as the MP3/ADTS
  * walkers); a zip-bomb inflate cap guards executor memory.
  */
object Warc {

  private val Crlf = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // ---- record/file construction (fixture encoder + sink shape) ------------

  /** Serialize one WARC record: version line, headers (Content-Length
    * appended), blank line, body, two CRLFs.
    */
  def record(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream(head.length + body.length + 4)
    out.write(head); out.write(body); out.write(Crlf); out.write(Crlf)
    out.toByteArray
  }

  private def httpResponse(status: Int, reason: String, payload: Array[Byte]): Array[Byte] = {
    val head = (s"HTTP/1.1 $status $reason\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    head ++ payload
  }

  private def reasonFor(status: Int): String = status match {
    case 200 => "OK"
    case 301 => "Moved Permanently"
    case 404 => "Not Found"
    case _ => "Unknown"
  }

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 32)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** Fixture/sink encoder: assemble (file_id, payload) WARC files from
    * (file_id, doc_id, uri, status, text, gzip) rows — one `warcinfo`
    * record, then per doc (ordered by doc_id) a `request` + `response`
    * pair. `gzip=1` files compress each record as its own gzip member and
    * concatenate (the Common Crawl layout). The per-file groupBy is
    * fixture-scale machinery; real shards arrive pre-assembled.
    */
  def encodeWarc(params: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("file_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    params
      .select(col("file_id").cast("long"), col("doc_id").cast("long"),
        col("uri"), col("status").cast("int"), col("text"),
        col("gzip").cast("int"))
      .groupBy(col("file_id"))
      .agg(
        sort_array(collect_list(struct(col("doc_id"), col("uri"),
          col("status"), col("text")))).as("recs"),
        max(col("gzip")).as("gz"))
      .mapPartitions { rows =>
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        rows.map { r =>
          val fileId = r.getLong(0)
          val recs = r.getSeq[Row](1)
          val gz = r.getInt(2) == 1
          val out = new java.io.ByteArrayOutputStream()
          def emit(rec: Array[Byte]): Unit =
            out.write(if (gz) gzipMember(rec) else rec)
          emit(record(Seq(
            "WARC-Type" -> "warcinfo",
            "WARC-Record-ID" -> s"<urn:graft:file-$fileId>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/warc-fields"),
            s"software: graft\r\nfile: $fileId\r\n".getBytes(utf8)))
          recs.foreach { rec =>
            val (docId, uri, status, text) =
              (rec.getLong(0), rec.getString(1), rec.getInt(2), rec.getString(3))
            emit(record(Seq(
              "WARC-Type" -> "request",
              "WARC-Record-ID" -> s"<urn:graft:req-$docId>",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "WARC-Target-URI" -> uri,
              "Content-Type" -> "application/http;msgtype=request"),
              s"GET /doc/$docId HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes(utf8)))
            emit(record(Seq(
              "WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:graft:resp-$docId>",
              "WARC-Date" -> "2026-01-01T00:00:00Z",
              "WARC-Target-URI" -> uri,
              "Content-Type" -> "application/http;msgtype=response"),
              httpResponse(status, reasonFor(status), text.getBytes(utf8))))
          }
          Row(fileId, out.toByteArray)
        }
      }(encoder)
  }

  // ---- record walk ---------------------------------------------------------

  private[sources] final case class Rec(
      warcType: String, targetUri: String, httpStatus: Integer,
      nBytes: java.lang.Long, bodyText: String)

  /** Find `\r\n` from `off`; -1 when absent. */
  private def eol(b: Array[Byte], off: Int): Int = {
    var i = off
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** RFC 9112 §7.1 chunked-body decode: `size-hex[;ext] CRLF data CRLF`
    * repeated, `0 CRLF [trailers] CRLF` terminates. Chunk extensions and
    * trailer fields are skipped. None on any malformed frame — the caller
    * keeps the raw payload rather than dropping the record.
    */
  private[graft] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (true) {
      val e = eol(b, p)
      if (e < 0) return None
      val sizeTok = new String(b, p, e - p, ascii).split(";")(0).trim
      val n =
        try Integer.parseInt(sizeTok, 16)
        catch { case _: NumberFormatException => return None }
      if (n < 0) return None
      p = e + 2
      if (n == 0) return Some(out.toByteArray) // trailers ignored
      // Long arithmetic: a hostile size line like 7FFFFFF0 would overflow
      // an Int sum, slip past the guard, and crash the task instead of
      // falling back to the raw payload
      if (p.toLong + n + 2 > b.length) return None
      out.write(b, p, n)
      if (b(p + n) != '\r' || b(p + n + 1) != '\n') return None
      p += n + 2
    }
    None // unreachable
  }

  /** Walk every complete record in one (inflated) WARC byte stream. Stops
    * at the first malformed or truncated record, keeping the records before
    * it — a damaged shard tail never fails the job.
    */
  private[sources] def walk(bytes: Array[Byte]): Seq[Rec] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var off = 0
    var ok = true
    while (ok && off < bytes.length) {
      val vEnd = eol(bytes, off)
      if (vEnd < 0 || !new String(bytes, off, vEnd - off, utf8).startsWith("WARC/")) {
        ok = false
      } else {
        var p = vEnd + 2
        val headers = scala.collection.mutable.Map.empty[String, String]
        var headersOk = true
        var inHeaders = true
        while (inHeaders && headersOk) {
          val hEnd = eol(bytes, p)
          if (hEnd < 0) { headersOk = false }
          else if (hEnd == p) { inHeaders = false; p = hEnd + 2 }
          else {
            val line = new String(bytes, p, hEnd - p, utf8)
            val ci = line.indexOf(':')
            if (ci <= 0) headersOk = false
            else headers.put(line.substring(0, ci).trim.toLowerCase,
              line.substring(ci + 1).trim)
            p = hEnd + 2
          }
        }
        val len = headers.get("content-length").flatMap(_.toLongOption)
        if (!headersOk || len.isEmpty || len.get < 0 ||
          p + len.get > bytes.length) {
          ok = false
        } else {
          val n = len.get.toInt
          val body = java.util.Arrays.copyOfRange(bytes, p, p + n)
          val wt = headers.getOrElse("warc-type", "")
          val uri = headers.getOrElse("warc-target-uri", null)
          val isHttp = headers.getOrElse("content-type", "")
            .toLowerCase.startsWith("application/http")
          val (status, nb, text): (Integer, java.lang.Long, String) =
            if (isHttp) {
              // body = HTTP message: status/request line, headers, CRLF CRLF, payload
              var split = -1
              var i = 0
              while (split < 0 && i + 3 < body.length) {
                if (body(i) == '\r' && body(i + 1) == '\n' &&
                  body(i + 2) == '\r' && body(i + 3) == '\n') split = i
                i += 1
              }
              if (split < 0) (null, 0L: java.lang.Long, "")
              else {
                val firstEnd = { val e = eol(body, 0); if (e < 0) 0 else e }
                val first = new String(body, 0, firstEnd, utf8)
                val st: Integer =
                  if (first.startsWith("HTTP/")) {
                    val parts = first.split(" ")
                    if (parts.length >= 2) parts(1).toIntOption
                      .map(Integer.valueOf).orNull
                    else null
                  } else null
                val raw = java.util.Arrays.copyOfRange(body, split + 4, body.length)
                // Common Crawl preserves the wire form, so a response
                // payload may still carry chunked transfer-encoding —
                // decode the chunk framing (size-hex lines, trailers)
                // when the HTTP headers declare it; a malformed chunk
                // stream falls back to the raw payload (damaged-tail
                // posture, never a lost record).
                val chunked = new String(body, 0, split, utf8).toLowerCase
                  .linesIterator.exists(l => l.startsWith("transfer-encoding") &&
                    l.contains("chunked"))
                val payload =
                  if (chunked) dechunk(raw).getOrElse(raw) else raw
                (st, payload.length.toLong: java.lang.Long, new String(payload, utf8))
              }
            } else (null, body.length.toLong: java.lang.Long, new String(body, utf8))
          out += Rec(wt, uri, status, nb, text)
          p += n
          // consume the record-terminating CRLF CRLF (tolerate EOF truncation)
          var skipped = 0
          while (skipped < 4 && p < bytes.length &&
            (bytes(p) == '\r' || bytes(p) == '\n')) { p += 1; skipped += 1 }
          off = p
        }
      }
    }
    out.toSeq
  }

  /** Parse (file_id, payload) WARC files — gzip members inflated when the
    * payload sniffs as gzip (`GZIPInputStream` reads concatenated members
    * natively) — into one row per complete record:
    * (file_id, rec_index, warc_type, target_uri, http_status, n_bytes,
    * body_text). `maxBytes` caps the inflated stream per file (zip-bomb
    * guard, same posture as [[Compressed.decompressText]]).
    */
  def parseWarc(files: DataFrame, maxBytes: Int = 256 << 20): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("file_id", LongType, nullable = false),
      StructField("rec_index", IntegerType, nullable = false),
      StructField("warc_type", StringType, nullable = true),
      StructField("target_uri", StringType, nullable = true),
      StructField("http_status", IntegerType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("body_text", StringType, nullable = true)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    files.select(col("file_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val fileId = r.getLong(0)
          val raw = r.getAs[Array[Byte]](1)
          val bytes =
            if (Compressed.sniffCodec(raw) == Compressed.Gzip) {
              // incremental inflate keeping whatever full chunks arrived
              // before a truncated/corrupt tail member (leading records
              // survive, matching the plain-bytes walk posture)
              val acc = new java.io.ByteArrayOutputStream()
              try {
                val in = new java.util.zip.GZIPInputStream(
                  new java.io.ByteArrayInputStream(raw))
                try {
                  val chunk = new Array[Byte](64 << 10)
                  var n = in.read(chunk)
                  while (n >= 0 && acc.size <= maxBytes) {
                    acc.write(chunk, 0, n)
                    n = in.read(chunk)
                  }
                } finally in.close()
              } catch { case _: Exception => () }
              if (acc.size > maxBytes) Array.empty[Byte] else acc.toByteArray
            } else raw
          walk(bytes).zipWithIndex.map { case (rec, i) =>
            Row(fileId, i, rec.warcType, rec.targetUri, rec.httpStatus,
              rec.nBytes, rec.bodyText)
          }
        }
      }(encoder)
  }
}
