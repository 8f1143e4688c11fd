package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** WARC/1.0 (ISO 28500) codec — the format crawl corpora actually ship
  * in: a WARC file is a concatenation of records, each a version line,
  * CRLF-delimited named headers, a Content-Length-framed block, and a
  * CRLF CRLF terminator. The generator emits the standard per-page
  * record triplet (warcinfo, request, response) with an embedded HTTP
  * message in the request/response blocks, so the parser exercises BOTH
  * framings real ingestion crosses: WARC record framing (named headers
  * + byte-counted block) and HTTP message framing (status line +
  * headers + payload).
  *
  * CONTRACT (strict subset; anything outside NULLS, never throws):
  * version line exactly "WARC/1.0"; headers "Name: value" CRLF lines
  * until a blank line; WARC-Type, WARC-Record-ID, WARC-Date, and a
  * digits-only bounds-checked Content-Length REQUIRED on every record;
  * WARC-Target-URI required on request/response; block exactly
  * Content-Length bytes; terminator exactly CRLF CRLF; records
  * concatenated to EOF with no trailing bytes. Compression is out of
  * scope here BY COMPOSITION: .warc.gz is gzip members over these same
  * bytes, and the gzip lane (GzipCodec) already owns that boundary.
  *
  * Content-Length is BYTES (UTF-8), not chars — the corpus is ASCII so
  * the arithmetic oracles may use char lengths, but the codec itself
  * is byte-correct (spec-pinned with a multi-byte page). */
object WarcCodec {

  private val Crlf = "\r\n"
  private val MaxRecords = 4096

  /** The fixed warcinfo block. */
  val InfoBody: String = "software: graft/1.0\r\nformat: WARC/1.0\r\n"

  /** Fixed HTTP response header prefix (the response block is this +
    * the page). */
  val HttpRespPrefix: String = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"

  private def record(recType: String, docId: Long, idx: Int,
      uri: String, contentType: String, body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(Crlf)
    sb.append("WARC-Type: ").append(recType).append(Crlf)
    sb.append("WARC-Record-ID: <urn:graft:").append(docId).append(':')
      .append(idx).append('>').append(Crlf)
    sb.append("WARC-Date: 2026-01-01T00:00:00Z").append(Crlf)
    if (uri != null)
      sb.append("WARC-Target-URI: ").append(uri).append(Crlf)
    sb.append("Content-Type: ").append(contentType).append(Crlf)
    sb.append("Content-Length: ").append(body.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes("UTF-8")
    val out = new Array[Byte](head.length + body.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** The capture triplet as three record byte-spans. */
  private def tripletRecords(docId: Long, uri: String,
      html: String): Array[Array[Byte]] = {
    val path = {
      val i = uri.indexOf('/', uri.indexOf("//") + 2)
      if (i < 0) "/" else uri.substring(i)
    }
    val host = {
      val s = uri.indexOf("//") + 2
      val e = uri.indexOf('/', s)
      if (e < 0) uri.substring(s) else uri.substring(s, e)
    }
    val info = record("warcinfo", docId, 0, null,
      "application/warc-fields", InfoBody.getBytes("UTF-8"))
    val reqBody = s"GET $path HTTP/1.1\r\nHost: $host\r\n\r\n"
    val req = record("request", docId, 1, uri,
      "application/http;msgtype=request", reqBody.getBytes("UTF-8"))
    val respBody = (HttpRespPrefix + html).getBytes("UTF-8")
    val resp = record("response", docId, 2, uri,
      "application/http;msgtype=response", respBody)
    Array(info, req, resp)
  }

  /** One page's WARC file: warcinfo + request + response, the standard
    * capture triplet. Null html is out of contract → null. */
  def encode(docId: Long, uri: String, html: String): Array[Byte] = {
    if (uri == null || html == null) return null
    val rs = tripletRecords(docId, uri, html)
    val out = new java.io.ByteArrayOutputStream(rs.map(_.length).sum)
    rs.foreach(out.write)
    out.toByteArray
  }

  /** The same capture triplet as .warc.gz: each record gzipped as its
    * OWN member, members concatenated — the standard layout (one
    * member per record keeps the archive seekable at record
    * granularity; `cat`-concatenated members decode to the plain file,
    * which is exactly what GzipCodec.gunzip implements). */
  def encodeGz(docId: Long, uri: String, html: String): Array[Byte] = {
    if (uri == null || html == null) return null
    val rs = tripletRecords(docId, uri, html)
    val out = new java.io.ByteArrayOutputStream(256)
    rs.foreach(r => out.write(GzipCodec.gzip(r)))
    out.toByteArray
  }

  /** The same capture triplet as `.warc.zst`: each record compressed
    * as its OWN zstd frame, frames concatenated — Common Crawl's
    * current distribution layout (record-granular seeks, like the
    * one-gzip-member-per-record convention; ZstdCodec.decompress
    * decodes concatenated frames back to the plain file). */
  def encodeZst(docId: Long, uri: String, html: String): Array[Byte] = {
    if (uri == null || html == null) return null
    val rs = tripletRecords(docId, uri, html)
    val out = new java.io.ByteArrayOutputStream(256)
    rs.foreach { r =>
      val z = ZstdCodec.compress(r)
      if (z == null) return null
      out.write(z)
    }
    out.toByteArray
  }

  /** The Common Crawl DICTIONARY convention: a leading skippable frame
    * (0x184D2A5D) carries the shared raw dictionary, then each record
    * is its own frame compressed AGAINST it — per-record frames are
    * tiny, so the cross-record boilerplate is only reachable through
    * the dict. Self-contained: ZstdCodec.decompress resolves the dict
    * from the stream itself. */
  def encodeZstDict(docId: Long, uri: String, html: String,
      dict: Array[Byte]): Array[Byte] = {
    if (uri == null || html == null || dict == null) return null
    val rs = tripletRecords(docId, uri, html)
    val out = new java.io.ByteArrayOutputStream(256)
    out.write(ZstdCodec.dictFrame(dict))
    rs.foreach { r =>
      val z = ZstdCodec.compressWithDict(r, dict)
      if (z == null) return null
      out.write(z)
    }
    out.toByteArray
  }

  /** The train-once/SHIP form (VERDICT r12 #7): per-record frames
    * compressed against a dictionary that ships SEPARATELY — no
    * leading dict frame, the shard alone is NOT self-contained. This
    * is the 100-TB economics: one ≤4 KiB artifact broadcast to every
    * task instead of repeated at the head of every shard. */
  def encodeZstDictBare(docId: Long, uri: String, html: String,
      dict: Array[Byte]): Array[Byte] = {
    if (uri == null || html == null || dict == null) return null
    val rs = tripletRecords(docId, uri, html)
    val out = new java.io.ByteArrayOutputStream(256)
    rs.foreach { r =>
      val z = ZstdCodec.compressWithDict(r, dict)
      if (z == null) return null
      out.write(z)
    }
    out.toByteArray
  }

  /** The SEEKABLE `.warc.zst` form: per-record frames + the trailing
    * seek table (zstd seekable format) — record-level random access,
    * the CDX-indexed fetch pattern (pull ONE record from an archived
    * shard without decompressing the rest). */
  def encodeZstSeekable(docId: Long, uri: String, html: String): Array[Byte] = {
    if (uri == null || html == null) return null
    ZstdCodec.encodeSeekable(tripletRecords(docId, uri, html))
  }

  /** One parsed record. `httpStatus` is the embedded HTTP status for
    * msgtype=response blocks, -1 otherwise; `body` is the HTTP payload
    * (after the HTTP header terminator) for response records, ""
    * otherwise. */
  final case class Rec(recType: String, uri: String, contentLength: Long,
      httpStatus: Long, body: String)

  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Full structural walk; null on ANY contract violation. */
  def parseRaw(b: Array[Byte]): Array[Rec] = {
    if (b == null || b.length == 0) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var p = 0
    while (p < b.length) {
      if (out.size >= MaxRecords) return null
      // version line
      var e = lineEnd(b, p)
      if (e < 0) return null
      if (new String(b, p, e - p, "UTF-8") != "WARC/1.0") return null
      p = e + 2
      // headers until blank line
      var recType: String = null
      var uri: String = null
      var recId: String = null
      var date: String = null
      var ctype: String = null
      var clen = -1L
      var blank = false
      while (!blank) {
        e = lineEnd(b, p)
        if (e < 0) return null
        if (e == p) { blank = true; p += 2 }
        else {
          val line = new String(b, p, e - p, "UTF-8")
          val ci = line.indexOf(": ")
          if (ci <= 0) return null
          val name = line.substring(0, ci)
          val value = line.substring(ci + 2)
          name match {
            case "WARC-Type" => recType = value
            case "WARC-Record-ID" => recId = value
            case "WARC-Date" => date = value
            case "WARC-Target-URI" => uri = value
            case "Content-Type" => ctype = value
            case "Content-Length" =>
              if (value.isEmpty || !value.forall(_.isDigit)) return null
              if (value.length > 18) return null
              clen = value.toLong
            case _ => () // unknown headers are legal WARC; skip
          }
          p = e + 2
        }
      }
      if (recType == null || recId == null || date == null || clen < 0)
        return null
      if ((recType == "request" || recType == "response") && uri == null)
        return null
      if (p + clen + 4 > b.length) return null
      // block + terminator
      val blockStart = p
      p += clen.toInt
      if (b(p) != '\r' || b(p + 1) != '\n' ||
        b(p + 2) != '\r' || b(p + 3) != '\n') return null
      p += 4
      // embedded HTTP message for response blocks
      var status = -1L
      var body = ""
      if (ctype != null && ctype.contains("msgtype=response")) {
        val block = new String(b, blockStart, clen.toInt, "UTF-8")
        if (!block.startsWith("HTTP/1.1 ")) return null
        if (block.length < 12 || !block.substring(9, 12).forall(_.isDigit))
          return null
        status = block.substring(9, 12).toLong
        val hEnd = block.indexOf("\r\n\r\n")
        if (hEnd < 0) return null
        body = block.substring(hEnd + 4)
      }
      out += Rec(recType, if (uri == null) "" else uri, clen, status, body)
    }
    out.toArray
  }

  // ---- Spark-facing wrappers -----------------------------------------------

  def records(b: Array[Byte]): GenericArrayData = {
    val rs = parseRaw(b)
    if (rs == null) null
    else new GenericArrayData(rs.zipWithIndex.map { case (r, i) =>
      new GenericInternalRow(Array[Any](i.toLong,
        UTF8String.fromString(r.recType), UTF8String.fromString(r.uri),
        r.contentLength, r.httpStatus, UTF8String.fromString(r.body))): Any
    })
  }
}
