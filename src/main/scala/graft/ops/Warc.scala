package graft.ops

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.zip.{CRC32, Deflater, Inflater}

import graft.core.Refusal

/** WARC (Web ARChive, ISO 28500 / WARC 1.0) container support — the format
  * Common Crawl and every web-archive pipeline ships training text in.
  * Pure JVM, written from the public specifications: the WARC 1.0/1.1
  * record grammar (IIPC warc-specifications), RFC 1952 gzip (one member
  * per record, the standard `.warc.gz` layout that keeps files seekable
  * per record), and RFC 9112 HTTP/1.1 framing for the response payloads.
  *
  * The reference has no crawl ingestion at all (its front door is file
  * upload — /root/reference/backend/server.js:21); this is north-star
  * extension surface for the 100 TB story: WARC ingest is per-FILE
  * embarrassingly parallel (each `.warc.gz` splits into self-contained
  * gzip members), so a 1000-executor scan maps files to partitions and
  * never shuffles until the extracted documents aggregate.
  *
  * Failure semantics are fail-stop per file with TYPED error kinds
  * (`bad_gzip`, `truncated`, `crc_mismatch`, `bad_record`, `too_large`
  * for gzip-bomb members past [[graft.core.Budget]]) — the media
  * family's decodeSafe contract (one rotten file must not kill the scan,
  * and the error counts are themselves curation signal).
  */
object Warc {

  /** One WARC record: ordered named fields + raw content block. */
  final case class WarcRecord(headers: Seq[(String, String)], body: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    def warcType: String = header("WARC-Type").getOrElse("")
    def targetUri: String = header("WARC-Target-URI").getOrElse("")
  }

  /** Parsed HTTP/1.1 response payload of a `response` record. */
  final case class HttpResponse(
      status: Int, headers: Seq[(String, String)], body: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  }

  private def fail(kind: String, msg: String): Nothing = throw new Refusal(kind, msg)

  private val Crlf = "\r\n".getBytes(US_ASCII)

  // ------------------------------------------------------------------
  // writer (the fixture/synthesis side; also what a WARC SINK would use)
  // ------------------------------------------------------------------

  /** Serialize one record: version line, named fields, CRLF, content
    * block of exactly Content-Length bytes, CRLF CRLF separator.
    */
  def writeRecord(fields: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.0\r\n")
    fields.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(US_ASCII)
    val out = new Array[Byte](head.length + body.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    System.arraycopy(Crlf, 0, out, head.length + body.length, 2)
    System.arraycopy(Crlf, 0, out, head.length + body.length + 2, 2)
    out
  }

  /** One RFC 1952 gzip member (fixed header, raw deflate, CRC32+ISIZE
    * trailer) — `.warc.gz` is a concatenation of these, one per record.
    */
  def gzipMember(raw: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    val crc = new CRC32; crc.update(raw)
    writeIntLE(out, crc.getValue.toInt)
    writeIntLE(out, raw.length)
    out.toByteArray
  }

  private def writeIntLE(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  /** An HTTP/1.1 response message (status line + headers + body). */
  def writeHttpResponse(status: Int, reason: String,
      headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(s"HTTP/1.1 $status $reason\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(US_ASCII)
    val out = new Array[Byte](head.length + body.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(body, 0, out, head.length, body.length)
    out
  }

  // ------------------------------------------------------------------
  // reader
  // ------------------------------------------------------------------

  /** Split a (possibly multi-member) gzip byte string into its inflated
    * members, verifying each member's CRC32 and ISIZE trailer. Plain
    * (non-gzip) input is returned whole, so callers accept both `.warc`
    * and `.warc.gz`.
    */
  def gunzipMembers(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (bytes.length < 2 || bytes(0) != 0x1f || bytes(1) != 0x8b.toByte)
      return Seq(bytes)
    val members = Seq.newBuilder[Array[Byte]]
    var off = 0
    while (off < bytes.length) {
      if (off + 10 > bytes.length) fail("truncated", s"gzip header at $off")
      if (bytes(off) != 0x1f || bytes(off + 1) != 0x8b.toByte)
        fail("bad_gzip", s"bad gzip magic at member offset $off")
      if (bytes(off + 2) != 8) fail("bad_gzip", s"unsupported gzip method ${bytes(off + 2)}")
      val flg = bytes(off + 3) & 0xff
      // RFC 1952 §2.3.1.3: reserved FLG bits must be zero and a compliant
      // decompressor must error on them (zlib does; round-15 parity find)
      if ((flg & 0xe0) != 0) fail("bad_gzip", s"reserved FLG bits $flg at $off")
      var p = off + 10
      def need(n: Int): Unit =
        if (p + n > bytes.length) fail("truncated", s"gzip header extras at $p")
      if ((flg & 4) != 0) { // FEXTRA
        need(2); val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2; need(xlen); p += xlen
      }
      if ((flg & 8) != 0) { while (p < bytes.length && bytes(p) != 0) p += 1; need(1); p += 1 }
      if ((flg & 16) != 0) { while (p < bytes.length && bytes(p) != 0) p += 1; need(1); p += 1 }
      if ((flg & 2) != 0) { need(2); p += 2 }
      val inf = new Inflater(true)
      inf.setInput(bytes, p, bytes.length - p)
      val out = new ByteArrayOutputStream(4096)
      val buf = new Array[Byte](8192)
      try {
        while (!inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch { case e: java.util.zip.DataFormatException =>
              fail("bad_gzip", s"deflate error at member $off: ${e.getMessage}") }
          if (n > 0) {
            out.write(buf, 0, n)
            // gzip-bomb guard: DEFLATE expands up to ~1032:1, so the
            // trailer/CRC can't bound memory — the output size must
            // (graft.core.Budget, round 12)
            if (out.size().toLong > graft.core.Budget.maxInflatedBytes)
              fail("too_large", s"gzip member at $off inflates past " +
                s"${graft.core.Budget.maxInflatedBytes} bytes")
          } else if (inf.needsInput() || inf.needsDictionary())
            fail("truncated", s"deflate stream ends early at member $off")
        }
        val consumed = inf.getBytesRead.toInt
        val t = p + consumed
        if (t + 8 > bytes.length) fail("truncated", s"gzip trailer at $t")
        val raw = out.toByteArray
        val crc = new CRC32; crc.update(raw)
        if (readIntLE(bytes, t) != crc.getValue.toInt)
          fail("crc_mismatch", s"gzip CRC32 mismatch at member $off")
        if (readIntLE(bytes, t + 4) != raw.length)
          fail("crc_mismatch", s"gzip ISIZE mismatch at member $off")
        members += raw
        off = t + 8
      } finally inf.end()
    }
    members.result()
  }

  private def readIntLE(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** Parse the WARC records of one (already inflated) byte string.
    * Strict on the record grammar (version line, `Name: value` fields,
    * mandatory Content-Length) — a malformed record is `bad_record`,
    * never silently skipped.
    */
  def parseRecords(bytes: Array[Byte]): Seq[WarcRecord] = {
    val recs = Seq.newBuilder[WarcRecord]
    var off = 0
    while (off < bytes.length) {
      // tolerate (and consume) the inter-record CRLF CRLF separators
      while (off < bytes.length &&
        (bytes(off) == '\r'.toByte || bytes(off) == '\n'.toByte)) off += 1
      if (off < bytes.length) {
        val (version, p0) = readLine(bytes, off)
        if (!version.startsWith("WARC/"))
          fail("bad_record", s"expected WARC version line at $off, got '$version'")
        var p = p0
        val fields = Seq.newBuilder[(String, String)]
        var done = false
        while (!done) {
          val (line, q) = readLine(bytes, p)
          p = q
          if (line.isEmpty) done = true
          else {
            val i = line.indexOf(':')
            if (i <= 0) fail("bad_record", s"malformed WARC field '$line'")
            fields += ((line.substring(0, i).trim, line.substring(i + 1).trim))
          }
        }
        val rec = WarcRecord(fields.result(), Array.emptyByteArray)
        val clen = rec.header("Content-Length")
          .getOrElse(fail("bad_record", "missing Content-Length"))
          .toIntOption.getOrElse(fail("bad_record", "non-numeric Content-Length"))
        if (p + clen > bytes.length)
          fail("bad_record", s"content block overruns file: $clen bytes at $p")
        val body = java.util.Arrays.copyOfRange(bytes, p, p + clen)
        recs += rec.copy(body = body)
        off = p + clen
      }
    }
    recs.result()
  }

  private def readLine(b: Array[Byte], off: Int): (String, Int) = {
    var i = off
    while (i < b.length && b(i) != '\n'.toByte) i += 1
    if (i >= b.length) fail("bad_record", s"unterminated line at $off")
    val end = if (i > off && b(i - 1) == '\r'.toByte) i - 1 else i
    (new String(b, off, end - off, US_ASCII), i + 1)
  }

  /** Read a full `.warc` / `.warc.gz` byte string into records. */
  def read(bytes: Array[Byte]): Seq[WarcRecord] =
    gunzipMembers(bytes).flatMap(parseRecords)

  /** Parse the HTTP/1.1 response message inside a `response` record. */
  def parseHttpResponse(body: Array[Byte]): HttpResponse = {
    val (statusLine, p0) = readLine(body, 0)
    val parts = statusLine.split(" ", 3)
    if (parts.length < 2 || !parts(0).startsWith("HTTP/"))
      fail("bad_record", s"malformed HTTP status line '$statusLine'")
    val status = parts(1).toIntOption
      .getOrElse(fail("bad_record", s"non-numeric HTTP status '${parts(1)}'"))
    var p = p0
    val headers = Seq.newBuilder[(String, String)]
    var done = false
    while (!done) {
      val (line, q) = readLine(body, p)
      p = q
      if (line.isEmpty) done = true
      else {
        val i = line.indexOf(':')
        if (i <= 0) fail("bad_record", s"malformed HTTP header '$line'")
        headers += ((line.substring(0, i).trim, line.substring(i + 1).trim))
      }
    }
    HttpResponse(status, headers.result(), java.util.Arrays.copyOfRange(body, p, body.length))
  }

  // ------------------------------------------------------------------
  // file-level helpers (what the queries and a real ingest job compose)
  // ------------------------------------------------------------------

  /** Build a deterministic `.warc.gz` crawl file: one warcinfo record,
    * then one HTTP response record per (uri, status, httpHeaders, body),
    * each record its own gzip member.
    */
  def buildCrawlFile(filename: String,
      pages: Seq[(String, Int, Seq[(String, String)], Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val info = writeRecord(
      Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "WARC-Record-ID" -> s"<urn:graft:info:$filename>",
        "WARC-Filename" -> filename,
        "Content-Type" -> "application/warc-fields"),
      "software: graft-warc/1.0\r\n".getBytes(US_ASCII))
    out.write(gzipMember(info))
    pages.foreach { case (uri, status, hh, body) =>
      val reason = status match {
        case 200 => "OK"; case 301 => "Moved Permanently"
        case 404 => "Not Found"; case _ => "Unknown"
      }
      val http = writeHttpResponse(status, reason, hh, body)
      val rec = writeRecord(
        Seq(
          "WARC-Type" -> "response",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Record-ID" -> s"<urn:graft:resp:$uri>",
          "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/http;msgtype=response"),
        http)
      out.write(gzipMember(rec))
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // WET / WAT derivatives (the Common Crawl sidecar formats: WET carries
  // the extracted plain text as `conversion` records, WAT carries
  // per-page metadata JSON as `metadata` records — both WARC-framed, so
  // the record walk above is reused verbatim)
  // ------------------------------------------------------------------

  /** A WET file: warcinfo + one `conversion` record per page, plain-text
    * body (the Common Crawl `*.warc.wet.gz` layout).
    */
  def buildWetFile(filename: String,
      pages: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val info = writeRecord(
      Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "WARC-Record-ID" -> s"<urn:graft:wetinfo:$filename>",
        "WARC-Filename" -> filename,
        "Content-Type" -> "application/warc-fields"),
      "software: graft-warc/1.0\r\nextractedFrom: crawl\r\n".getBytes(US_ASCII))
    out.write(gzipMember(info))
    pages.foreach { case (uri, text) =>
      val rec = writeRecord(
        Seq(
          "WARC-Type" -> "conversion",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Record-ID" -> s"<urn:graft:conv:$uri>",
          "WARC-Refers-To" -> s"<urn:graft:resp:$uri>",
          "WARC-Target-URI" -> uri,
          "Content-Type" -> "text/plain"),
        text)
      out.write(gzipMember(rec))
    }
    out.toByteArray
  }

  /** A WAT file: warcinfo + one `metadata` record per page whose body is
    * the envelope JSON (the Common Crawl `*.warc.wat.gz` layout).
    */
  def buildWatFile(filename: String,
      pages: Seq[(String, String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val info = writeRecord(
      Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "WARC-Record-ID" -> s"<urn:graft:watinfo:$filename>",
        "WARC-Filename" -> filename,
        "Content-Type" -> "application/warc-fields"),
      "software: graft-warc/1.0\r\n".getBytes(US_ASCII))
    out.write(gzipMember(info))
    pages.foreach { case (uri, json) =>
      val rec = writeRecord(
        Seq(
          "WARC-Type" -> "metadata",
          "WARC-Date" -> "2026-01-01T00:00:00Z",
          "WARC-Record-ID" -> s"<urn:graft:meta:$uri>",
          "WARC-Refers-To" -> s"<urn:graft:resp:$uri>",
          "WARC-Target-URI" -> uri,
          "Content-Type" -> "application/json"),
        json.getBytes(UTF_8))
      out.write(gzipMember(rec))
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // revisit records (WARC 1.1 §6.7 — the Common Crawl dedup mechanism:
  // a re-fetch whose payload matched an earlier capture is stored as a
  // body-less `revisit` pointing at the original via WARC-Refers-To,
  // with WARC-Payload-Digest repeating the original's payload digest)
  // ------------------------------------------------------------------

  /** `sha1:` + RFC 4648 base32 of SHA-1, the digest spelling Common
    * Crawl's WARC-Payload-Digest headers actually use.
    */
  def payloadDigest(body: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(body)
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(40)
    var buf = 0L
    var bits = 0
    var i = 0
    while (i < d.length) {
      buf = (buf << 8) | (d(i) & 0xffL)
      bits += 8
      while (bits >= 5) {
        sb.append(alphabet(((buf >> (bits - 5)) & 31).toInt))
        bits -= 5
      }
      i += 1
    }
    if (bits > 0) sb.append(alphabet(((buf << (5 - bits)) & 31).toInt))
    "sha1:" + sb.result()
  }

  /** A revisit file: warcinfo + one body-less `revisit` record per entry
    * (uri, refersToId, refersToUri, payloadDigest), the
    * identical-payload-digest profile.
    */
  def buildRevisitFile(filename: String,
      entries: Seq[(String, String, String, String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(4096)
    val info = writeRecord(
      Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "WARC-Record-ID" -> s"<urn:graft:revinfo:$filename>",
        "WARC-Filename" -> filename,
        "Content-Type" -> "application/warc-fields"),
      "software: graft-warc/1.0\r\n".getBytes(US_ASCII))
    out.write(gzipMember(info))
    entries.foreach { case (uri, refId, refUri, digest) =>
      val rec = writeRecord(
        Seq(
          "WARC-Type" -> "revisit",
          "WARC-Date" -> "2026-01-02T00:00:00Z",
          "WARC-Record-ID" -> s"<urn:graft:rev:$uri>",
          "WARC-Target-URI" -> uri,
          "WARC-Profile" ->
            "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
          "WARC-Refers-To" -> refId,
          "WARC-Refers-To-Target-URI" -> refUri,
          "WARC-Payload-Digest" -> digest),
        Array.emptyByteArray)
      out.write(gzipMember(rec))
    }
    out.toByteArray
  }

  /** The `revisit` records of a file as (targetUri, refersTo, refersToUri,
    * payloadDigest). A revisit without WARC-Refers-To or a payload digest
    * cannot be resolved and is malformed.
    */
  def revisitRecords(bytes: Array[Byte]): Seq[(String, String, String, String)] =
    read(bytes).filter(_.warcType == "revisit").map { r =>
      val ref = r.header("WARC-Refers-To")
        .getOrElse(fail("bad_record", "revisit without WARC-Refers-To"))
      val digest = r.header("WARC-Payload-Digest")
        .getOrElse(fail("bad_record", "revisit without WARC-Payload-Digest"))
      (r.targetUri, ref, r.header("WARC-Refers-To-Target-URI").getOrElse(""), digest)
    }

  def revisitRecordsSafe(bytes: Array[Byte])
      : Either[String, Seq[(String, String, String, String)]] =
    Refusal.attempt(revisitRecords(bytes), "bad_frame")

  /** WET view: the `conversion` records as (targetUri, text). A record
    * claiming conversion without a target URI is malformed.
    */
  def wetRecords(bytes: Array[Byte]): Seq[(String, String)] =
    read(bytes).filter(_.warcType == "conversion").map { r =>
      if (r.targetUri.isEmpty) fail("bad_record", "conversion without WARC-Target-URI")
      (r.targetUri, new String(r.body, UTF_8))
    }

  /** WAT view: the `metadata` records as (targetUri, rawJson). */
  def watRecords(bytes: Array[Byte]): Seq[(String, String)] =
    read(bytes).filter(_.warcType == "metadata").map { r =>
      if (r.targetUri.isEmpty) fail("bad_record", "metadata without WARC-Target-URI")
      (r.targetUri, new String(r.body, UTF_8))
    }

  def wetRecordsSafe(bytes: Array[Byte]): Either[String, Seq[(String, String)]] =
    Refusal.attempt(wetRecords(bytes), "bad_record")

  def watRecordsSafe(bytes: Array[Byte]): Either[String, Seq[(String, String)]] =
    Refusal.attempt(watRecords(bytes), "bad_record")

  /** Fail-stop safe read: `Right(records)` or `Left(errorKind)`. */
  def readSafe(bytes: Array[Byte]): Either[String, Seq[WarcRecord]] =
    Refusal.attempt(read(bytes), "bad_record")

  /** Per-record safe HTTP parse: a structurally valid WARC can still carry
    * a malformed HTTP payload (unterminated header line, non-numeric
    * status, colon-less header). The safe scan contract is one typed error
    * ROW per rotten record, not a task-killing throw — so this is the only
    * HTTP entry point the *Safe scans may use (round-12 fix: they
    * previously called [[parseHttpResponse]] raw inside the Right branch).
    */
  def parseHttpResponseSafe(body: Array[Byte]): Either[String, HttpResponse] =
    Refusal.attempt(parseHttpResponse(body), "bad_record")
}
