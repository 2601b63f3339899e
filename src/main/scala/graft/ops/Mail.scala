package graft.ops

import java.nio.charset.{Charset, StandardCharsets}

/** Email message + mailbox parsing (RFC 5322 framing, MIME per RFC
  * 2045/2046, encoded-word headers per RFC 2047, mboxrd splitting):
  * mail archives are a standing LLM-pretraining source (list archives,
  * public dumps), and a 100 TB crawl scan meets `.eml`/`.mbox` shards
  * the way it meets tar/zip/warc. From scratch on the JVM:
  *
  *  - header block: CRLF or LF line endings, WSP unfolding, first-colon
  *    name/value split;
  *  - RFC 2047 `=?charset?B/Q?...?=` decoding in Subject/From/To, with
  *    adjacent-encoded-word whitespace elision;
  *  - Content-Type parameter grammar (quoted + token params, boundary,
  *    charset) and recursive multipart walk (mixed/alternative/related,
  *    preamble/epilogue dropped, unterminated boundary refuses);
  *  - Content-Transfer-Encoding: strict base64 (a non-alphabet byte is
  *    rot, typed — the JDK MIME decoder silently skips it, which is how
  *    a corrupted archive ships garbage downstream), quoted-printable
  *    (soft breaks, =XX, trailing-WSP strip), 7bit/8bit/binary identity;
  *  - mboxrd mailbox splitting (`From ` separators at line starts,
  *    `>+From ` unescaping in bodies).
  *
  * Family contract as [[Tar]]/[[SevenZip]]: deterministic writers
  * ([[writeEml]]/[[writeMbox]]), strict typed refusals (`bad_mail` /
  * `bad_b64` / `bad_mbox` / `unsupported`), fixture parity against
  * CPython's `email` + `mailbox` output (tools/make_mail_fixture.py).
  *
  * Reference behavior pinned: ETL-Pipeline-Project-Auraverse has no
  * mail surface (app.py reads loose csv/json/txt uploads only); this is
  * north-star corpus-ingest surface.
  */
object Mail {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_mail", msg)

  final case class MailPart(
      contentType: String,
      charset: String,
      disposition: String,
      filename: String,
      body: Array[Byte])

  final case class MailMessage(
      headers: Vector[(String, String)],
      parts: Vector[MailPart]) {
    def header(name: String): Option[String] =
      headers.find(_._1.equalsIgnoreCase(name)).map(_._2)
    def subject: String = header("Subject").getOrElse("")
    def from: String = header("From").getOrElse("")
    /** all non-attachment text/plain parts, decoded, joined. */
    def textBody: String = parts
      .filter(p => p.contentType == "text/plain" && p.disposition != "attachment")
      .map(p => new String(p.body, cs(p.charset))).mkString("\n")
    def htmlBody: String = parts
      .filter(p => p.contentType == "text/html" && p.disposition != "attachment")
      .map(p => new String(p.body, cs(p.charset))).mkString("\n")
    def attachments: Vector[(String, Int)] = parts
      .filter(_.disposition == "attachment").map(p => (p.filename, p.body.length))
  }

  private def cs(name: String): Charset =
    try Charset.forName(name)
    catch { case _: Exception => StandardCharsets.ISO_8859_1 }

  // ------------------------------------------------------------ parsing

  def parseSafe(bytes: Array[Byte]): Either[String, MailMessage] =
    Refusal.attempt(parse(bytes), "bad_mail")

  def parse(bytes: Array[Byte]): MailMessage = parseEntity(bytes, 0)

  /** one RFC 5322 entity: header block + body, recursing into multipart. */
  private def parseEntity(bytes: Array[Byte], depth: Int): MailMessage = {
    if (depth > 8) throw new Refusal("unsupported", "multipart nesting past 8")
    val (rawHeaders, bodyStart) =
      // a part may legally have an EMPTY header block (defaults apply)
      if (bytes.nonEmpty && bytes(0) == '\n') (Vector.empty[(String, String)], 1)
      else if (bytes.length >= 2 && bytes(0) == '\r' && bytes(1) == '\n')
        (Vector.empty[(String, String)], 2)
      else splitHeaders(bytes)
    val headers = rawHeaders.map { case (n, v) => (n, decodeWords(v)) }
    val ct = rawHeaders.find(_._1.equalsIgnoreCase("Content-Type")).map(_._2)
      .getOrElse("text/plain; charset=us-ascii")
    val (mediaType, params) = contentType(ct)
    val cte = rawHeaders.find(_._1.equalsIgnoreCase("Content-Transfer-Encoding"))
      .map(_._2.trim.toLowerCase).getOrElse("7bit")
    val (disposition, dparams) =
      rawHeaders.find(_._1.equalsIgnoreCase("Content-Disposition"))
        .map(h => contentType(h._2)).getOrElse(("inline", Map.empty[String, String]))
    val body = java.util.Arrays.copyOfRange(bytes, bodyStart, bytes.length)

    if (mediaType.startsWith("multipart/")) {
      val boundary = params.getOrElse("boundary", bad("multipart without boundary"))
      if (cte != "7bit" && cte != "8bit" && cte != "binary")
        bad(s"multipart with transfer encoding $cte")
      val parts = splitMultipart(body, boundary)
        .flatMap(p => parseEntity(p, depth + 1).parts)
      MailMessage(headers, parts)
    } else {
      val decoded = cte match {
        case "base64" => b64Strict(body)
        case "quoted-printable" => qpDecode(body)
        case "7bit" | "8bit" | "binary" => body
        case other => throw new Refusal("unsupported", s"transfer encoding $other")
      }
      val filename = decodeWords(
        dparams.getOrElse("filename", params.getOrElse("name", "")))
      MailMessage(headers, Vector(MailPart(mediaType,
        params.getOrElse("charset", "us-ascii"), disposition, filename, decoded)))
    }
  }

  /** header block → unfolded (name, value) pairs + body offset. */
  private def splitHeaders(bytes: Array[Byte]): (Vector[(String, String)], Int) = {
    // locate the blank line (CRLFCRLF or LFLF); headers are latin-1 at
    // this layer (RFC 2047 re-decodes the real charset on top)
    var i = 0
    var blankAt = -1
    var bodyAt = bytes.length
    while (i < bytes.length && blankAt < 0) {
      if (bytes(i) == '\n') {
        if (i + 1 < bytes.length && bytes(i + 1) == '\n') {
          blankAt = i; bodyAt = i + 2
        } else if (i + 2 < bytes.length && bytes(i + 1) == '\r' && bytes(i + 2) == '\n') {
          blankAt = i; bodyAt = i + 3
        } else if (i + 1 == bytes.length) {
          blankAt = i; bodyAt = bytes.length
        }
      }
      i += 1
    }
    if (blankAt < 0) { blankAt = bytes.length; bodyAt = bytes.length }
    val block = new String(bytes, 0, blankAt, StandardCharsets.ISO_8859_1)
    val lines = block.split("\n", -1).map(l =>
      if (l.endsWith("\r")) l.dropRight(1) else l).filter(_.nonEmpty)
    // unfold: WSP-led lines continue the previous header
    val unfolded = Vector.newBuilder[String]
    var cur: StringBuilder = null
    lines.foreach { l =>
      if (l.head == ' ' || l.head == '\t') {
        if (cur == null) bad("continuation line before any header")
        cur.append(' ').append(l.trim)
      } else {
        if (cur != null) unfolded += cur.toString
        cur = new StringBuilder(l)
      }
    }
    if (cur != null) unfolded += cur.toString
    val hs = unfolded.result().map { h =>
      val c = h.indexOf(':')
      if (c < 1) bad(s"header line without a colon: ${h.take(40)}")
      (h.substring(0, c).trim, h.substring(c + 1).trim)
    }
    (hs, bodyAt)
  }

  /** Content-Type / Content-Disposition value: type + params (RFC 2045
    * token/quoted-string grammar, parameter names case-insensitive).
    */
  private[ops] def contentType(v: String): (String, Map[String, String]) = {
    val parts = splitParams(v)
    val mt = parts.headOption.map(_.trim.toLowerCase).getOrElse("")
    val params = parts.drop(1).flatMap { p =>
      val eq = p.indexOf('=')
      if (eq < 0) None
      else {
        val k = p.substring(0, eq).trim.toLowerCase
        var raw = p.substring(eq + 1).trim
        if (raw.length >= 2 && raw.head == '"' && raw.last == '"')
          raw = raw.substring(1, raw.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
        Some(k -> raw)
      }
    }.toMap
    (mt, params)
  }

  /** split on top-level ';' (quoted strings may contain ';'). */
  private def splitParams(v: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var esc = false
    v.foreach { c =>
      if (esc) { cur.append(c); esc = false }
      else if (c == '\\' && inQ) { cur.append(c); esc = true }
      else if (c == '"') { cur.append(c); inQ = !inQ }
      else if (c == ';' && !inQ) { out += cur.toString; cur.clear() }
      else cur.append(c)
    }
    out += cur.toString
    out.result()
  }

  /** the multipart body walk: parts between `--boundary` delimiters,
    * terminated by `--boundary--`; missing terminator is rot.
    */
  private def splitMultipart(body: Array[Byte], boundary: String): Vector[Array[Byte]] = {
    val text = new String(body, StandardCharsets.ISO_8859_1)
    val delim = "--" + boundary
    val out = Vector.newBuilder[Array[Byte]]
    var at = 0
    var inPart = -1
    var closed = false
    while (at <= text.length && !closed) {
      val lineEnd0 = text.indexOf('\n', at)
      val lineEnd = if (lineEnd0 < 0) text.length else lineEnd0
      val line = {
        val l = text.substring(at, lineEnd)
        if (l.endsWith("\r")) l.dropRight(1) else l
      }
      if (line == delim || line == delim + "--") {
        if (inPart >= 0) {
          // part body: everything from its start to before this line's EOL
          var end = at - 1 // the '\n' before this line
          if (end > inPart && text.charAt(end - 1) == '\r') end -= 1
          out += text.substring(inPart, math.max(inPart, end))
            .getBytes(StandardCharsets.ISO_8859_1)
        }
        if (line.endsWith("--")) closed = true
        else inPart = lineEnd + 1
      }
      if (lineEnd0 < 0) at = text.length + 1 else at = lineEnd + 1
    }
    if (!closed) bad("multipart body without the closing boundary")
    out.result()
  }

  // ------------------------------------------------- header RFC 2047

  private val EncodedWord =
    """=\?([^?]+)\?([bBqQ])\?([^?]*)\?=""".r

  /** decode every `=?cs?B/Q?..?=` run; whitespace BETWEEN two encoded
    * words is elided (RFC 2047 §6.2).
    */
  private[ops] def decodeWords(v: String): String = {
    val ms = EncodedWord.findAllMatchIn(v).toVector
    if (ms.isEmpty) return v
    val sb = new StringBuilder
    var pos = 0
    var lastEnd = -1
    ms.foreach { m =>
      val between = v.substring(pos, m.start)
      // elide a pure-WSP gap between two ADJACENT encoded words
      val elide = lastEnd == pos && between.nonEmpty &&
        between.forall(c => c == ' ' || c == '\t')
      if (!elide) sb.append(between)
      val charset = cs(m.group(1))
      val payload = m.group(3)
      val bytes = m.group(2).toLowerCase match {
        case "b" => b64Strict(payload.getBytes(StandardCharsets.US_ASCII))
        case _ => qWordDecode(payload)
      }
      sb.append(new String(bytes, charset))
      pos = m.end
      lastEnd = m.end
    }
    sb.append(v.substring(pos))
    sb.toString
  }

  /** RFC 2047 §4.2 Q decoding: `_` → space (INCLUDING trailing ones —
    * clients put the inter-word space as a trailing `_`, and routing
    * through [[qpDecode]]'s transport-padding strip would delete it),
    * `=XX` → byte, everything else literal.
    */
  private def qWordDecode(payload: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length)
    def hex(c: Char): Int = Character.digit(c, 16)
    var i = 0
    while (i < payload.length) {
      payload.charAt(i) match {
        case '_' => out.write(' ')
        case '=' =>
          if (i + 2 >= payload.length) bad("Q escape at end of encoded word")
          val h = hex(payload.charAt(i + 1))
          val l = hex(payload.charAt(i + 2))
          if (h < 0 || l < 0) bad(s"Q escape =${payload.substring(i + 1, i + 3)}")
          out.write((h << 4) | l)
          i += 2
        case c => out.write(c.toInt & 0xff)
      }
      i += 1
    }
    out.toByteArray
  }

  // ------------------------------------------------- transfer codings

  private val B64: Array[Int] = {
    val t = Array.fill(256)(-1)
    val alpha = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
    alpha.zipWithIndex.foreach { case (c, i) => t(c) = i }
    t
  }

  /** strict MIME base64: CRLF/WSP allowed between groups, any other
    * non-alphabet byte is typed rot (the JDK's mime decoder SKIPS it —
    * lenient readers are how corrupted archives ship wrong bytes).
    */
  private[ops] def b64Strict(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length * 3 / 4 + 4)
    var acc = 0
    var nbits = 0
    var nchars = 0
    var pad = 0
    var i = 0
    while (i < body.length) {
      val c = body(i) & 0xff
      if (c == '\r' || c == '\n' || c == ' ' || c == '\t') ()
      else if (c == '=') pad += 1
      else {
        val v = B64(c)
        if (v < 0) throw new Refusal("bad_b64", f"base64 byte 0x$c%02x")
        if (pad > 0) throw new Refusal("bad_b64", "base64 data after padding")
        acc = (acc << 6) | v
        nbits += 6
        nchars += 1
        if (nbits >= 8) {
          nbits -= 8
          out.write((acc >>> nbits) & 0xff)
        }
      }
      i += 1
    }
    if (pad > 2) throw new Refusal("bad_b64", "base64 over-padding")
    if ((nchars + pad) % 4 != 0)
      throw new Refusal("bad_b64", "base64 group length")
    if (nchars % 4 == 1) throw new Refusal("bad_b64", "base64 dangling char")
    out.toByteArray
  }

  /** quoted-printable: =XX, soft breaks (=CRLF / =LF), trailing
    * whitespace before a hard break stripped (RFC 2045 §6.7 rule 3).
    */
  private[ops] def qpDecode(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    def hex(b: Int): Int = b match {
      case d if d >= '0' && d <= '9' => d - '0'
      case d if d >= 'A' && d <= 'F' => d - 'A' + 10
      case d if d >= 'a' && d <= 'f' => d - 'a' + 10
      case _ => -1
    }
    // pre-strip trailing WSP on each line (transport padding)
    val text = new String(body, StandardCharsets.ISO_8859_1)
      .split("\n", -1).map { l0 =>
        val l = if (l0.endsWith("\r")) l0.dropRight(1) else l0
        l.replaceAll("[ \t]+$", "")
      }.mkString("\n")
    val b = text.getBytes(StandardCharsets.ISO_8859_1)
    var i = 0
    while (i < b.length) {
      val c = b(i) & 0xff
      if (c == '=') {
        if (i + 1 < b.length && b(i + 1) == '\n') i += 1 // soft break
        else if (i + 2 < b.length) {
          val h = hex(b(i + 1) & 0xff)
          val l = hex(b(i + 2) & 0xff)
          if (h < 0 || l < 0) bad(s"quoted-printable escape =${text.substring(i + 1, i + 3)}")
          out.write((h << 4) | l)
          i += 2
        } else bad("quoted-printable escape at end of body")
      } else out.write(c)
      i += 1
    }
    out.toByteArray
  }

  // --------------------------------------------------------- mboxrd

  def mboxSplitSafe(bytes: Array[Byte]): Either[String, Vector[Array[Byte]]] =
    Refusal.attempt(mboxSplit(bytes), "bad_mbox")

  /** mboxrd: messages delimited by `From ` at line starts; body lines
    * matching `>+From ` lose one `>`. An empty file is zero messages; a
    * nonempty file NOT starting with `From ` is rot.
    */
  def mboxSplit(bytes: Array[Byte]): Vector[Array[Byte]] = {
    if (bytes.isEmpty) return Vector.empty
    val text = new String(bytes, StandardCharsets.ISO_8859_1)
    if (!text.startsWith("From "))
      throw new Refusal("bad_mbox", "mbox must open with a From separator")
    val out = Vector.newBuilder[Array[Byte]]
    val cur = new StringBuilder
    var first = true
    var lines = text.split("\n", -1)
    // a trailing newline yields one artifact empty segment — not a line
    if (lines.nonEmpty && lines.last.isEmpty) lines = lines.init
    lines.foreach { l0 =>
      val l = if (l0.endsWith("\r")) l0.dropRight(1) else l0
      if (l.startsWith("From ")) {
        if (!first) out += finishMboxMsg(cur)
        cur.clear()
        first = false
      } else if (l.matches(">+From .*")) cur.append(l.substring(1)).append('\n')
      else cur.append(l).append('\n')
    }
    out += finishMboxMsg(cur)
    out.result()
  }

  private def finishMboxMsg(sb: StringBuilder): Array[Byte] = {
    // drop the ONE blank separator line mbox framing appends (never
    // more — further blank lines belong to the message body)
    var s = sb.toString
    if (s.endsWith("\n\n")) s = s.dropRight(1)
    s.getBytes(StandardCharsets.ISO_8859_1)
  }

  // --------------------------------------------------------- writers

  /** Deterministic single-part message: 7bit body when it is clean
    * ASCII without long lines, else base64; RFC 2047 B-encoded subject
    * when non-ASCII. CRLF-free (LF endings, the python `email` default
    * our fixture parity pins).
    */
  def writeEml(from: String, to: String, subject: String, date: String,
      body: String, forceB64: Boolean = false): Array[Byte] = {
    val sb = new StringBuilder
    def encWord(s: String): String =
      if (s.forall(c => c >= 32 && c < 127)) s
      else "=?utf-8?b?" + java.util.Base64.getEncoder.encodeToString(
        s.getBytes(StandardCharsets.UTF_8)) + "?="
    sb.append("From: ").append(encWord(from)).append('\n')
    sb.append("To: ").append(encWord(to)).append('\n')
    sb.append("Subject: ").append(encWord(subject)).append('\n')
    sb.append("Date: ").append(date).append('\n')
    sb.append("MIME-Version: 1.0\n")
    val ascii = !forceB64 &&
      body.forall(c => (c >= 32 && c < 127) || c == '\n' || c == '\t') &&
      !body.split("\n", -1).exists(_.length > 900)
    if (ascii) {
      sb.append("Content-Type: text/plain; charset=\"us-ascii\"\n")
      sb.append("Content-Transfer-Encoding: 7bit\n\n")
      sb.append(body)
    } else {
      sb.append("Content-Type: text/plain; charset=\"utf-8\"\n")
      sb.append("Content-Transfer-Encoding: base64\n\n")
      val b64 = java.util.Base64.getEncoder.encodeToString(
        body.getBytes(StandardCharsets.UTF_8))
      sb.append(b64.grouped(76).mkString("\n"))
    }
    sb.append('\n')
    sb.toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** mboxrd mailbox of messages, deterministic separators. Messages are
    * newline-normalized (exactly one trailing `\n`) so the split/write
    * pair round-trips byte-exact.
    */
  def writeMbox(messages: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      messages.foldLeft(64)(_ + _.length + 48))
    messages.foreach { m =>
      out.write("From MAILER-DAEMON Thu Jan  1 00:00:00 1970\n"
        .getBytes(StandardCharsets.ISO_8859_1))
      var text = new String(m, StandardCharsets.ISO_8859_1)
      if (!text.endsWith("\n")) text += "\n"
      var lines = text.split("\n", -1)
      if (lines.last.isEmpty) lines = lines.init // the trailing-\n artifact
      lines.foreach { l =>
        val esc = if (l.matches(">*From .*")) ">" + l else l
        out.write(esc.getBytes(StandardCharsets.ISO_8859_1))
        out.write('\n')
      }
      out.write('\n') // the blank separator line
    }
    out.toByteArray
  }
}
