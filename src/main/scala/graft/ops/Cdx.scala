package graft.ops

/** CDXJ crawl-index records — the lookup sidecar every web archive ships
  * next to its WARC files (one line per capture: SURT key, 14-digit
  * timestamp, JSON metadata) and the thing a 100 TB archive is randomly
  * accessed through. Written from the public conventions: the CDXJ line
  * grammar used by pywb/OpenWayback and the SURT (Sort-friendly URI
  * Reordering Transform) canonical key — the WHOLE url lowercased
  * (query included), scheme/userinfo dropped, default port dropped,
  * host labels reversed and comma-joined (IP-literal hosts kept
  * verbatim — reversing an address is meaningless; bracketed IPv6
  * refuses typed), `)` before the path, query parameters sorted,
  * fragment dropped, one leading `www.` label stripped (the pywb
  * default canonicalizer).
  *
  * The typed-refusal contract matches [[Warc]]: a malformed line is a
  * `bad_record`, never a throw.
  */
object Cdx {

  import graft.core.Refusal

  private def fail(msg: String): Nothing = throw new Refusal("bad_record", msg)

  final case class Capture(surt: String, timestamp: String, url: String,
      mime: String, status: Int, digest: String, length: Long,
      offset: Long, filename: String)

  // ------------------------------------------------------------- SURT --

  /** SURT key for an absolute http(s) URL. */
  def surt(url: String): String = {
    val noFrag = url.indexOf('#') match {
      case -1 => url
      case i => url.substring(0, i)
    }
    val schemeEnd = noFrag.indexOf("://")
    if (schemeEnd < 0) fail(s"not an absolute URL: $url")
    val scheme = noFrag.substring(0, schemeEnd).toLowerCase
    if (scheme != "http" && scheme != "https") fail(s"unsupported scheme $scheme")
    val rest = noFrag.substring(schemeEnd + 3)
    val pathStart = rest.indexWhere(c => c == '/' || c == '?')
    val (authority, pathQuery) =
      if (pathStart < 0) (rest, "/")
      else (rest.substring(0, pathStart),
        if (rest.charAt(pathStart) == '?') "/" + rest.substring(pathStart)
        else rest.substring(pathStart))
    val hostPort = authority.lastIndexOf('@') match {
      case -1 => authority
      case i => authority.substring(i + 1) // userinfo dropped
    }
    val (host0, port) = hostPort.lastIndexOf(':') match {
      case -1 => (hostPort, "")
      case i => (hostPort.substring(0, i), hostPort.substring(i + 1))
    }
    if (host0.isEmpty) fail(s"empty host in $url")
    if (host0.startsWith("[")) fail(s"bracketed IPv6 host in $url")
    val host1 = host0.toLowerCase
    // IP-literal hosts are NOT label-reversed and never www-stripped
    // (the Heritrix/pywb SURT rule — reversing an address is meaningless)
    val isIp = host1.nonEmpty && host1.forall(c => c.isDigit || c == '.')
    val host = if (!isIp && host1.startsWith("www.") && host1.count(_ == '.') >= 2)
      host1.substring(4) else host1
    val keepPort = port.nonEmpty &&
      !((scheme == "http" && port == "80") || (scheme == "https" && port == "443"))
    val revHost = if (isIp) host else host.split('.').reverse.mkString(",")
    val (path, query) = pathQuery.indexOf('?') match {
      case -1 => (pathQuery, "")
      case i => (pathQuery.substring(0, i), pathQuery.substring(i + 1))
    }
    // the pywb default canonicalizer lowercases the WHOLE url, query
    // included, before keying
    val sortedQuery =
      if (query.isEmpty) ""
      else "?" + query.toLowerCase.split('&').toSeq.sorted.mkString("&")
    val portPart = if (keepPort) s":$port" else ""
    s"$revHost$portPart)${path.toLowerCase}$sortedQuery"
  }

  // ------------------------------------------------------------- lines --

  /** One CDXJ line: `surt timestamp {json}` (pywb layout). */
  def writeLine(c: Capture): String = {
    require(c.timestamp.length == 14 && c.timestamp.forall(_.isDigit),
      s"bad timestamp ${c.timestamp}")
    val json = graft.etl.JObj(Vector(
      "url" -> graft.etl.JStr(c.url),
      "mime" -> graft.etl.JStr(c.mime),
      "status" -> graft.etl.JStr(c.status.toString),
      "digest" -> graft.etl.JStr(c.digest),
      "length" -> graft.etl.JStr(c.length.toString),
      "offset" -> graft.etl.JStr(c.offset.toString),
      "filename" -> graft.etl.JStr(c.filename)))
    s"${c.surt} ${c.timestamp} ${graft.etl.Json.render(json)}"
  }

  def parseLine(line: String): Capture = {
    val sp1 = line.indexOf(' ')
    if (sp1 <= 0) fail("missing surt field")
    val sp2 = line.indexOf(' ', sp1 + 1)
    if (sp2 <= sp1 + 1) fail("missing timestamp field")
    val surtKey = line.substring(0, sp1)
    val ts = line.substring(sp1 + 1, sp2)
    if (ts.length != 14 || !ts.forall(_.isDigit)) fail(s"bad timestamp $ts")
    val json = line.substring(sp2 + 1)
    val fields = graft.etl.Json.parseOpt(json) match {
      case Some(graft.etl.JObj(fs)) => fs.toMap
      case _ => fail("metadata is not a JSON object")
    }
    def str(k: String): String = fields.get(k) match {
      case Some(graft.etl.JStr(s)) => s
      case _ => fail(s"missing/non-string $k")
    }
    def lng(k: String): Long =
      try str(k).toLong catch { case _: NumberFormatException => fail(s"non-numeric $k") }
    val status =
      try str("status").toInt catch { case _: NumberFormatException => fail("non-numeric status") }
    Capture(surtKey, ts, str("url"), str("mime"), status,
      str("digest"), lng("length"), lng("offset"), str("filename"))
  }

  def parseLineSafe(line: String): Either[String, Capture] =
    Refusal.attempt(parseLine(line), "bad_record")
}
