package graft.etl

import graft.core.Refusal

/** OpenDocument Text extraction (round 17 — the fourth office leg after
  * DOCX/XLSX/PPTX): an ODF 1.2 (OASIS) content walk composed from the
  * proven [[graft.ops.Zip]] reader + the hardened JDK SAX parser.
  * LibreOffice/OpenOffice corpora ship `.odt` alongside OOXML, and
  * odfpy's `teletype.extractText` linear-walk semantics are the
  * de-facto extraction baseline this mirrors:
  *
  *   - paragraphs are `text:p` and `text:h` elements under
  *     `office:body`, each starting a new output line in document order
  *     (nested frame paragraphs contribute their own lines inline, the
  *     linear teletype walk);
  *   - character data inside an open paragraph is kept verbatim;
  *     `text:s` expands to `text:c` spaces (default 1), `text:tab` to
  *     `\t`, `text:line-break` to `\n`;
  *   - styles, settings, and metadata parts contribute nothing.
  *
  * The zip's `mimetype` member, when present, must declare an
  * opendocument type — a lying mimetype refuses rather than extracting
  * a spreadsheet as prose. SAX hardening and the output budget follow
  * [[DocxText]] (no DTDs, no external entities, capped output).
  *
  * Typed refusals: not a zip → `bad_zip`/`truncated` (from
  * [[graft.ops.Zip]]); no `content.xml`, malformed XML, or a foreign
  * mimetype → `bad_odt`.
  */
object OdtText {

  private val OfficeNs = Set(
    "urn:oasis:names:tc:opendocument:xmlns:office:1.0", "")
  private val TextNs = Set(
    "urn:oasis:names:tc:opendocument:xmlns:text:1.0", "")

  def extractSafe(bytes: Array[Byte]): Either[String, String] =
    Refusal.attempt(extract(bytes), "bad_odt")

  def extract(bytes: Array[Byte]): String = {
    val members = graft.ops.Zip.read(bytes)
    members.find(_.name == "mimetype").foreach { m =>
      val mt = new String(m.body, java.nio.charset.StandardCharsets.US_ASCII)
      if (!mt.startsWith("application/vnd.oasis.opendocument"))
        throw new Refusal("bad_odt", s"foreign mimetype $mt")
    }
    val doc = members.find(_.name == "content.xml").getOrElse(
      throw new Refusal("bad_odt",
        "archive has no content.xml part"))
    parseContentXml(doc.body)
  }

  /** the ODF content walk (exposed for specs). The hardened SAX factory
    * (no DTDs, no external entities) is the ONE shared instance in
    * [[XlsxText.parseXml]] — the office extractors must not each carry
    * their own copy of the XXE block.
    */
  def parseContentXml(xml: Array[Byte]): String = {
    val out = new java.lang.StringBuilder()
    val cap = graft.core.Budget.maxInflatedBytes

    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var bodyDepth = 0 // inside office:body
      private var paraDepth = 0 // open text:p / text:h nesting
      private var firstPara = true

      private def grow(n: Int): Unit =
        if (out.length().toLong + n > cap)
          throw new Refusal("too_large",
            s"odt text inflates past $cap bytes")

      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = {
        if (OfficeNs.contains(uri) && local == "body") bodyDepth += 1
        else if (bodyDepth > 0 && TextNs.contains(uri)) local match {
          case "p" | "h" =>
            if (!firstPara) { grow(1); out.append('\n') }
            firstPara = false
            paraDepth += 1
          case "s" if paraDepth > 0 =>
            val c = Option(atts.getValue(
              "urn:oasis:names:tc:opendocument:xmlns:text:1.0", "c"))
              .orElse(Option(atts.getValue("text:c")))
              .map(_.toInt).getOrElse(1)
            if (c < 0 || c > 1000000)
              throw new Refusal("bad_odt", s"text:s c=$c")
            grow(c)
            var i = 0
            while (i < c) { out.append(' '); i += 1 }
          case "tab" if paraDepth > 0 => grow(1); out.append('\t')
          case "line-break" if paraDepth > 0 => grow(1); out.append('\n')
          case _ => ()
        }
      }

      override def endElement(uri: String, local: String, qName: String): Unit = {
        if (OfficeNs.contains(uri) && local == "body") bodyDepth -= 1
        else if (bodyDepth > 0 && TextNs.contains(uri) &&
            (local == "p" || local == "h") && paraDepth > 0) paraDepth -= 1
      }

      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        if (bodyDepth > 0 && paraDepth > 0) { grow(length); out.append(ch, start, length) }
    }

    try XlsxText.parseXml("content.xml", xml, handler, kind = "bad_odt")
    catch {
      case _: NumberFormatException =>
        throw new Refusal("bad_odt", "non-numeric text:s count")
    }
    out.toString
  }

  // --------------------------------------------------------- writer

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case ' ' =>
          // runs of 2+ spaces ride text:s (ODF collapses literal runs)
          var j = i
          while (j < s.length && s.charAt(j) == ' ') j += 1
          val n = j - i
          sb.append(' ')
          if (n > 1) sb.append(s"""<text:s text:c="${n - 1}"/>""")
          i = j - 1
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '\t' => sb.append("<text:tab/>")
        case '\n' => sb.append("<text:line-break/>")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Deterministic minimal ODF text package: stored-order members
    * (`mimetype`, manifest, `content.xml`), one `text:p` per input
    * paragraph. Round-trips through [[extract]] byte-exact.
    */
  def write(paragraphs: Seq[String]): Array[Byte] = {
    val mime = "application/vnd.oasis.opendocument.text"
    val manifest =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">""" +
        s"""<manifest:file-entry manifest:full-path="/" manifest:media-type="$mime"/>""" +
        """<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>""" +
        """</manifest:manifest>"""
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<office:document-content""" +
        """ xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"""" +
        """ xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"""" +
        """ office:version="1.2"><office:body><office:text>""" +
        paragraphs.map(p => s"<text:p>${esc(p)}</text:p>").mkString +
        """</office:text></office:body></office:document-content>"""
    graft.ops.Zip.write(Seq(
      graft.ops.Zip.ZipMember("mimetype",
        mime.getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      graft.ops.Zip.ZipMember("META-INF/manifest.xml",
        manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      graft.ops.Zip.ZipMember("content.xml",
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
  }
}
