package graft.etl

import graft.core.Refusal

/** DOCX text extraction (round 16 — the office-document front door
  * beyond PDF/HTML): an OOXML WordprocessingML walk composed from the
  * proven [[graft.ops.Zip]] reader + the JDK SAX parser. Semantics follow
  * python-docx's `"\n".join(p.text for p in document.paragraphs)`:
  *
  *   - paragraphs are the `<w:p>` elements of `<w:body>` in
  *     `word/document.xml`, in document order, EXCLUDING paragraphs
  *     nested inside tables (python-docx's `document.paragraphs` yields
  *     only direct body children);
  *   - a paragraph's text concatenates its runs' `<w:t>` character data,
  *     with `<w:tab/>` → `\t` and `<w:br/>`/`<w:cr/>` → `\n`
  *     (python-docx Run.text semantics);
  *   - everything else (rPr/pPr formatting, bookmarks, proofing marks,
  *     field chars) contributes nothing.
  *
  * Matching is by LOCAL name with the wordprocessingml namespace accepted
  * in both its transitional and strict spellings — real-world docx ships
  * both. The SAX parser is hardened: DTDs and external entities are
  * disabled (an XXE in a 100 TB crawl scan is an exfil primitive, and a
  * billion-laughs bomb an executor-OOM one), and the extracted text is
  * capped by [[graft.core.Budget.maxInflatedBytes]] like every other
  * decode path.
  *
  * Typed refusals ride the family contract: not a zip → `bad_zip` /
  * `truncated` (from [[graft.ops.Zip]]), a zip without
  * `word/document.xml` or with malformed XML → `bad_docx`.
  */
object DocxText {

  private val WmlNs = Set(
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main",
    "http://purl.oclc.org/ooxml/wordprocessingml/main", // ISO strict
    "") // docs emitted without namespace decls still carry w: structure

  /** `Right(text)` or `Left(errorKind)` — the fail-stop scan shape. */
  def extractSafe(bytes: Array[Byte]): Either[String, String] =
    Refusal.attempt(extract(bytes), "bad_docx")

  def extract(bytes: Array[Byte]): String = {
    val members = graft.ops.Zip.read(bytes)
    val doc = members.find(_.name == "word/document.xml").getOrElse(
      throw new Refusal("bad_docx",
        "archive has no word/document.xml part"))
    parseDocumentXml(doc.body)
  }

  /** The WordprocessingML walk itself (exposed for the parity spec).
    * The hardened SAX factory (no DTDs, no external entities) is the
    * ONE shared instance in [[XlsxText.parseXml]] — EpubText keeps its
    * own deliberately different factory (DOCTYPE-tolerant for XHTML);
    * every other office extractor shares this one.
    */
  def parseDocumentXml(xml: Array[Byte]): String = {
    val out = new java.lang.StringBuilder()
    val cap = graft.core.Budget.maxInflatedBytes

    val handler = new org.xml.sax.helpers.DefaultHandler {
      // element stack of wml local names ("" for foreign elements): a
      // paragraph counts only when its PARENT is <w:body> — python-docx's
      // document.paragraphs excludes table cells AND textbox content
      private val stack = new scala.collection.mutable.ArrayBuffer[String](16)
      private var bodyParaDepth = -1 // stack depth of the open body <w:p>
      private var paraDepth = 0 // open <w:p> nesting (textboxes nest them)
      private var inText = false
      private var firstPara = true

      private def wml(uri: String, local: String, name: String): Boolean =
        WmlNs.contains(uri) && (uri.nonEmpty || name == s"w:$local")
      // direct content of the open BODY paragraph only: a nested textbox
      // paragraph raises paraDepth past 1 and contributes nothing, like
      // python-docx's paragraph.text
      private def capturing: Boolean = bodyParaDepth >= 0 && paraDepth == 1

      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = {
        val w = wml(uri, local, qName)
        if (w) local match {
          case "p" =>
            if (stack.lastOption.contains("body")) {
              bodyParaDepth = stack.length
              if (firstPara) firstPara = false else append('\n')
            }
            paraDepth += 1
          case "t" if capturing => inText = true
          case "tab" if capturing => append('\t')
          case "br" | "cr" if capturing => append('\n')
          case _ => ()
        }
        stack += (if (w) local else "")
      }

      override def endElement(uri: String, local: String, qName: String): Unit = {
        stack.remove(stack.length - 1)
        if (wml(uri, local, qName)) local match {
          case "p" =>
            paraDepth = math.max(0, paraDepth - 1)
            if (bodyParaDepth == stack.length) bodyParaDepth = -1
          case "t" => inText = false
          case _ => ()
        }
      }

      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inText) append(ch, start, len)

      private def append(c: Char): Unit = {
        if (out.length() >= cap)
          throw new Refusal("too_large",
            s"docx text exceeds $cap chars")
        out.append(c)
      }
      private def append(ch: Array[Char], start: Int, len: Int): Unit = {
        if (out.length() + len > cap)
          throw new Refusal("too_large",
            s"docx text exceeds $cap chars")
        out.append(ch, start, len)
      }
    }

    XlsxText.parseXml("document.xml", xml, handler, kind = "bad_docx")
    out.toString
  }

  /** Minimal deterministic DOCX writer (the fixture/round-trip twin of
    * [[extract]]): the four parts a conformant package needs, paragraphs
    * rendered as single-run WordprocessingML with `\t` → `<w:tab/>` and
    * `\n` (inside a paragraph) → `<w:br/>`. Real-world fixture coverage
    * beyond this shape comes from tools/make_docx_fixture.py.
    */
  def write(paragraphs: Seq[String]): Array[Byte] = {
    val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    def esc(s: String): String = {
      val b = new StringBuilder(s.length + 16)
      s.foreach {
        case '&' => b.append("&amp;")
        case '<' => b.append("&lt;")
        case '>' => b.append("&gt;")
        case c => b.append(c)
      }
      b.toString
    }
    val body = paragraphs.map { p =>
      val runs = p.split("(?=[\t\n])|(?<=[\t\n])", -1).filter(_.nonEmpty).map {
        case "\t" => "<w:tab/>"
        case "\n" => "<w:br/>"
        case s => s"""<w:t xml:space="preserve">${esc(s)}</w:t>"""
      }.mkString
      s"<w:p><w:r>$runs</w:r></w:p>"
    }.mkString
    val documentXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
        """</Types>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
        """</Relationships>"""
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    graft.ops.Zip.write(Seq(
      graft.ops.Zip.ZipMember("[Content_Types].xml", contentTypes.getBytes(utf8)),
      graft.ops.Zip.ZipMember("_rels/.rels", rels.getBytes(utf8)),
      graft.ops.Zip.ZipMember("word/document.xml", documentXml.getBytes(utf8))))
  }
}
