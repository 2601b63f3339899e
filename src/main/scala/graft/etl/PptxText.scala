package graft.etl

/** PPTX slide-text extraction (round 17 — the third leg of the OOXML
  * office trio after DOCX and XLSX): a PresentationML walk composed from
  * the proven [[graft.ops.Zip]] reader + the hardened JDK SAX parser
  * (shared with [[XlsxText]]). Semantics follow python-pptx's
  * slide-text convention:
  *
  *   - slides come in `ppt/presentation.xml` `<p:sldIdLst>` order, each
  *     `<p:sldId>` resolved to its part through the presentation
  *     relationships (`ppt/_rels/presentation.xml.rels`) — never by
  *     guessing `slideN.xml` filenames;
  *   - a slide's text walks its shape tree in document order: each
  *     DrawingML paragraph `<a:p>` contributes its `<a:t>` runs
  *     concatenated, with `<a:br/>` → `\n` (python-pptx `_Run.text` /
  *     `_Paragraph.text`); paragraphs are joined with `\n`, and slides
  *     with `\n` as well;
  *   - everything else (rPr formatting, `a:fld` slide numbers keep their
  *     cached `a:t` text like python-pptx, notes/masters/layouts are
  *     separate parts and contribute nothing).
  *
  * Typed refusals ride the family contract: not a zip → `bad_zip` /
  * `truncated` (from [[graft.ops.Zip]]); a zip without the presentation
  * part, a slide rel pointing nowhere, or malformed/DOCTYPE'd XML →
  * `bad_pptx`. Output capped by [[graft.core.Budget.maxInflatedBytes]].
  */
object PptxText {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_pptx", msg)

  /** `Right(text)` or `Left(errorKind)` — the fail-stop scan shape. */
  def extractSafe(bytes: Array[Byte]): Either[String, String] =
    Refusal.attempt(extract(bytes), "bad_pptx")

  def extract(bytes: Array[Byte]): String = {
    val members = graft.ops.Zip.read(bytes)
    val byName = members.iterator.map(m => m.name -> m.body).toMap
    def part(name: String): Array[Byte] =
      byName.getOrElse(name, bad(s"archive has no $name part"))

    val slideRids = parsePresentation(part("ppt/presentation.xml"))
    val rels = parseRels(part("ppt/_rels/presentation.xml.rels"))

    val out = new java.lang.StringBuilder()
    val cap = graft.core.Budget.maxInflatedBytes
    slideRids.zipWithIndex.foreach { case (rid, i) =>
      val target = rels.getOrElse(rid, bad(s"slide relationship $rid missing"))
      val path = if (target.startsWith("/")) target.drop(1) else s"ppt/$target"
      // index-gated separator: an empty FIRST slide still separates —
      // gating on out.length() collapsed leading empty slides (caught by
      // the doc_mutant_parity differential harness on healthy bases)
      if (i > 0) out.append('\n')
      parseSlide(part(path), out, cap)
    }
    out.toString
  }

  /** presentation.xml: the ordered r:id list of `<p:sldId>` elements */
  private def parsePresentation(xml: Array[Byte]): Vector[String] = {
    val out = Vector.newBuilder[String]
    var inList = false
    XlsxText.parseXml("presentation.xml", xml, kind = "bad_pptx",
      handler = new org.xml.sax.helpers.DefaultHandler {
        override def startElement(uri: String, local: String, qName: String,
            atts: org.xml.sax.Attributes): Unit = local match {
          case "sldIdLst" => inList = true
          case "sldId" if inList =>
            var rid: String = null
            var i = 0
            while (i < atts.getLength && rid == null) {
              if (atts.getLocalName(i) == "id" &&
                  atts.getURI(i).nonEmpty) rid = atts.getValue(i)
              i += 1
            }
            if (rid == null) bad("sldId without r:id")
            out += rid
          case _ => ()
        }
        override def endElement(uri: String, local: String, qName: String): Unit =
          if (local == "sldIdLst") inList = false
      })
    out.result()
  }

  private def parseRels(xml: Array[Byte]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    XlsxText.parseXml("presentation.xml.rels", xml, kind = "bad_pptx",
      handler = new org.xml.sax.helpers.DefaultHandler {
        override def startElement(uri: String, local: String, qName: String,
            atts: org.xml.sax.Attributes): Unit =
          if (local == "Relationship") {
            val id = atts.getValue("Id")
            val target = atts.getValue("Target")
            if (id != null && target != null) out += id -> target
          }
      })
    out.result()
  }

  /** one slide's DrawingML text walk, appending paragraphs to `out` */
  private def parseSlide(xml: Array[Byte], out: java.lang.StringBuilder,
      cap: Long): Unit = {
    val DrawNs = "http://schemas.openxmlformats.org/drawingml/2006/main"
    XlsxText.parseXml("slide", xml, kind = "bad_pptx",
      handler = new org.xml.sax.helpers.DefaultHandler {
      private var inT = false
      private var firstPara = true // per-slide; caller inserts the separator

      private def append(s: CharSequence): Unit = {
        if (out.length() + s.length > cap)
          throw new Refusal("too_large", s"pptx text exceeds $cap chars")
        out.append(s)
      }

      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit =
        if (uri == DrawNs) local match {
          case "p" =>
            if (firstPara) firstPara = false else append("\n")
          case "t" => inT = true
          case "br" => append("\n")
          case _ => ()
        }

      override def endElement(uri: String, local: String, qName: String): Unit =
        if (uri == DrawNs && local == "t") inT = false

      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inT) append(java.nio.CharBuffer.wrap(ch, start, len))
    })
  }

  // ---------------------------------------------------------------------
  // write (the fixture/round-trip twin of extract)
  // ---------------------------------------------------------------------

  /** Minimal deterministic PPTX writer: presentation + rels + one slide
    * part per entry. Each slide is one text shape whose paragraphs are
    * the given strings, `\n` inside a paragraph rendered as `<a:br/>`.
    * Slide parts are numbered in REVERSE order on purpose so extraction
    * order provably follows sldIdLst + rels, not filenames.
    */
  def write(slides: Seq[Seq[String]]): Array[Byte] = {
    val P = "http://schemas.openxmlformats.org/presentationml/2006/main"
    val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
    val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
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
    val n = slides.length
    def slidePart(i: Int): String = s"slides/slide${n - i}.xml" // reversed
    val slideXmls = slides.map { paras =>
      val body = paras.map { p =>
        val runs = p.split("\n", -1).map(seg =>
          s"""<a:r><a:t>${esc(seg)}</a:t></a:r>""").mkString("<a:br/>")
        s"<a:p>$runs</a:p>"
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<p:sld xmlns:p="$P" xmlns:a="$A"><p:cSld><p:spTree>""" +
        s"""<p:sp><p:txBody><a:bodyPr/>$body</p:txBody></p:sp>""" +
        "</p:spTree></p:cSld></p:sld>"
    }
    val presentation =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<p:presentation xmlns:p="$P" xmlns:r="$R"><p:sldIdLst>""" +
        slides.indices.map(i =>
          s"""<p:sldId id="${256 + i}" r:id="rId${i + 1}"/>""").mkString +
        "</p:sldIdLst></p:presentation>"
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        slides.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="$R/slide" Target="${slidePart(i)}"/>""").mkString +
        "</Relationships>"
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$R/officeDocument" Target="ppt/presentation.xml"/>""" +
        "</Relationships>"
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>""" +
        "</Types>"
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    import graft.ops.Zip.ZipMember
    graft.ops.Zip.write(
      Seq(
        ZipMember("[Content_Types].xml", contentTypes.getBytes(utf8)),
        ZipMember("_rels/.rels", rootRels.getBytes(utf8)),
        ZipMember("ppt/presentation.xml", presentation.getBytes(utf8)),
        ZipMember("ppt/_rels/presentation.xml.rels", rels.getBytes(utf8))) ++
        slideXmls.zipWithIndex.map { case (xml, i) =>
          ZipMember(s"ppt/${slidePart(i)}", xml.getBytes(utf8))
        })
  }
}
