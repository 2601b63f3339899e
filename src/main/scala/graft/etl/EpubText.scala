package graft.etl

/** EPUB text extraction (round 16 — the book-corpus front door next to
  * PDF/HTML/DOCX): OCF container walk + OPF package parse + per-chapter
  * XHTML body-text extraction, composed from the proven
  * [[graft.ops.Zip]] reader and the JDK SAX parser.
  *
  * Container grammar (IDPF OCF/OPF 2.0/3.x, all public):
  *   - `mimetype` member must read `application/epub+zip`;
  *   - `META-INF/container.xml` names the OPF package via
  *     `<rootfile full-path=…>`;
  *   - the OPF `<manifest>` maps ids to hrefs (resolved relative to the
  *     OPF directory) and `<spine>` orders chapters by idref; `dc:title`
  *     and `dc:language` ride the metadata block;
  *   - chapters are XHTML: text = the character data of `<body>`, with
  *     block-level boundaries (`p div h1-h6 li tr br`) contributing one
  *     `\n` and `script`/`style` subtrees contributing nothing.
  *
  * XML hardening differs from [[DocxText]] deliberately: real XHTML
  * chapters legally carry `<!DOCTYPE html …>`, so DOCTYPEs are ALLOWED —
  * but external DTD/entity fetch is blocked (ACCESS_EXTERNAL_DTD = ""),
  * FEATURE_SECURE_PROCESSING bounds internal-subset entity expansion
  * (the billion-laughs cap), and extracted text is Budget-capped.
  * Typed refusals: `bad_zip`/`truncated` from the container,
  * `bad_epub` for a wrong mimetype, missing container/OPF/chapter
  * parts, malformed XML, or a spine idref without a manifest entry.
  */
object EpubText {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_epub", msg)

  final case class Epub(title: String, language: String,
      chapters: Vector[String]) {
    def text: String = chapters.mkString("\n\n")
  }

  def extractSafe(bytes: Array[Byte]): Either[String, Epub] =
    Refusal.attempt(extract(bytes), "bad_epub")

  def extract(bytes: Array[Byte]): Epub = {
    val members = graft.ops.Zip.read(bytes)
    val byName = members.map(m => m.name -> m.body).toMap
    val mimetype = byName.getOrElse("mimetype", bad("no mimetype member"))
    if (new String(mimetype, java.nio.charset.StandardCharsets.US_ASCII)
        .trim != "application/epub+zip")
      bad("mimetype is not application/epub+zip")
    val container = byName.getOrElse("META-INF/container.xml",
      bad("no META-INF/container.xml"))
    val opfPath = containerRootfile(container)
    val opf = byName.getOrElse(opfPath, bad(s"rootfile $opfPath missing"))
    val (title, lang, hrefs) = parseOpf(opf)
    val opfDir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case i => opfPath.substring(0, i + 1)
    }
    val chapters = hrefs.map { href =>
      val path = resolve(opfDir, href)
      val xhtml = byName.getOrElse(path, bad(s"spine chapter $path missing"))
      bodyText(xhtml)
    }
    Epub(title, lang, chapters)
  }

  /** normalize `dir + href` (handles `../`, no scheme/absolute escape) */
  private def resolve(dir: String, href: String): String = {
    if (href.startsWith("/") || href.contains("://"))
      bad(s"spine href escapes the container: $href")
    val parts = (dir + href).split("/").toVector
    val out = scala.collection.mutable.ArrayBuffer[String]()
    parts.foreach {
      case "" | "." => ()
      case ".." =>
        if (out.isEmpty) bad(s"spine href escapes the container: $href")
        out.remove(out.length - 1)
      case p => out += p
    }
    out.mkString("/")
  }

  // ------------------------------------------------------------- parsing --

  /** SAX factory: DOCTYPE tolerated (XHTML ships them), all external
    * access blocked, secure-processing expansion caps on.
    */
  private val factories =
    ThreadLocal.withInitial[javax.xml.parsers.SAXParserFactory] { () =>
      val f = javax.xml.parsers.SAXParserFactory.newInstance()
      f.setNamespaceAware(true)
      f.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
      f.setFeature("http://xml.org/sax/features/external-general-entities", false)
      f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
      f.setXIncludeAware(false)
      f
    }

  private def parse(xml: Array[Byte], handler: org.xml.sax.helpers.DefaultHandler): Unit = {
    val parser = factories.get().newSAXParser()
    try {
      parser.setProperty(javax.xml.XMLConstants.ACCESS_EXTERNAL_DTD, "")
    } catch { case _: org.xml.sax.SAXException => () }
    try parser.parse(new java.io.ByteArrayInputStream(xml), handler)
    catch {
      case e: Refusal => throw e
      case e: org.xml.sax.SAXException => bad(s"malformed XML: ${e.getMessage}")
    }
  }

  private def containerRootfile(xml: Array[Byte]): String = {
    var path: String = null
    parse(xml, new org.xml.sax.helpers.DefaultHandler {
      override def startElement(uri: String, local: String, q: String,
          a: org.xml.sax.Attributes): Unit =
        if (local == "rootfile" && path == null) {
          val p = a.getValue("full-path")
          if (p != null) path = p
        }
      // the XHTML DTD is never fetched; undeclared entities are fatal
      override def resolveEntity(publicId: String, systemId: String): org.xml.sax.InputSource =
        new org.xml.sax.InputSource(new java.io.StringReader(""))
    })
    if (path == null) bad("container.xml has no rootfile")
    path
  }

  /** (dc:title, dc:language, spine hrefs in spine order) */
  private def parseOpf(xml: Array[Byte]): (String, String, Vector[String]) = {
    var title = ""
    var lang = ""
    val manifest = scala.collection.mutable.LinkedHashMap[String, String]()
    val spine = Vector.newBuilder[String]
    parse(xml, new org.xml.sax.helpers.DefaultHandler {
      private var inTitle = false
      private var inLang = false
      private val sb = new java.lang.StringBuilder()
      override def startElement(uri: String, local: String, q: String,
          a: org.xml.sax.Attributes): Unit = local match {
        case "title" => inTitle = true; sb.setLength(0)
        case "language" => inLang = true; sb.setLength(0)
        case "item" =>
          val id = a.getValue("id")
          val href = a.getValue("href")
          if (id != null && href != null) manifest(id) = href
        case "itemref" =>
          val idref = a.getValue("idref")
          if (idref != null) spine += idref
        case _ => ()
      }
      override def endElement(uri: String, local: String, q: String): Unit =
        local match {
          case "title" if inTitle => inTitle = false; if (title.isEmpty) title = sb.toString
          case "language" if inLang => inLang = false; if (lang.isEmpty) lang = sb.toString
          case _ => ()
        }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inTitle || inLang) sb.append(ch, start, len)
      override def resolveEntity(publicId: String, systemId: String): org.xml.sax.InputSource =
        new org.xml.sax.InputSource(new java.io.StringReader(""))
    })
    val hrefs = spine.result().map(id =>
      manifest.getOrElse(id, bad(s"spine idref '$id' has no manifest item")))
    (title, lang, hrefs)
  }

  private val BlockEnds = Set("p", "div", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "tr")

  /** body text of one XHTML chapter: character data inside `<body>`,
    * block ends and `<br/>` contribute one `\n`, script/style nothing;
    * leading/trailing whitespace trimmed, runs of blank lines collapsed.
    */
  def bodyText(xml: Array[Byte]): String = {
    val out = new java.lang.StringBuilder()
    val cap = graft.core.Budget.maxInflatedBytes
    parse(xml, new org.xml.sax.helpers.DefaultHandler {
      private var bodyDepth = 0
      private var muted = 0 // script/style nesting
      override def startElement(uri: String, local: String, q: String,
          a: org.xml.sax.Attributes): Unit = {
        if (local == "body") bodyDepth += 1
        else if (bodyDepth > 0 && (local == "script" || local == "style"))
          muted += 1
        else if (bodyDepth > 0 && muted == 0 && local == "br") append('\n')
      }
      override def endElement(uri: String, local: String, q: String): Unit = {
        if (local == "body") bodyDepth = math.max(0, bodyDepth - 1)
        else if (bodyDepth > 0 && (local == "script" || local == "style"))
          muted = math.max(0, muted - 1)
        else if (bodyDepth > 0 && muted == 0 && BlockEnds.contains(local))
          append('\n')
      }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (bodyDepth > 0 && muted == 0) {
          if (out.length() + len > cap)
            throw new Refusal("too_large", s"epub text exceeds $cap chars")
          out.append(ch, start, len)
        }
      override def resolveEntity(publicId: String, systemId: String): org.xml.sax.InputSource =
        new org.xml.sax.InputSource(new java.io.StringReader(""))
      private def append(c: Char): Unit = {
        if (out.length() >= cap)
          throw new Refusal("too_large", s"epub text exceeds $cap chars")
        out.append(c)
      }
    })
    // collapse whitespace-only lines and trim — the shape a text
    // pipeline wants from markup-derived text
    out.toString.split("\n", -1).iterator.map(_.trim)
      .filter(_.nonEmpty).mkString("\n")
  }

  // -------------------------------------------------------------- write --

  /** Minimal deterministic EPUB writer (the fixture/round-trip twin):
    * OCF layout with a proper `mimetype` member, container.xml, an OPF
    * package, and one XHTML file per chapter (paragraphs = `\n`-split
    * lines). Chapters land under `OEBPS/`.
    */
  def write(title: String, language: String,
      chapters: Seq[String]): Array[Byte] = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val container =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">""" +
        """<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>""" +
        """</container>"""
    val manifest = chapters.indices.map(i =>
      s"""<item id="ch$i" href="ch$i.xhtml" media-type="application/xhtml+xml"/>""").mkString
    val spine = chapters.indices.map(i =>
      s"""<itemref idref="ch$i"/>""").mkString
    val opf =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<package xmlns="http://www.idpf.org/2007/opf" xmlns:dc="http://purl.org/dc/elements/1.1/" version="3.0" unique-identifier="uid">""" +
        s"""<metadata><dc:title>${esc(title)}</dc:title><dc:language>${esc(language)}</dc:language><dc:identifier id="uid">graft</dc:identifier></metadata>""" +
        s"""<manifest>$manifest</manifest><spine>$spine</spine></package>"""
    def chapterXml(body: String): String =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<!DOCTYPE html>""" +
        """<html xmlns="http://www.w3.org/1999/xhtml"><head><title>c</title></head><body>""" +
        body.split("\n", -1).map(l => s"<p>${esc(l)}</p>").mkString +
        """</body></html>"""
    graft.ops.Zip.write(
      Seq(graft.ops.Zip.ZipMember("mimetype",
        "application/epub+zip".getBytes(utf8)),
        graft.ops.Zip.ZipMember("META-INF/container.xml", container.getBytes(utf8)),
        graft.ops.Zip.ZipMember("OEBPS/content.opf", opf.getBytes(utf8))) ++
        chapters.zipWithIndex.map { case (c, i) =>
          graft.ops.Zip.ZipMember(s"OEBPS/ch$i.xhtml", chapterXml(c).getBytes(utf8))
        })
  }
}
