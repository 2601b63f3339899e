package graft.etl

/** XLSX text/table extraction (round 17 — the spreadsheet leg of the
  * office front door, after DOCX and EPUB): a SpreadsheetML walk composed
  * from the proven [[graft.ops.Zip]] reader + the hardened JDK SAX
  * parser. Value semantics follow openpyxl's `cell.value` rendering:
  *
  *   - sheets come in `xl/workbook.xml` `<sheet>` order, each resolved
  *     to its part through the workbook relationships
  *     (`xl/_rels/workbook.xml.rels`) — never by guessing `sheetN.xml`
  *     filenames (real writers reorder/renumber them);
  *   - shared strings (`t="s"`) index `xl/sharedStrings.xml`, where each
  *     `<si>` concatenates its `<t>` runs (plain and rich-text);
  *   - inline strings (`t="inlineStr"`) concatenate the `<is>` `<t>`
  *     runs; cached formula strings (`t="str"`) and error literals
  *     (`t="e"`) pass through; booleans (`t="b"`) render TRUE/FALSE;
  *   - numeric cells render integral values without a decimal point
  *     (openpyxl yields int) and everything else via Double.toString;
  *   - a numeric cell whose style resolves to a DATE number format
  *     (builtin ids 14-22/45-47, or a custom code containing an
  *     unquoted/unbracketed d/m/y/h/s token — openpyxl's
  *     `is_date_format`) renders as an ISO `yyyy-MM-dd` date
  *     (`yyyy-MM-dd HH:mm:ss` when the serial has a time fraction),
  *     honoring the workbook's 1900/1904 epoch: the 1904 system counts
  *     from 1904-01-01; the 1900 system counts from 1899-12-30 with
  *     serials in (0, 60) shifted one day — Excel's phantom 1900-02-29
  *     (openpyxl `from_excel`).
  *
  * Extracted text layout (deterministic, oracle-recomputable): for each
  * sheet a `sheet\t<name>` line, then one line per `<row>` with cell
  * values tab-joined in document order; lines joined by `\n`.
  *
  * The SAX factory is hardened exactly like the DOCX walk: DTDs and
  * external entities disabled (XXE / billion-laughs), output capped by
  * [[graft.core.Budget.maxInflatedBytes]]. Typed refusals: not a zip →
  * `bad_zip`/`truncated` (from [[graft.ops.Zip]]); a zip without the
  * workbook/sheet parts, malformed XML, an out-of-range shared-string
  * index, or an unparseable numeric value → `bad_xlsx`.
  */
object XlsxText {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_xlsx", msg)

  // ---------------------------------------------------------------------
  // hardened SAX plumbing (one factory per thread; newSAXParser is cheap)
  // ---------------------------------------------------------------------

  private val factories =
    ThreadLocal.withInitial[javax.xml.parsers.SAXParserFactory] { () =>
      val factory = javax.xml.parsers.SAXParserFactory.newInstance()
      factory.setNamespaceAware(true)
      factory.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      factory.setFeature("http://xml.org/sax/features/external-general-entities", false)
      factory.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      factory.setXIncludeAware(false)
      factory
    }

  private[etl] def parseXml(part: String, xml: Array[Byte],
      handler: org.xml.sax.helpers.DefaultHandler,
      kind: String = "bad_xlsx"): Unit =
    try factories.get().newSAXParser()
      .parse(new java.io.ByteArrayInputStream(xml), handler)
    catch {
      case e: Refusal => throw e
      case e: org.xml.sax.SAXException =>
        throw new Refusal(kind, s"malformed $part: ${e.getMessage}")
    }

  // ---------------------------------------------------------------------
  // read
  // ---------------------------------------------------------------------

  /** `Right(text)` or `Left(errorKind)` — the fail-stop scan shape. */
  def extractSafe(bytes: Array[Byte]): Either[String, String] =
    Refusal.attempt(extract(bytes), "bad_xlsx")

  def extract(bytes: Array[Byte]): String = {
    val members = graft.ops.Zip.read(bytes)
    val byName = members.iterator.map(m => m.name -> m.body).toMap
    def part(name: String): Array[Byte] =
      byName.getOrElse(name, bad(s"archive has no $name part"))

    val (sheets, date1904) = parseWorkbook(part("xl/workbook.xml"))
    if (sheets.isEmpty) bad("workbook declares no sheets")
    val rels = parseRels(part("xl/_rels/workbook.xml.rels"))
    val shared = byName.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    val dateStyles = byName.get("xl/styles.xml")
      .map(parseStyles).getOrElse(Set.empty[Int])

    val out = new java.lang.StringBuilder()
    val cap = graft.core.Budget.maxInflatedBytes
    sheets.foreach { case (name, rid) =>
      val target = rels.getOrElse(rid,
        bad(s"sheet '$name' relationship $rid missing"))
      // rels targets are relative to xl/ (or absolute from the root)
      val path =
        if (target.startsWith("/")) target.drop(1) else s"xl/$target"
      if (out.length() > 0) out.append('\n')
      out.append("sheet\t").append(name)
      parseSheet(part(path), shared, dateStyles, date1904, out, cap)
    }
    out.toString
  }

  /** workbook.xml: ordered (name, r:id) sheet list + the date1904 flag */
  private def parseWorkbook(xml: Array[Byte]): (Vector[(String, String)], Boolean) = {
    val sheets = Vector.newBuilder[(String, String)]
    var date1904 = false
    parseXml("workbook.xml", xml, new org.xml.sax.helpers.DefaultHandler {
      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = local match {
        case "sheet" =>
          val name = Option(atts.getValue("name")).getOrElse(bad("sheet without name"))
          // the r:id attribute is namespaced; scan by local name
          var rid: String = null
          var i = 0
          while (i < atts.getLength && rid == null) {
            if (atts.getLocalName(i) == "id") rid = atts.getValue(i)
            i += 1
          }
          if (rid == null) bad(s"sheet '$name' without r:id")
          sheets += ((name, rid))
        case "workbookPr" =>
          val v = atts.getValue("date1904")
          date1904 = v == "1" || v == "true"
        case _ => ()
      }
    })
    (sheets.result(), date1904)
  }

  /** workbook rels: rId → target path (relative to xl/) */
  private def parseRels(xml: Array[Byte]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    parseXml("workbook.xml.rels", xml, new org.xml.sax.helpers.DefaultHandler {
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

  /** sharedStrings.xml: each si = its concatenated t runs */
  private def parseSharedStrings(xml: Array[Byte]): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder()
    parseXml("sharedStrings.xml", xml, new org.xml.sax.helpers.DefaultHandler {
      private var inT = false
      private var depth = 0
      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = {
        depth += 1
        if (local == "si") cur.setLength(0)
        // rPh (phonetic runs) carry furigana, not cell text — openpyxl
        // ignores them too
        else if (local == "t" && depth >= 2) inT = !inPhonetic
        else if (local == "rPh") phonetic += 1
      }
      private var phonetic = 0
      private def inPhonetic: Boolean = phonetic > 0
      override def endElement(uri: String, local: String, qName: String): Unit = {
        depth -= 1
        if (local == "si") out += cur.toString
        else if (local == "t") inT = false
        else if (local == "rPh") phonetic -= 1
      }
      override def characters(ch: Array[Char], start: Int, len: Int): Unit =
        if (inT) cur.append(ch, start, len)
    })
    out.result()
  }

  /** styles.xml → the set of cellXfs indexes whose numFmt is a date
    * format (openpyxl `is_date_format` semantics).
    */
  private def parseStyles(xml: Array[Byte]): Set[Int] = {
    val customFmts = scala.collection.mutable.Map[Int, String]()
    val xfFmtIds = Vector.newBuilder[Int]
    parseXml("styles.xml", xml, new org.xml.sax.helpers.DefaultHandler {
      private var inCellXfs = false
      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = local match {
        case "numFmt" =>
          val id = Option(atts.getValue("numFmtId")).map(_.toInt)
          val code = Option(atts.getValue("formatCode"))
          for (i <- id; c <- code) customFmts(i) = c
        case "cellXfs" => inCellXfs = true
        case "xf" if inCellXfs =>
          xfFmtIds += Option(atts.getValue("numFmtId")).map(_.toInt).getOrElse(0)
        case _ => ()
      }
      override def endElement(uri: String, local: String, qName: String): Unit =
        if (local == "cellXfs") inCellXfs = false
    })
    xfFmtIds.result().zipWithIndex.collect {
      case (fmtId, style) if isDateFormat(fmtId, customFmts.get(fmtId)) => style
    }.toSet
  }

  /** builtin date ids 14-22 and 45-47, else scan the custom code for an
    * unquoted, unbracketed d/m/y/h/s token (openpyxl's heuristic)
    */
  private def isDateFormat(fmtId: Int, custom: Option[String]): Boolean =
    if (fmtId >= 14 && fmtId <= 22) true
    else if (fmtId >= 45 && fmtId <= 47) true
    else custom.exists { code =>
      val b = new java.lang.StringBuilder()
      var i = 0
      var inQuote = false
      var inBracket = false
      while (i < code.length) {
        val c = code.charAt(i)
        if (inQuote) { if (c == '"') inQuote = false }
        else if (inBracket) { if (c == ']') inBracket = false }
        else if (c == '"') inQuote = true
        else if (c == '[') inBracket = true
        else if (c == '\\') i += 1 // escaped literal char
        else b.append(c)
        i += 1
      }
      b.toString.toLowerCase.exists(c => "dmyhs".indexOf(c) >= 0)
    }

  /** one worksheet's sheetData walk, appending rows to `out` */
  private def parseSheet(xml: Array[Byte], shared: Vector[String],
      dateStyles: Set[Int], date1904: Boolean,
      out: java.lang.StringBuilder, cap: Long): Unit = {
    parseXml("worksheet", xml, new org.xml.sax.helpers.DefaultHandler {
      private var cellType = ""
      private var cellStyle = 0
      private var inV = false
      private var inIsT = false
      private var inIs = false
      private val v = new java.lang.StringBuilder()
      private val inline = new java.lang.StringBuilder()
      private var firstCellInRow = true
      private var inRow = false

      private def append(s: String): Unit = {
        if (out.length() + s.length > cap)
          throw new Refusal("too_large", s"xlsx text exceeds $cap chars")
        out.append(s)
      }

      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = local match {
        case "row" =>
          append("\n"); firstCellInRow = true; inRow = true
        case "c" if inRow =>
          cellType = Option(atts.getValue("t")).getOrElse("n")
          cellStyle = Option(atts.getValue("s")).map(_.toInt).getOrElse(0)
          v.setLength(0); inline.setLength(0)
          if (firstCellInRow) firstCellInRow = false else append("\t")
        case "v" => inV = true
        case "is" => inIs = true
        case "t" if inIs => inIsT = true
        case _ => ()
      }

      override def endElement(uri: String, local: String, qName: String): Unit =
        local match {
          case "row" => inRow = false
          case "c" if inRow => append(render())
          case "v" => inV = false
          case "is" => inIs = false
          case "t" => inIsT = false
          case _ => ()
        }

      override def characters(ch: Array[Char], start: Int, len: Int): Unit = {
        if (inV) v.append(ch, start, len)
        else if (inIsT) inline.append(ch, start, len)
      }

      private def render(): String = cellType match {
        case "s" =>
          val idx = try v.toString.trim.toInt
          catch { case _: NumberFormatException => bad(s"shared index '$v'") }
          if (idx < 0 || idx >= shared.length)
            bad(s"shared-string index $idx of ${shared.length}")
          shared(idx)
        case "inlineStr" => inline.toString
        case "str" | "e" => v.toString
        case "b" => if (v.toString.trim == "1") "TRUE" else "FALSE"
        case "n" =>
          if (v.length() == 0) "" // empty cell: <c/> with no value
          else {
            val raw = v.toString.trim
            val d = try raw.toDouble
            catch { case _: NumberFormatException => bad(s"numeric cell '$raw'") }
            if (dateStyles.contains(cellStyle)) renderDate(d, date1904)
            else renderNumber(d)
          }
        case other => bad(s"unknown cell type '$other'")
      }
    })
  }

  private[etl] def renderNumber(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** openpyxl `from_excel`: 1900 system is epoch 1899-12-30 with serials
    * in (0, 60) shifted +1 (the phantom 1900-02-29); 1904 system is a
    * plain offset from 1904-01-01.
    */
  private def renderDate(serial: Double, date1904: Boolean): String = {
    val adj =
      if (!date1904 && serial > 0 && serial < 60) serial + 1 else serial
    val epoch =
      if (date1904) java.time.LocalDate.of(1904, 1, 1)
      else java.time.LocalDate.of(1899, 12, 30)
    val days = math.floor(adj).toLong
    if (days < -693594 || days > 2958465) bad(s"date serial $serial out of range")
    val frac = adj - days
    val date = epoch.plusDays(days)
    if (frac == 0.0) date.toString
    else {
      val secs = math.rint(frac * 86400.0).toLong
      val t = java.time.LocalTime.ofSecondOfDay(math.min(secs, 86399L))
      s"$date ${t.format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))}"
    }
  }

  // ---------------------------------------------------------------------
  // write (the fixture/round-trip twin of extract)
  // ---------------------------------------------------------------------

  sealed trait Cell
  final case class SStr(s: String) extends Cell // shared string
  final case class SInline(s: String) extends Cell // inline string
  final case class SNum(d: Double) extends Cell
  final case class SBool(b: Boolean) extends Cell
  final case class SDate(serial: Long) extends Cell // styled with fmt 14
  final case class SFormulaStr(s: String) extends Cell // cached t="str"

  /** Minimal deterministic XLSX writer: workbook + rels + styles +
    * sharedStrings + one part per sheet. Shared strings are deduplicated
    * like a real writer; date cells carry style 1 (builtin numFmt 14).
    * Real-world fixture coverage beyond this shape comes from
    * tools/make_xlsx_fixture.py.
    */
  def write(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    def esc(s: String): String = {
      val b = new StringBuilder(s.length + 16)
      s.foreach {
        case '&' => b.append("&amp;")
        case '<' => b.append("&lt;")
        case '>' => b.append("&gt;")
        case '"' => b.append("&quot;")
        case c => b.append(c)
      }
      b.toString
    }
    val sharedIdx = scala.collection.mutable.LinkedHashMap[String, Int]()
    def sharedId(s: String): Int =
      sharedIdx.getOrElseUpdate(s, sharedIdx.size)

    def colRef(i: Int): String = { // 0 -> A, 26 -> AA
      var n = i + 1
      val b = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; b.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      b.toString
    }

    val sheetXmls = sheets.map { case (_, rows) =>
      val rowsXml = rows.zipWithIndex.map { case (cells, ri) =>
        val cellsXml = cells.zipWithIndex.map { case (cell, ci) =>
          val ref = s"${colRef(ci)}${ri + 1}"
          cell match {
            case SStr(s) => s"""<c r="$ref" t="s"><v>${sharedId(s)}</v></c>"""
            case SInline(s) =>
              s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(s)}</t></is></c>"""
            case SNum(d) => s"""<c r="$ref"><v>${renderNumber(d)}</v></c>"""
            case SBool(b) => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
            case SDate(serial) => s"""<c r="$ref" s="1"><v>$serial</v></c>"""
            case SFormulaStr(s) =>
              s"""<c r="$ref" t="str"><f>CONCAT()</f><v>${esc(s)}</v></c>"""
          }
        }.mkString
        s"""<row r="${ri + 1}">$cellsXml</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"<sheetData>$rowsXml</sheetData></worksheet>"
    }

    val R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"""" +
        s""" xmlns:r="$R"><workbookPr date1904="false"/><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>"
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map { i =>
          s"""<Relationship Id="rId${i + 1}" Type="$R/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
        }.mkString +
        s"""<Relationship Id="rId${sheets.length + 1}" Type="$R/styles" Target="styles.xml"/>""" +
        s"""<Relationship Id="rId${sheets.length + 2}" Type="$R/sharedStrings" Target="sharedStrings.xml"/>""" +
        "</Relationships>"
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>""" +
        "</styleSheet>"
    val rootRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$R/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>"
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        "</Types>"
    // shared strings AFTER the sheets render (ids assigned during render)
    val sharedXml =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedIdx.size}" uniqueCount="${sharedIdx.size}">""" +
        sharedIdx.keysIterator.map(s =>
          s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString +
        "</sst>"

    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    import graft.ops.Zip.ZipMember
    graft.ops.Zip.write(
      Seq(
        ZipMember("[Content_Types].xml", contentTypes.getBytes(utf8)),
        ZipMember("_rels/.rels", rootRels.getBytes(utf8)),
        ZipMember("xl/workbook.xml", workbook.getBytes(utf8)),
        ZipMember("xl/_rels/workbook.xml.rels", wbRels.getBytes(utf8)),
        ZipMember("xl/styles.xml", styles.getBytes(utf8)),
        ZipMember("xl/sharedStrings.xml", sharedXml.getBytes(utf8))) ++
        sheetXmls.zipWithIndex.map { case (xml, i) =>
          ZipMember(s"xl/worksheets/sheet${i + 1}.xml", xml.getBytes(utf8))
        })
  }
}
