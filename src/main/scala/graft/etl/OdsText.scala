package graft.etl

/** ODS spreadsheet extraction (round 17 — the OpenDocument twin of
  * [[XlsxText]], completing the OpenDocument pair with [[OdtText]]):
  * walks `content.xml`'s `office:spreadsheet` through the same hardened
  * SAX parser and emits the SAME layout XlsxText does — a
  * `sheet\t<name>` line per table, then one tab-joined line per row —
  * so downstream consumers see one spreadsheet text shape regardless of
  * container.
  *
  * ODF-specific semantics (OASIS v1.2 §9):
  *   - `table:number-columns-repeated` / `table:number-rows-repeated`
  *     expand, BUT trailing empty cells/rows are trimmed per sheet —
  *     real ODS files pad to 2^20 rows/16k columns with giant repeat
  *     counts on empty trailers, and a reader that materializes them
  *     emits gigabytes of tabs (the repeat counts are additionally
  *     capped: a repeat past the cap on a NON-empty cell refuses);
  *   - typed cell values render like XlsxText: `office:value-type`
  *     float via `office:value` (integers bare), boolean → TRUE/FALSE,
  *     date/time → their ISO attribute verbatim, percentage/currency →
  *     the float path, strings → the cell's `text:p` content joined by
  *     `\n`;
  *   - covered cells (`table:covered-table-cell`) count as empty cells
  *     (merge shadows), like openpyxl's merged-range semantics.
  *
  * Refusals ride the family contract: `bad_zip`/`truncated` from the
  * container, `bad_ods` for grammar rot, `too_large` past the budget.
  */
object OdsText {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_ods", msg)

  private val OfficeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  private val TableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  private val TextNs = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"

  /** repeat counts past this refuse when the repeated content is
    * non-empty; empty repeats just extend the trimmed trailer.
    */
  private val MaxRepeat = 100000

  def extractSafe(bytes: Array[Byte]): Either[String, String] =
    Refusal.attempt(extract(bytes), "bad_ods")

  def extract(bytes: Array[Byte]): String = {
    val members = graft.ops.Zip.read(bytes)
    members.find(_.name == "mimetype").foreach { m =>
      val mt = new String(m.body, java.nio.charset.StandardCharsets.US_ASCII)
      if (!mt.startsWith("application/vnd.oasis.opendocument"))
        bad(s"foreign mimetype $mt")
    }
    val doc = members.find(_.name == "content.xml").getOrElse(
      bad("archive has no content.xml part"))
    parseContentXml(doc.body)
  }

  /** the spreadsheet walk (exposed for specs). */
  def parseContentXml(xml: Array[Byte]): String = {
    val out = new java.lang.StringBuilder()
    val cap = graft.core.Budget.maxInflatedBytes

    val handler = new org.xml.sax.helpers.DefaultHandler {
      private var inSpreadsheet = 0
      private var sheetRows: scala.collection.mutable.ArrayBuffer[Vector[String]] = null
      private var sheetName: String = ""
      private var row: scala.collection.mutable.ArrayBuffer[String] = null
      private var rowRepeat = 1
      // current cell state
      private var inCell = false
      private var cellRepeat = 1
      private var cellType = ""
      private var cellValueAttr = ""
      private var cellText: java.lang.StringBuilder = null
      private var inCellPara = 0
      private var firstCellPara = true

      private def attr(atts: org.xml.sax.Attributes, ns: String, local: String,
          qn: String): String = {
        val v = atts.getValue(ns, local)
        if (v != null) v else {
          val q = atts.getValue(qn)
          if (q != null) q else ""
        }
      }

      private def repeat(atts: org.xml.sax.Attributes, local: String): Int = {
        val raw = attr(atts, TableNs, local, s"table:$local")
        if (raw.isEmpty) 1
        else {
          val n = try raw.toInt catch {
            case _: NumberFormatException => bad(s"non-numeric $local '$raw'")
          }
          if (n < 1) bad(s"$local $n")
          n
        }
      }

      override def startElement(uri: String, local: String, qName: String,
          atts: org.xml.sax.Attributes): Unit = (uri, local) match {
        case (OfficeNs, "spreadsheet") => inSpreadsheet += 1
        case (TableNs, "table") if inSpreadsheet > 0 =>
          flushSheet()
          sheetRows = new scala.collection.mutable.ArrayBuffer[Vector[String]]
          sheetName = attr(atts, TableNs, "name", "table:name")
        case (TableNs, "table-row") if sheetRows != null =>
          row = new scala.collection.mutable.ArrayBuffer[String]
          rowRepeat = repeat(atts, "number-rows-repeated")
        case (TableNs, "table-cell" | "covered-table-cell") if row != null =>
          inCell = true
          cellRepeat = repeat(atts, "number-columns-repeated")
          cellType =
            if (local == "covered-table-cell") ""
            else attr(atts, OfficeNs, "value-type", "office:value-type")
          cellValueAttr = cellType match {
            case "float" | "percentage" | "currency" =>
              attr(atts, OfficeNs, "value", "office:value")
            case "boolean" => attr(atts, OfficeNs, "boolean-value", "office:boolean-value")
            case "date" => attr(atts, OfficeNs, "date-value", "office:date-value")
            case "time" => attr(atts, OfficeNs, "time-value", "office:time-value")
            case _ => ""
          }
          cellText = new java.lang.StringBuilder()
          inCellPara = 0
          firstCellPara = true
        case (TextNs, "p") if inCell =>
          if (!firstCellPara) cellText.append('\n')
          firstCellPara = false
          inCellPara += 1
        case (TextNs, "s") if inCellPara > 0 =>
          val raw = attr(atts, TextNs, "c", "text:c")
          val c = if (raw.isEmpty) 1 else raw.toInt
          if (c < 0 || c > 1000000) bad(s"text:s c=$c")
          var i = 0
          while (i < c) { cellText.append(' '); i += 1 }
        case (TextNs, "tab") if inCellPara > 0 => cellText.append('\t')
        case (TextNs, "line-break") if inCellPara > 0 => cellText.append('\n')
        case _ => ()
      }

      override def endElement(uri: String, local: String, qName: String): Unit =
        (uri, local) match {
          case (OfficeNs, "spreadsheet") =>
            inSpreadsheet -= 1
            if (inSpreadsheet == 0) flushSheet()
          case (TableNs, "table") if sheetRows != null && row == null => ()
          case (TableNs, "table-row") if row != null =>
            // trim trailing empty cells, then append the row (repeated)
            var r = row.toVector
            while (r.nonEmpty && r.last.isEmpty) r = r.init
            if (rowRepeat > MaxRepeat && r.nonEmpty)
              bad(s"row repeat $rowRepeat on a non-empty row")
            val reps = if (r.isEmpty) math.min(rowRepeat, MaxRepeat) else rowRepeat
            var i = 0
            while (i < reps) { sheetRows += r; i += 1 }
            row = null
          case (TableNs, "table-cell" | "covered-table-cell") if inCell =>
            val rendered = render()
            if (cellRepeat > MaxRepeat && rendered.nonEmpty)
              bad(s"cell repeat $cellRepeat on a non-empty cell")
            val reps = if (rendered.isEmpty) math.min(cellRepeat, MaxRepeat) else cellRepeat
            var i = 0
            while (i < reps) { row += rendered; i += 1 }
            inCell = false
            cellText = null
          case (TextNs, "p") if inCellPara > 0 => inCellPara -= 1
          case _ => ()
        }

      private def render(): String = cellType match {
        case "" | "string" | "void" =>
          if (cellText == null) "" else cellText.toString
        case "float" | "percentage" | "currency" =>
          if (cellValueAttr.isEmpty) bad(s"$cellType cell without office:value")
          val d = try cellValueAttr.toDouble catch {
            case _: NumberFormatException => bad(s"non-numeric office:value '$cellValueAttr'")
          }
          XlsxText.renderNumber(d)
        case "boolean" =>
          cellValueAttr match {
            case "true" => "TRUE"
            case "false" => "FALSE"
            case other => bad(s"boolean-value '$other'")
          }
        case "date" | "time" =>
          if (cellValueAttr.isEmpty) bad(s"$cellType cell without its value attribute")
          cellValueAttr
        case other => bad(s"unknown value-type '$other'")
      }

      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        if (inCellPara > 0) {
          if (cellText.length().toLong + length > cap)
            throw new Refusal("too_large", s"ods text inflates past $cap bytes")
          cellText.append(ch, start, length)
        }

      private def flushSheet(): Unit = if (sheetRows != null) {
        var rows = sheetRows.toVector
        while (rows.nonEmpty && rows.last.isEmpty) rows = rows.init
        if (out.length() > 0) out.append('\n')
        out.append("sheet\t").append(sheetName)
        rows.foreach { r =>
          if (out.length().toLong + r.length + 8 > cap)
            throw new Refusal("too_large", s"ods text inflates past $cap bytes")
          out.append('\n').append(r.mkString("\t"))
        }
        sheetRows = null
      }
    }

    try XlsxText.parseXml("content.xml", xml, handler, kind = "bad_ods")
    catch {
      case _: NumberFormatException => bad("non-numeric attribute")
    }
    out.toString
  }

  // --------------------------------------------------------- writer

  sealed trait Cell
  final case class OStr(s: String) extends Cell
  final case class ONum(d: Double) extends Cell
  final case class OBool(b: Boolean) extends Cell
  final case class ODate(iso: String) extends Cell

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Deterministic minimal ODS package (stored-first mimetype), one
    * `table:table` per sheet. Round-trips through [[extract]].
    */
  def write(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val mime = "application/vnd.oasis.opendocument.spreadsheet"
    val manifest =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">""" +
        s"""<manifest:file-entry manifest:full-path="/" manifest:media-type="$mime"/>""" +
        """<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>""" +
        """</manifest:manifest>"""
    def cell(c: Cell): String = c match {
      case OStr(s) =>
        s"""<table:table-cell office:value-type="string"><text:p>${esc(s)}</text:p></table:table-cell>"""
      case ONum(d) =>
        s"""<table:table-cell office:value-type="float" office:value="$d"/>"""
      case OBool(b) =>
        s"""<table:table-cell office:value-type="boolean" office:boolean-value="$b"/>"""
      case ODate(iso) =>
        s"""<table:table-cell office:value-type="date" office:date-value="$iso"/>"""
    }
    val body = sheets.map { case (name, rows) =>
      s"""<table:table table:name="${esc(name)}">""" +
        rows.map(r => "<table:table-row>" + r.map(cell).mkString + "</table:table-row>").mkString +
        "</table:table>"
    }.mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<office:document-content""" +
        """ xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"""" +
        """ xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"""" +
        """ xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"""" +
        """ office:version="1.2"><office:body><office:spreadsheet>""" +
        body +
        """</office:spreadsheet></office:body></office:document-content>"""
    graft.ops.Zip.write(Seq(
      graft.ops.Zip.ZipMember("mimetype",
        mime.getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
      graft.ops.Zip.ZipMember("META-INF/manifest.xml",
        manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      graft.ops.Zip.ZipMember("content.xml",
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
  }
}
