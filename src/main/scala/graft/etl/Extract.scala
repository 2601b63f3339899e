package graft.etl

import java.util.Locale
import java.util.regex.Pattern
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Block extractors — the reference's "table-valued functions" that turn one
  * document string into heterogeneous records
  * (reference: backend/etl_pipeline.py:84-159). Pure Scala core so the exact
  * semantics are unit-testable without a SparkSession; [[graft.etl.EtlUdfs]]
  * wraps it as a Spark UDF (one call per document — embarrassingly parallel,
  * no shuffle, scales linearly with document count).
  *
  * Faithful behaviors preserved:
  *  - ALL extractors run unconditionally and results concatenate in order
  *    E1→E8 (a strict-JSON doc is re-matched by the embedded-JSON regexes, so
  *    records intentionally duplicate with/without `_source_type`);
  *  - strict-JSON records (E1) carry NO `_source_type` key;
  *  - `_source_type` is appended as the LAST key of each tagged record;
  *  - nested dicts are flattened `.`-joined (pandas `json_normalize`), lists
  *    are kept intact;
  *  - a block that fails to parse is silently skipped;
  *  - empty result → single `{_error, _source_type: 'error'}` row (E9).
  */
object Extract {

  /** One extracted record: ordered key → dynamic value. */
  type Record = Vector[(String, JVal)]

  private val CsvRe = Pattern.compile("((?:[\\w\" ]+,)+[\\w\" ]+\\n(?:[^\\n]*\\n?)+)")
  private val YamlRe = Pattern.compile("(?:[a-zA-Z0-9_]+:\\s[^\\n]+\\n(?:\\s+- .+\\n)*)+")
  private val CodeRe = Pattern.compile("(def .+?:\\n(?:\\s+.+\\n)*|print\\(.+\\))")
  private val LogRe = Pattern.compile("\\[\\d{4}-\\d{2}-\\d{2} .+?\\] .+")

  /** The blocks each embedded-block extractor (E2–E5, E7, E8) finds in a
    * document, in match order: the matches of the reference's
    * `re.findall` patterns (E4 and E7 take group 1).
    */
  private[etl] final case class Blocks(objects: Vector[String], arrays: Vector[String],
      csv: Vector[String], yaml: Vector[String], code: Vector[String], logs: Vector[String])

  /** [[Blocks]] without the scans that cannot match. E2's `\{[\s\S]+?\}`
    * and E3's `\[[\s\S]+?\]` are the [[bracketed]] `indexOf` walk. E4 and
    * E5 need a `\n`, and E7 needs `def ` or `print(`; a document without it
    * skips that regex, any other runs it unchanged.
    */
  private[etl] def blocks(text: String): Blocks = {
    val lines = text.indexOf('\n') >= 0
    Blocks(
      bracketed(text, '{', '}'),
      bracketed(text, '[', ']'),
      if (lines) findAll(CsvRe, text, 1) else Vector.empty,
      if (lines) findAll(YamlRe, text, 0) else Vector.empty,
      if (text.contains("def ") || text.contains("print(")) findAll(CodeRe, text, 1)
      else Vector.empty,
      findAll(LogRe, text, 0))
  }

  def extractAll(text: String): Vector[Record] = records(text, blocks(text))

  /** E1–E9 over a document and its embedded [[Blocks]]. */
  private[etl] def records(text: String, found: Blocks): Vector[Record] = {
    val out = Vector.newBuilder[Record]

    // E1: strict JSON document (no _source_type tag)
    Json.parseOpt(text).foreach {
      case o: JObj => out += flattenDicts(o.fields.toVector)
      case JArr(items) => items.foreach { case o: JObj => out += flattenDicts(o.fields) case _ => }
      case _ =>
    }
    // E2: embedded JSON objects
    found.objects.foreach { block =>
      Json.parseOpt(block).foreach {
        case o: JObj => out += flattenDicts(o.fields :+ ("_source_type" -> JStr("json")))
        case JArr(items) =>
          items.foreach { case o: JObj => out += flattenDicts(o.fields :+ ("_source_type" -> JStr("json"))) case _ => }
        case _ =>
      }
    }
    // E3: embedded JSON arrays (only list results are taken)
    found.arrays.foreach { block =>
      Json.parseOpt(block).foreach {
        case JArr(items) =>
          items.foreach { case o: JObj => out += flattenDicts(o.fields :+ ("_source_type" -> JStr("json"))) case _ => }
        case _ =>
      }
    }
    // E4: embedded CSV blocks
    found.csv.foreach { block =>
      Csv.parseBlock(block).foreach(_.foreach { rec =>
        out += (rec :+ ("_source_type" -> JStr("csv")))
      })
    }
    // E5: embedded YAML blocks (dict results only)
    found.yaml.foreach { block =>
      Yamls.parseOpt(block).foreach {
        case o: JObj => out += flattenDicts(o.fields :+ ("_source_type" -> JStr("yaml")))
        case _ =>
      }
    }
    // E6: HTML tag rows. A malformed marked section (`<![foo]>`) raises
    // in stdlib html.parser — the reference does NOT catch it, so the
    // whole request dies there (etl_pipeline.py:141 is try-less); sane
    // mode here skips the HTML extractor for the document instead of
    // killing the job (documented deviation, SaneModeSpec).
    (try Html.tagRows(text)
    catch { case _: HtmlParser.MarkedSectionError => Vector.empty }).foreach { t =>
      val attrs = t.attrs.map { case (k, v) => s"_html_attr_$k" -> JStr(v) }
      out += (Vector(
        "_html_tag" -> JStr(t.name),
        "_html_text" -> JStr(t.text),
        "_source_type" -> JStr("html")) ++ attrs)
    }
    // E7: code blocks (newlines → spaces)
    found.code.foreach { code =>
      out += Vector("_code_block" -> JStr(code.replace("\n", " ")), "_source_type" -> JStr("code"))
    }
    // E8: log lines
    found.logs.foreach { log =>
      out += Vector("_log_entry" -> JStr(log), "_source_type" -> JStr("log"))
    }

    val res = out.result()
    if (res.isEmpty)
      Vector(Vector("_error" -> JStr("No extractable block found"), "_source_type" -> JStr("error")))
    else res
  }

  /** The matches of the lazy `open[\s\S]+?close` regex: from an `open` at
    * `i` to the first `close` at `i + 2` or later (the lazy body takes at
    * least one code point, and a close bracket never sits inside a
    * surrogate pair), then on after that close.
    */
  private def bracketed(text: String, open: Char, close: Char): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = text.indexOf(open)
    while (i >= 0) {
      val j = text.indexOf(close, i + 2)
      if (j < 0) return b.result()
      b += text.substring(i, j + 1)
      i = text.indexOf(open, j + 1)
    }
    b.result()
  }

  private def findAll(p: Pattern, text: String, group: Int): Vector[String] = {
    val m = p.matcher(text)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group(group)
    b.result()
  }

  /** pandas `json_normalize` record semantics: nested dicts flatten with
    * `.`-joined keys; lists are left intact. Key ORDER (verified
    * empirically): top-level scalar/list keys first in appearance order,
    * then each top-level dict's subtree fully flattened in pure appearance
    * order — the scalars-first reordering happens only at the TOP level.
    */
  def flattenDicts(fields: Vector[(String, JVal)]): Record = {
    val scalars = fields.collect { case (k, v) if !v.isInstanceOf[JObj] => k -> v }
    val nested = fields.collect { case (k, o: JObj) => deepFlatten(k, o) }.flatten
    scalars ++ nested
  }

  // iterative pre-order DFS (round 16): a parse-depth dict must flatten
  // without a StackOverflowError, same class as PyRender's containers
  private def deepFlatten(prefix: String, obj: JObj): Record = {
    val out = Vector.newBuilder[(String, JVal)]
    val stack = new java.util.ArrayDeque[(String, JVal)]()
    obj.fields.reverseIterator.foreach { case (k, v) =>
      stack.push((s"$prefix.$k", v))
    }
    while (!stack.isEmpty) {
      val (path, v) = stack.pop()
      v match {
        case o: JObj => o.fields.reverseIterator.foreach { case (k, x) =>
          stack.push((s"$path.$k", x))
        }
        case other => out += (path -> other)
      }
    }
    out.result()
  }
}

/** pandas-`read_csv`-like parsing for embedded CSV blocks: first line is the
  * header, duplicate headers deduped with `.N`, empty headers `Unnamed: N`,
  * per-column dtype inference (all-int → int, numeric-or-NA → float, else
  * string), default NA tokens, a row wider than the header fails the whole
  * block (pandas ParserError → block skipped).
  */
object Csv {
  /** pandas default na_values — matched EXACTLY, no whitespace strip
    * (" null" stays a literal string; numeric parsing, by contrast,
    * tolerates surrounding whitespace).
    */
  private val NaTokens = Set("", "#N/A", "#N/A N/A", "#NA", "-1.#IND",
    "-1.#QNAN", "-NaN", "-nan", "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA",
    "NULL", "NaN", "None", "n/a", "nan", "null")

  /** pandas C-parser boolean tokens: case-INsensitive true/false ("tRuE"
    * counts, verified empirically), but NO whitespace strip (" True" stays a
    * string).
    */
  private def isBoolToken(c: String): Boolean =
    c.equalsIgnoreCase("true") || c.equalsIgnoreCase("false")

  def parseBlock(block: String): Option[Vector[Extract.Record]] = {
    val lines = block.split("\n", -1).toVector.filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val header0 = splitLine(lines.head).getOrElse(return None)
    val header = dedupHeader(header0)
    val rowsOpt = lines.tail.map(splitLine)
    if (rowsOpt.exists(_.isEmpty)) return None
    val rows = rowsOpt.map(_.get)
    if (rows.exists(_.length > header.length)) return None // ParserError
    if (rows.isEmpty) return None // header-only frame → zero records
    val padded = rows.map(r => r.padTo(header.length, null: String))

    // column dtype inference
    val cols = header.indices.map { i =>
      val cells = padded.map(_(i))
      val nonNa = cells.filter(c => c != null && !NaTokens.contains(c))
      def allMatch(re: String) = nonNa.nonEmpty && nonNa.forall(_.trim.matches(re))
      val anyNa = cells.exists(c => c == null || NaTokens.contains(c))
      // pandas bool inference: all non-NA cells case-insensitively true/false
      // → python bools; dtype is bool without NA, object (bool + NaN cells)
      // with — either way the VALUES are bools.
      val allBool = nonNa.nonEmpty && nonNa.forall(isBoolToken)
      if (allMatch("[+-]?\\d+") && !anyNa) cells.map(c => JInt(BigInt(c.trim)): JVal)
      else if (allBool)
        cells.map(c =>
          if (c == null || NaTokens.contains(c)) JNull
          else JBool(c.equalsIgnoreCase("true")): JVal)
      else if (allMatch("[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?"))
        cells.map(c =>
          if (c == null || NaTokens.contains(c)) JNull
          else JFloat(c.trim.toDouble): JVal)
      else cells.map(c =>
        if (c == null || NaTokens.contains(c)) JNull else JStr(c): JVal)
    }
    Some(padded.indices.map(r => header.indices.map(i => header(i) -> cols(i)(r)).toVector).toVector)
  }

  /** pandas-C-engine-ish single-line split: a quote only opens quoting at
    * FIELD START; mid-field quotes are literal (so `print("x")` stays one
    * literal field). Doubled-quote escape inside quoted fields.
    */
  private def splitLine(line: String): Option[Vector[String]] = {
    val fields = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    var atFieldStart = true
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQ = false
        } else cur.append(c)
      } else c match {
        case '"' if atFieldStart => inQ = true; atFieldStart = false
        case ',' => fields += cur.toString; cur.clear(); atFieldStart = true
        case other => cur.append(other); atFieldStart = false
      }
      i += 1
    }
    if (inQ) return None
    fields += cur.toString
    Some(fields.result())
  }

  private def dedupHeader(h: Vector[String]): Vector[String] = {
    val seen = mutable.Map.empty[String, Int]
    h.zipWithIndex.map { case (name0, i) =>
      val name = if (name0.trim.isEmpty) s"Unnamed: $i" else name0
      seen.get(name) match {
        case None => seen(name) = 0; name
        case Some(n) => seen(name) = n + 1; s"$name.${n + 1}"
      }
    }
  }
}

/** YAML 1.1 loading via SnakeYAML (ships with Spark), converted to [[JVal]].
  * Mirrors `yaml.safe_load`: maps keep order; `yes/no/on/off` booleans;
  * timestamps render ISO-style like python `str(date/datetime)`.
  */
object Yamls {
  def parseOpt(block: String): Option[JVal] =
    try {
      val loaderOpts = new org.yaml.snakeyaml.LoaderOptions()
      val yaml = new org.yaml.snakeyaml.Yaml(
        new org.yaml.snakeyaml.constructor.SafeConstructor(loaderOpts))
      Option(yaml.load[AnyRef](block)).map(convert)
    } catch { case _: Exception => None }

  private def convert(o: AnyRef): JVal = o match {
    case null => JNull
    case b: java.lang.Boolean => JBool(b)
    case i: java.lang.Integer => JInt(BigInt(i.intValue))
    case l: java.lang.Long => JInt(BigInt(l.longValue))
    case bi: java.math.BigInteger => JInt(BigInt(bi))
    case d: java.lang.Double => JFloat(d)
    case f: java.lang.Float => JFloat(f.doubleValue)
    case s: String => JStr(s)
    case d: java.util.Date =>
      val ldt = java.time.LocalDateTime.ofInstant(d.toInstant, java.time.ZoneOffset.UTC)
      val s =
        if (ldt.toLocalTime == java.time.LocalTime.MIDNIGHT) ldt.toLocalDate.toString
        else ldt.toLocalDate.toString + " " + ldt.toLocalTime.toString
      JStr(s)
    case m: java.util.Map[_, _] =>
      JObj(m.asScala.iterator.map { case (k, v) =>
        String.valueOf(k) -> convert(v.asInstanceOf[AnyRef])
      }.toVector)
    case l: java.util.List[_] =>
      JArr(l.asScala.iterator.map(x => convert(x.asInstanceOf[AnyRef])).toVector)
    case other => JStr(other.toString)
  }
}

/** Lenient HTML tag scanner standing in for BeautifulSoup over the stdlib
  * `html.parser` backend (reference: backend/etl_pipeline.py:141-148):
  * every element in document order whose subtree text (each visible text
  * node stripped, concatenated) is longer than 3 chars becomes a row.
  *
  * Modern-bs4 (≥4.9) semantics reproduced:
  *  - script/style bodies are CDATA — raw text up to the matching close
  *    tag, never entity-decoded — and, like strings typed Script /
  *    Stylesheet / TemplateString in bs4, are EXCLUDED from `get_text()`
  *    (exact-type filtering keeps only plain NavigableString); strings
  *    under a `<template>` ancestor are likewise hidden;
  *  - comments, declarations (`<!doctype …>`) and processing instructions
  *    (`<?…?>`) parse as non-text nodes (Comment/Doctype/PI), invisible to
  *    `get_text`;
  *  - closing tags pop to the nearest matching open tag (implicitly
  *    closing descendants); unmatched closers are ignored; void elements
  *    (bs4 `empty_element_tags`) never push;
  *  - multi-valued attributes follow bs4's `cdata_list_attributes` table
  *    (global class/accesskey/dropzone + per-tag rel/rev/headers/…) and
  *    split with `re.split('\\s+')` semantics — leading/trailing
  *    whitespace yields EMPTY list items, as in bs4 — rendering
  *    python-list-style.
  *
  * Documented deviations (HtmlGoldenSpec): only the core named entities +
  * numeric (dec/hex) references decode — not the full HTML5 table — and
  * references missing their semicolon stay literal.
  */
/** BeautifulSoup('html.parser') tree-building + `find_all(True)` /
  * `get_text(strip=True)` semantics over the faithful stdlib-tokenizer
  * port ([[HtmlParser]]) — the engine side of the reference's HTML row
  * extraction (`etl_pipeline.py:141-148`). Battery-pinned against the
  * genuine stdlib tokenizer by HtmlParitySpec
  * (goldens/html_parity.json, tools/html_parity.py).
  */
object Html {
  final case class TagRow(name: String, text: String, attrs: Vector[(String, String)])

  /** bs4 HTMLTreeBuilder.empty_element_tags (html.parser backend). */
  private val Void = Set("area", "base", "br", "col", "embed", "hr", "img",
    "input", "keygen", "link", "menuitem", "meta", "param", "source", "track",
    "wbr", "basefont", "bgsound", "command", "frame", "image", "isindex",
    "nextid", "spacer")
  /** bs4 cdata_list_attributes: '*' entries + per-tag entries. */
  private val MultiGlobal = Set("class", "accesskey", "dropzone")
  private val MultiPerTag: Map[String, Set[String]] = Map(
    "a" -> Set("rel", "rev"), "link" -> Set("rel", "rev"),
    "td" -> Set("headers"), "th" -> Set("headers"),
    "form" -> Set("accept-charset"), "object" -> Set("archive"),
    "area" -> Set("rel"), "icon" -> Set("sizes"),
    "iframe" -> Set("sandbox"), "output" -> Set("for"))
  /** bs4 string_containers: strings under these get non-visible types. */
  private val StringContainers = Set("script", "style", "template")

  private final case class Text(s: String, hidden: Boolean)
  private final class Node(val name: String) {
    // dict semantics: duplicate attribute keeps the FIRST position, LAST
    // value (bs4 on_duplicate_attribute='replace' over a Python dict)
    val attrs = mutable.LinkedHashMap.empty[String, String]
    val children = mutable.ArrayBuffer.empty[AnyRef] // Node | Text
  }

  def tagRows(text: String): Vector[TagRow] = {
    val root = new Node("")
    val stack = mutable.ArrayBuffer(root)
    val order = mutable.ArrayBuffer.empty[Node]
    val buf = new StringBuilder

    // bs4 endData: adjacent handle_data chunks join into ONE
    // NavigableString at the next tag/comment/decl/PI boundary, so
    // get_text(strip=True) strips the joined run once
    def endData(): Unit = if (buf.nonEmpty) {
      val hidden = stack.exists(n => StringContainers.contains(n.name))
      stack.last.children += Text(buf.toString, hidden)
      buf.clear()
    }
    def open(name: String, attrs: List[(String, Option[String])], push: Boolean): Unit = {
      endData()
      val node = new Node(name)
      attrs.foreach { case (k, v) => node.attrs.update(k, v.getOrElse("")) }
      stack.last.children += node
      order += node
      if (push && !Void.contains(name)) stack += node
    }
    HtmlParser.parse(text, new HtmlParser.Handler {
      def starttag(name: String, attrs: List[(String, Option[String])]): Unit =
        open(name, attrs, push = true)
      def startendtag(name: String, attrs: List[(String, Option[String])]): Unit =
        open(name, attrs, push = false)
      def endtag(name: String): Unit = {
        endData()
        // pop to the nearest matching open tag if present (implicit closes)
        val idx = stack.lastIndexWhere(_.name == name)
        if (idx > 0) stack.remove(idx, stack.length - idx)
      }
      def data(s: String): Unit = if (s.nonEmpty) buf.append(s)
      def marker(): Unit = endData()
    })
    endData() // close()

    order.iterator.flatMap { n =>
      val t = subtreeText(n)
      if (t.length > 3) {
        val multi = MultiGlobal ++ MultiPerTag.getOrElse(n.name, Set.empty)
        val attrs = n.attrs.iterator.map { case (k, v) =>
          if (multi.contains(k)) {
            // re.split(r'\s+', v) semantics (PYTHON \s = Unicode
            // White_Space): '' → []; leading/trailing whitespace
            // contributes EMPTY items (the bs4 quirk)
            val parts = if (v.isEmpty) Array.empty[String] else PyWsRe.split(v, -1)
            k -> parts.map(PyRender.pyReprStr).mkString("[", ", ", "]")
          } else k -> v
        }.toVector
        Some(TagRow(n.name, t, attrs))
      } else None
    }.toVector
  }

  /** get_text(strip=True): strip each VISIBLE text node, drop empties,
    * join with "" — hidden (Script/Stylesheet/TemplateString-typed)
    * strings never contribute.
    */
  private def subtreeText(n: Node): String = {
    val sb = new StringBuilder
    def walk(x: AnyRef): Unit = x match {
      case Text(s, hidden) => if (!hidden) sb.append(pyStrip(s))
      case c: Node => c.children.foreach(walk)
    }
    n.children.foreach(walk)
    sb.toString
  }

  /** Python str.strip(): Unicode whitespace, including NBSP/NEL — wider
    * than Java's trim (ASCII <= 0x20 only). Decoded `&nbsp;` at a text
    * node's edge must strip exactly as it does in the reference.
    */
  private[etl] def pyStrip(s: String): String = {
    def ws(c: Char) =
      Character.isWhitespace(c) || Character.isSpaceChar(c) || c == '\u0085'
    var i = 0
    var j = s.length
    while (i < j && ws(s(i))) i += 1
    while (j > i && ws(s(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** Python `re.split(r'\s+', v)` whitespace (Unicode White_Space). */
  private val PyWsRe = Pattern.compile(
    "[\\x09-\\x0D\\x1C-\\x1F \\x85\\xA0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]+")
}
