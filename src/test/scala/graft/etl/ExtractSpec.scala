package graft.etl

import java.util.regex.Pattern

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the block extractors (E1-E9) — pure-Scala, no Spark.
  * HTML (E6) pins OUR lenient-scanner semantics (bs4 parity is best-effort,
  * documented in Html's scaladoc).
  */
class ExtractSpec extends AnyFunSuite {

  private def types(recs: Vector[Extract.Record]): Vector[String] =
    recs.map(_.toMap.get("_source_type").collect { case JStr(s) => s }.getOrElse(""))

  test("strict JSON array: E1 untagged + E2 per-object + E3 whole-array (faithful duplication)") {
    val recs = Extract.extractAll("""[{"a": 1}, {"a": 2}]""")
    assert(types(recs) == Vector("", "", "json", "json", "json", "json"))
    assert(recs.head.toMap.apply("a") == JInt(1))
  }

  test("empty document → error fallback row") {
    val recs = Extract.extractAll("")
    assert(recs == Vector(Vector(
      "_error" -> JStr("No extractable block found"),
      "_source_type" -> JStr("error"))))
  }

  test("log lines and code blocks") {
    val text = "def f(x):\n    return x\n[2024-01-01 10:00:00] boot\nprint(1)\n"
    val recs = Extract.extractAll(text)
    val m = types(recs)
    assert(m.contains("code") && m.contains("log"))
    val code = recs.filter(_.exists(_._1 == "_code_block"))
    assert(code.exists(_.toMap.apply("_code_block") == JStr("def f(x):     return x ")))
    assert(code.exists(_.toMap.apply("_code_block") == JStr("print(1)")))
  }

  test("yaml block with list items") {
    val text = "env: prod\nowners: team-x\n"
    val recs = Extract.extractAll(text)
    val yaml = recs.filter(_.toMap.get("_source_type").contains(JStr("yaml")))
    assert(yaml.nonEmpty)
    assert(yaml.head.toMap.apply("env") == JStr("prod"))
  }

  test("yaml types: yes/no booleans, ints, dates (YAML 1.1)") {
    assert(Yamls.parseOpt("a: yes\nb: 3\nc: 2.5\nd: 2024-01-05\n") ==
      Some(JObj(Vector("a" -> JBool(true), "b" -> JInt(3), "c" -> JFloat(2.5),
        "d" -> JStr("2024-01-05")))))
  }

  test("csv block: typed columns, quote-at-field-start only, NA padding") {
    val Some(rows) = Csv.parseBlock("a,b,c\n1,x,2.5\n2,\"q,z\",\n")
    assert(rows(0) == Vector("a" -> JInt(1), "b" -> JStr("x"), "c" -> JFloat(2.5)))
    assert(rows(1) == Vector("a" -> JInt(2), "b" -> JStr("q,z"), "c" -> JNull))
  }

  test("csv block: wider row than header → whole block rejected (ParserError)") {
    assert(Csv.parseBlock("a,b\n1,2,3\n").isEmpty)
  }

  test("html rows: subtree text, >3 char filter, class list attr") {
    val text = """<div class="big red" id="x"><p>Hello</p><span>ab</span></div>"""
    val rows = Html.tagRows(text)
    assert(rows.map(_.name) == Vector("div", "p"))
    val div = rows.head
    assert(div.text == "Helloab")
    assert(div.attrs == Vector("class" -> "['big', 'red']", "id" -> "x"))
  }

  test("html: void elements, entities, implicit close at EOF") {
    val rows = Html.tagRows("<ul><li>One &amp; two<br><li>Three</ul>ignored")
    // li not auto-closed by next li (documented deviation from html5 rules)
    assert(rows.map(_.name).contains("ul"))
    assert(rows.exists(_.text.contains("One & two")))
  }

  test("mixed doc extraction order E1→E8") {
    val text = "{\"k\": 1}\nx,y\n1,2\nkey: val\n[2024-01-01 00:00:00] go\n"
    val tags = types(Extract.extractAll(text)).distinct
    val order = Vector("json", "csv", "yaml", "log").filter(tags.contains)
    assert(tags.filter(order.contains) == order)
  }

  test("nested dict flatten uses dot-joined keys, lists intact") {
    val recs = Extract.extractAll("""{"a": {"b": {"c": 1}}, "l": [1, 2]}""")
    assert(recs.head.toMap.keySet == Set("a.b.c", "l"))
    assert(recs.head.toMap.apply("l") == JArr(Vector(JInt(1), JInt(2))))
  }

  /** The reference's `re.findall` patterns for E2–E5, E7 and E8, verbatim:
    * `Extract.blocks` must find exactly what they find.
    */
  private val JsonObjRe = Pattern.compile("\\{[\\s\\S]+?\\}")
  private val JsonArrRe = Pattern.compile("\\[[\\s\\S]+?\\]")
  private val CsvRe = Pattern.compile("((?:[\\w\" ]+,)+[\\w\" ]+\\n(?:[^\\n]*\\n?)+)")
  private val YamlRe = Pattern.compile("(?:[a-zA-Z0-9_]+:\\s[^\\n]+\\n(?:\\s+- .+\\n)*)+")
  private val CodeRe = Pattern.compile("(def .+?:\\n(?:\\s+.+\\n)*|print\\(.+\\))")
  private val LogRe = Pattern.compile("\\[\\d{4}-\\d{2}-\\d{2} .+?\\] .+")

  private def findAll(p: Pattern, text: String, group: Int): Vector[String] = {
    val m = p.matcher(text)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group(group)
    b.result()
  }

  private def regexBlocks(text: String): Extract.Blocks = Extract.Blocks(
    findAll(JsonObjRe, text, 0), findAll(JsonArrRe, text, 0), findAll(CsvRe, text, 1),
    findAll(YamlRe, text, 0), findAll(CodeRe, text, 1), findAll(LogRe, text, 0))

  private def goldenInputs: Seq[String] =
    Seq("/goldens/pipeline_goldens.json", "/goldens/fuzz_goldens.json").flatMap { p =>
      val in = getClass.getResourceAsStream(p)
      Json.parse(new String(in.readAllBytes(), "UTF-8")).asInstanceOf[JObj].fields.map {
        case (_, g) => g.asInstanceOf[JObj].fields.toMap.apply("input").asInstanceOf[JStr].s
      }
    }

  /** seeded documents over the characters the scans and their guards
    * look at, surrogate pairs and lone surrogates included
    */
  private def generated(n: Int, seed: Long): Seq[String] = {
    val tokens = Vector("{", "}", "[", "]", "\n", ",", ":", "\"", " ", "a", "k", "Z", "_", "0",
      "7", "def ", "print(", ")", "- ", "\uD83D\uDE00", "\uD83D", "\uDE00", "\r",
      "[2024-01-05 10:00:00] ", "{\"a\": 1}", "yes: no\n")
    val rnd = new Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(64))(tokens(rnd.nextInt(tokens.size))).mkString)
  }

  test("extractAll ≡ its regex form, record for record, on goldens and generated documents") {
    val docs = goldenInputs ++ generated(3000, 8)
    assert(docs.size > 3000)
    val blockDiffs = docs.filter(t => Extract.blocks(t) != regexBlocks(t))
    assert(blockDiffs.isEmpty, blockDiffs.take(5).map(PyRender.pyReprStr).mkString("\n"))
    val recordDiffs = docs.filter(t => Extract.extractAll(t) != Extract.records(t, regexBlocks(t)))
    assert(recordDiffs.isEmpty, recordDiffs.take(5).map(PyRender.pyReprStr).mkString("\n"))
    // the generator reaches every scan, and the guards' skipped cases
    Seq[Extract.Blocks => Vector[String]](_.objects, _.arrays, _.csv, _.yaml, _.code, _.logs)
      .foreach(scan => assert(docs.exists(t => scan(regexBlocks(t)).nonEmpty)))
    assert(docs.exists(t => !t.contains("\n") && t.contains("{")))
    assert(docs.exists(t => !t.contains("def ") && !t.contains("print(") && t.contains("\n")))
  }
}
