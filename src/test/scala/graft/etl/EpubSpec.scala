package graft.etl

import org.scalatest.funsuite.AnyFunSuite

/** EpubText vs the independently assembled OCF fixtures
  * (tools/make_epub_fixture.py): container/OPF walk (nested OPF dirs,
  * ../ hrefs, spine reordering), XHTML body-text semantics (DOCTYPEs
  * tolerated WITHOUT external fetch, script/style muted, block
  * boundaries, entities), typed refusals, and the writer round trip.
  */
class EpubSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private val expected = Json.parse(new String(
    fixture("epub_expected.json"), java.nio.charset.StandardCharsets.UTF_8))
    .asInstanceOf[JObj].fields.toMap

  test("fixture battery: nested OPF, ../ hrefs, reordered spine, DOCTYPE, script/style") {
    expected.foreach { case (name, w0) =>
      val w = w0.asInstanceOf[JObj].fields.toMap
      val e = EpubText.extract(fixture(name))
      assert(e.title == w("title").asInstanceOf[JStr].s, s"$name title")
      assert(e.language == w("language").asInstanceOf[JStr].s, s"$name lang")
      val chapters = w("chapters").asInstanceOf[JArr].items.map(
        _.asInstanceOf[JStr].s)
      assert(e.chapters == chapters, s"$name chapters")
    }
  }

  test("refusals are typed bad_epub / bad_zip") {
    assert(EpubText.extractSafe(fixture("epub_bad_mimetype.epub")) ==
      Left("bad_epub"))
    assert(EpubText.extractSafe(fixture("epub_missing_chapter.epub")) ==
      Left("bad_epub"))
    assert(EpubText.extractSafe(fixture("epub_dangling_idref.epub")) ==
      Left("bad_epub"))
    // ../../ href escaping the container refuses instead of touching
    // anything outside the archive namespace
    assert(EpubText.extractSafe(fixture("epub_escape_href.epub")) ==
      Left("bad_epub"))
    assert(EpubText.extractSafe("not a zip".getBytes("UTF-8")) ==
      Left("bad_zip"))
    // internal-subset entity bomb: secure processing refuses typed
    val bomb = ("""<?xml version="1.0"?><!DOCTYPE html [""" +
      """<!ENTITY a "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa">""" +
      (1 to 8).map(i =>
        s"""<!ENTITY ${"x" * i} "${s"&${"x" * (i - 1)};" * 10}">"""
          .replace("&x0;", "&a;").replace("<!ENTITY x ", "<!ENTITY x1x ")
      ).mkString +
      """]><html xmlns="http://www.w3.org/1999/xhtml"><body><p>&a;</p></body></html>""")
      .getBytes("UTF-8")
    // whatever the exact expansion shape, it must come back typed
    val r = try Right(EpubText.bodyText(bomb)) catch {
      case e: graft.core.Refusal => Left(e.kind)
      case _: Exception => Left("bad_epub")
    }
    assert(r.isLeft || r.toOption.exists(_.length < 1000))
  }

  test("writer round trip + extractor plug point") {
    val chapters = Seq("first chapter text\nwith a second line",
      "second chapter & <specials>")
    val epub = EpubText.write("My Book", "en", chapters)
    val e = EpubText.extract(epub)
    assert(e.title == "My Book" && e.language == "en")
    assert(e.chapters == chapters.map(_.split("\n").map(_.trim)
      .filter(_.nonEmpty).mkString("\n")).toVector)
    assert(PlainTextExtractor.extract("book.epub", epub) == e.text)
  }
}
