package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

import graft.etl.{JBool, JInt, JObj, JStr, JVal, Json}

/** Locks on the EXIF audit/scrub (graft.ops.Exif): field extraction from
  * the independent python spec transcription's fixtures (both byte
  * orders, sub-IFDs, unknown tags, value padding — layouts our writer
  * never produces), scrub semantics (EXIF gone, image bytes intact,
  * idempotent), round trips through our own writer, and typed-refusal
  * totality under mutation.
  */
class ExifSpec extends AnyFunSuite {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private lazy val expected: Map[String, JVal] =
    Json.parse(new String(fixture("exif_expected.json"), UTF_8)) match {
      case JObj(fs) => fs.toMap
      case other    => fail(s"bad expected json: $other")
    }

  private def metaOf(name: String): Exif.Meta = Exif.parse(fixture(s"$name.jpg"))

  private def check(name: String): Unit = {
    val exp = expected(name).asInstanceOf[JObj].fields.toMap
    val got = metaOf(name)
    def s(k: String): Option[String] = exp(k) match {
      case JStr(v) => Some(v)
      case _       => None
    }
    assert(got.orientation == (exp("orientation") match {
      case JInt(v) => Some(v.toInt); case _ => None
    }), s"$name orientation")
    assert(got.dateTime == s("dateTime"), s"$name dateTime")
    assert(got.make == s("make"), s"$name make")
    assert(got.model == s("model"), s"$name model")
    assert(got.hasGps == exp("hasGps").asInstanceOf[JBool].b, s"$name gps")
    assert(got.hasExifIfd == exp("hasExifIfd").asInstanceOf[JBool].b, s"$name exifIfd")
  }

  test("python-transcription fixtures parse exactly (II, MM, no-GPS, no-EXIF)") {
    for (name <- Seq("exif_le", "exif_be", "exif_nogps", "exif_none")) check(name)
  }

  test("scrub removes EXIF, keeps image bytes, and is idempotent") {
    for (name <- Seq("exif_le", "exif_be", "exif_nogps")) {
      val jpeg = fixture(s"$name.jpg")
      val scrubbed = Exif.scrub(jpeg)
      assert(scrubbed.length < jpeg.length, s"$name: nothing removed")
      assert(Exif.parse(scrubbed) ==
        Exif.Meta(None, None, None, None, hasGps = false, hasExifIfd = false))
      assert(java.util.Arrays.equals(Exif.scrub(scrubbed), scrubbed))
      // non-EXIF segments survive byte-exact (the COM comment in exif_be)
      if (name == "exif_be")
        assert(new String(scrubbed, UTF_8).contains("a comment after the exif block"))
    }
    // a JPEG with no EXIF scrubs to itself
    val none = fixture("exif_none.jpg")
    assert(java.util.Arrays.equals(Exif.scrub(none), none))
  }

  test("our writer round-trips through the reader, both byte orders") {
    for (le <- Seq(true, false); gps <- Seq(None, Some((45L, 2L)))) {
      val jpeg = Exif.buildJpeg(7, "2024:02:29 12:00:00", "maker",
        gps, littleEndian = le, comment = "body bytes")
      val m = Exif.parse(jpeg)
      assert(m.orientation == Some(7) && m.dateTime == Some("2024:02:29 12:00:00") &&
        m.make == Some("maker") && m.hasGps == gps.isDefined, s"le=$le gps=$gps")
    }
  }

  test("refusals are typed: not a JPEG, truncation, lying offsets/lengths") {
    assert(Exif.parseSafe("PNG...".getBytes(UTF_8)) == Left("not_media"))
    assert(Exif.parseSafe(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte))
      == Left("truncated"))
    val clean = fixture("exif_le.jpg")
    val kinds = Set("not_media", "truncated", "malformed")
    for (pos <- clean.indices; x <- Seq(0x01, 0x5a, 0x80, 0xff)) {
      val m = clean.clone(); m(pos) = (m(pos) ^ x).toByte
      (Exif.parseSafe(m), try { Exif.scrub(m); None } catch {
        case e: graft.core.Refusal => Some(e.kind)
      }) match {
        case (Left(k), _) => assert(kinds.contains(k), s"parse pos=$pos x=$x kind=$k")
        case (_, Some(k)) => assert(kinds.contains(k), s"scrub pos=$pos x=$x kind=$k")
        case _ => ()
      }
    }
    for (n <- 0 until clean.length) {
      Exif.parseSafe(java.util.Arrays.copyOf(clean, n)) match {
        case Left(k) => assert(kinds.contains(k), s"cut at $n: $k")
        case Right(_) => () // a cut after the EXIF segment still parses
      }
    }
  }

  /** SOI + one APP1 whose payload is `ident` ++ `tiff` + EOI. */
  private def app1Jpeg(ident: Array[Byte], tiff: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    val len = ident.length + tiff.length + 2
    out.write(0xff); out.write(0xe1)
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(ident); out.write(tiff)
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  test("IFD offset near Int.MaxValue refuses typed instead of escaping parseSafe") {
    // TIFF header: "II", 42, IFD0 pointer 0x7FFFFFFE — Int bounds math
    // would wrap `o + 2` negative and index out of the array
    val tiff = Array[Byte]('I', 'I', 42, 0,
      0xfe.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte)
    val jpeg = app1Jpeg(Array[Byte]('E', 'x', 'i', 'f', 0, 0), tiff)
    Exif.parseSafe(jpeg) match {
      case Left(k) => assert(Set("truncated", "malformed").contains(k))
      case Right(m) => fail(s"accepted lying IFD offset: $m")
    }
  }

  test("scrub and audit share the EXIF predicate: nonzero pad byte is not EXIF") {
    // APP1 `Exif\0` + pad 0x01: findExifPayload never matched it; scrub
    // must agree and keep the segment byte-exact
    val tiff = Array[Byte]('I', 'I', 42, 0, 8, 0, 0, 0, 0, 0)
    val jpeg = app1Jpeg(Array[Byte]('E', 'x', 'i', 'f', 0, 1), tiff)
    assert(Exif.parse(jpeg) ==
      Exif.Meta(None, None, None, None, hasGps = false, hasExifIfd = false))
    assert(java.util.Arrays.equals(Exif.scrub(jpeg), jpeg),
      "scrub removed a segment the audit does not count as EXIF")
  }
}
