package graft.ops

import graft.core.Refusal

/** EXIF metadata audit + scrub over JPEG containers — the
  * metadata-governance pass a multimodal crawl pipeline runs before
  * training (EXIF carries GPS positions, device serials, and timestamps:
  * PII that must be surfaced and stripped). Hand-rolled from the public
  * specs: the JPEG marker-segment grammar (ITU-T T.81 §B) and the EXIF
  * TIFF-IFD layout (TIFF 6.0 + EXIF 2.3): APP1 `Exif\0\0` → TIFF header
  * (both byte orders) → IFD0 entries (orientation 0x0112, DateTime
  * 0x0132, Make/Model), the GPS sub-IFD via pointer tag 0x8825 and the
  * EXIF sub-IFD via 0x8769.
  *
  * Same contract as the other media codecs: strict bounded reader (every
  * offset/count validated before a byte is trusted — a lying IFD offset
  * is the classic parser CVE), typed refusals (`not_media` / `truncated`
  * / `malformed`), and a structure-preserving [[scrub]] that removes the
  * EXIF APP1 segment(s) while leaving every image byte intact.
  */
object Exif {

  final case class Meta(
      orientation: Option[Int],
      dateTime: Option[String],
      make: Option[String],
      model: Option[String],
      hasGps: Boolean,
      hasExifIfd: Boolean)

  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, msg)

  def parseSafe(jpeg: Array[Byte]): Either[String, Meta] =
    try Right(parse(jpeg))
    catch {
      case e: Refusal => Left(e.kind)
      // backstop: a crafted offset that slips past a bounds check must
      // surface as a typed refusal, never fail the whole scan
      case _: RuntimeException => Left("malformed")
    }

  /** Parse the first EXIF APP1 segment; a JPEG without one yields the
    * empty Meta (absence of metadata is not an error).
    */
  def parse(jpeg: Array[Byte]): Meta =
    findExifPayload(jpeg) match {
      case Some((off, len)) => parseTiff(jpeg, off, len)
      case None => Meta(None, None, None, None, hasGps = false, hasExifIfd = false)
    }

  /** Remove EXIF APP1 segments, byte-identical otherwise (the scrub a
    * privacy pass applies before publishing a corpus).
    */
  def scrub(jpeg: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(jpeg.length)
    var p = checkSoi(jpeg)
    out.write(0xff); out.write(0xd8)
    var inSegments = true
    while (inSegments && p < jpeg.length) {
      if ((jpeg(p) & 0xff) != 0xff) fail("malformed", f"expected marker at $p")
      if (p + 1 >= jpeg.length) fail("truncated", "marker cut")
      val marker = jpeg(p + 1) & 0xff
      if (marker == 0xd9) { // EOI
        out.write(0xff); out.write(0xd9)
        p += 2
        inSegments = false
      } else if (marker == 0xda) { // SOS: entropy data follows, copy rest
        out.write(jpeg, p, jpeg.length - p)
        p = jpeg.length
        inSegments = false
      } else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        out.write(0xff); out.write(marker)
        p += 2
      } else {
        if (p + 4 > jpeg.length) fail("truncated", "segment length cut")
        val len = ((jpeg(p + 2) & 0xff) << 8) | (jpeg(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > jpeg.length) fail("malformed", s"segment length $len")
        if (!isExifApp1(jpeg, p, marker, len)) out.write(jpeg, p, 2 + len)
        p += 2 + len
      }
    }
    if (p < jpeg.length) out.write(jpeg, p, jpeg.length - p)
    out.toByteArray
  }

  private def checkSoi(jpeg: Array[Byte]): Int = {
    if (jpeg.length < 4) fail("truncated", "shorter than SOI")
    if ((jpeg(0) & 0xff) != 0xff || (jpeg(1) & 0xff) != 0xd8)
      fail("not_media", "no JPEG SOI")
    2
  }

  /** One predicate for the APP1 EXIF identifier (`Exif\0\0`, 6 bytes) so
    * scrub and audit agree on what counts as EXIF.
    */
  private def isExifApp1(jpeg: Array[Byte], p: Int, marker: Int, len: Int): Boolean =
    marker == 0xe1 && len >= 8 &&
      jpeg(p + 4) == 'E' && jpeg(p + 5) == 'x' && jpeg(p + 6) == 'i' &&
      jpeg(p + 7) == 'f' && jpeg(p + 8) == 0 && jpeg(p + 9) == 0

  /** walk the marker segments for APP1 `Exif\0\0`; returns (tiffOff, tiffLen). */
  private def findExifPayload(jpeg: Array[Byte]): Option[(Int, Int)] = {
    var p = checkSoi(jpeg)
    while (p < jpeg.length) {
      if ((jpeg(p) & 0xff) != 0xff) fail("malformed", f"expected marker at $p")
      if (p + 1 >= jpeg.length) fail("truncated", "marker cut")
      val marker = jpeg(p + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS: no EXIF seen
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) p += 2
      else {
        if (p + 4 > jpeg.length) fail("truncated", "segment length cut")
        val len = ((jpeg(p + 2) & 0xff) << 8) | (jpeg(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > jpeg.length) fail("malformed", s"segment length $len")
        if (isExifApp1(jpeg, p, marker, len))
          return Some((p + 10, len - 8))
        p += 2 + len
      }
    }
    None
  }

  private def parseTiff(b: Array[Byte], tiffOff: Int, tiffLen: Int): Meta = {
    if (tiffLen < 8) fail("truncated", "TIFF header cut")
    val le = (b(tiffOff) & 0xff, b(tiffOff + 1) & 0xff) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => fail("malformed", "bad TIFF byte order")
    }
    // bounds math in Long: an IFD offset near Int.MaxValue must refuse
    // typed, not wrap negative and index out of the array
    def u16(o: Int): Int = {
      if (o < 0 || o.toLong + 2 > tiffLen) fail("truncated", s"u16 at $o")
      val a = b(tiffOff + o) & 0xff
      val c = b(tiffOff + o + 1) & 0xff
      if (le) a | (c << 8) else (a << 8) | c
    }
    def u32(o: Int): Long = {
      if (o < 0 || o.toLong + 4 > tiffLen) fail("truncated", s"u32 at $o")
      if (le) u16(o).toLong | (u16(o + 2).toLong << 16)
      else (u16(o).toLong << 16) | u16(o + 2).toLong
    }
    if (u16(2) != 42) fail("malformed", "bad TIFF magic")

    var orientation: Option[Int] = None
    var dateTime: Option[String] = None
    var make: Option[String] = None
    var model: Option[String] = None
    var gpsPtr: Option[Long] = None
    var exifPtr: Option[Long] = None

    def ascii(valOff: Int, count: Long): String = {
      if (count < 1 || count > 4096) fail("malformed", s"ascii count $count")
      val n = count.toInt
      val dataOff = if (n <= 4) valOff else {
        val o = u32(valOff)
        if (o > Int.MaxValue) fail("malformed", "ascii offset")
        o.toInt
      }
      if (dataOff < 0 || dataOff.toLong + n > tiffLen) fail("truncated", "ascii value cut")
      val end = {
        var e = dataOff
        while (e < dataOff + n && b(tiffOff + e) != 0) e += 1
        e
      }
      new String(b, tiffOff + dataOff, end - dataOff,
        java.nio.charset.StandardCharsets.US_ASCII)
    }

    /** parse one IFD; returns entry count (0 allowed only via explicit check). */
    def walkIfd(ifdOff: Long, collect: Boolean): Int = {
      if (ifdOff < 0 || ifdOff > Int.MaxValue) fail("malformed", "IFD offset")
      val o = ifdOff.toInt
      val n = u16(o)
      if (n > 512) fail("malformed", s"$n IFD entries")
      var i = 0
      while (i < n) {
        val e = o + 2 + 12 * i
        val tag = u16(e)
        val tpe = u16(e + 2)
        val count = u32(e + 4)
        if (collect) tag match {
          case 0x0112 if tpe == 3 && count == 1 => orientation = Some(u16(e + 8))
          case 0x0132 if tpe == 2 => dateTime = Some(ascii(e + 8, count))
          case 0x010f if tpe == 2 => make = Some(ascii(e + 8, count))
          case 0x0110 if tpe == 2 => model = Some(ascii(e + 8, count))
          case 0x8825 if tpe == 4 && count == 1 => gpsPtr = Some(u32(e + 8))
          case 0x8769 if tpe == 4 && count == 1 => exifPtr = Some(u32(e + 8))
          case _ => ()
        }
        i += 1
      }
      n
    }

    walkIfd(u32(4), collect = true)
    // a GPS pointer only counts when the sub-IFD actually holds entries
    val hasGps = gpsPtr.exists(p => walkIfd(p, collect = false) > 0)
    val hasExifIfd = exifPtr.exists(p => walkIfd(p, collect = false) > 0)
    Meta(orientation, dateTime, make, model, hasGps, hasExifIfd)
  }

  // ------------------------------------------------------------- write

  /** Minimal deterministic EXIF JPEG writer (SOI + APP1 + COM + EOI) —
    * the metadata container the mm20 shard build wraps around synthetic
    * fields; ExifSpec pins the reader against the independent python
    * transcription too.
    */
  def buildJpeg(orientation: Int, dateTime: String, make: String,
      gpsLat: Option[(Long, Long)], littleEndian: Boolean,
      comment: String): Array[Byte] = {
    val tiff = buildTiff(orientation, dateTime, make, gpsLat, littleEndian)
    val out = new java.io.ByteArrayOutputStream(tiff.length + 64)
    out.write(0xff); out.write(0xd8)
    val payload = Array[Byte]('E', 'x', 'i', 'f', 0, 0) ++ tiff
    out.write(0xff); out.write(0xe1)
    val len = payload.length + 2
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(payload, 0, payload.length)
    val com = comment.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    out.write(0xff); out.write(0xfe)
    out.write(((com.length + 2) >> 8) & 0xff); out.write((com.length + 2) & 0xff)
    out.write(com, 0, com.length)
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  private def buildTiff(orientation: Int, dateTime: String, make: String,
      gpsLat: Option[(Long, Long)], le: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256)
    def w16(v: Int): Unit =
      if (le) { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      else { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def w32(v: Long): Unit =
      if (le) { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
      else { w16(((v >> 16) & 0xffff).toInt); w16((v & 0xffff).toInt) }

    out.write(if (le) 'I' else 'M'); out.write(if (le) 'I' else 'M')
    w16(42); w32(8L)

    val dt = (dateTime + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val mk = (make + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val n0 = 3 + (if (gpsLat.isDefined) 1 else 0)
    val ifd0Size = 2 + 12 * n0 + 4
    val dtOff = 8 + ifd0Size
    val mkOff = dtOff + dt.length
    val gpsOff = mkOff + mk.length

    w16(n0)
    def entry(tag: Int, tpe: Int, count: Long)(value: => Unit): Unit = {
      w16(tag); w16(tpe); w32(count)
      val before = out.size()
      value
      while (out.size() < before + 4) out.write(0)
    }
    // entries must be ascending by tag: 0x010F make, 0x0112 orientation,
    // 0x0132 datetime, 0x8825 gps
    entry(0x010f, 2, mk.length.toLong) { w32(mkOff.toLong) }
    entry(0x0112, 3, 1L) { w16(orientation) }
    entry(0x0132, 2, dt.length.toLong) { w32(dtOff.toLong) }
    gpsLat.foreach { _ => entry(0x8825, 4, 1L) { w32(gpsOff.toLong) } }
    w32(0L) // next IFD
    out.write(dt, 0, dt.length)
    out.write(mk, 0, mk.length)
    gpsLat.foreach { case (num, den) =>
      // GPS IFD: GPSLatitudeRef (ASCII "N\0" inline) + GPSLatitude
      // (1 RATIONAL at an offset past the IFD)
      val gpsIfdSize = 2 + 12 * 2 + 4
      w16(2)
      entry(0x0001, 2, 2L) { out.write('N'); out.write(0) }
      entry(0x0002, 5, 1L) { w32((gpsOff + gpsIfdSize).toLong) }
      w32(0L)
      w32(num); w32(den)
    }
    out.toByteArray
  }
}
