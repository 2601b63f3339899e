package graft.ops

/** ID3v2 tag parsing (round 16) — the metadata block crawled MP3s
  * actually carry (title/artist/album/track/comment), completing the
  * audio-metadata surface next to the mm05 frame walk (which skips the
  * tag as opaque bytes). Public spec: id3.org ID3v2.3.0 / ID3v2.4.0.
  *
  * Layout: "ID3" magic, major version (3 or 4 here), revision, flags,
  * 4-byte syncsafe tag size, optional extended header (v2.3 plain-u32
  * size excluding itself; v2.4 syncsafe including), then frames until
  * padding (a zero byte where a frame id should be): 4-char id, size
  * (v2.3 big-endian u32, v2.4 syncsafe), 2 flag bytes, body. Text
  * frames (T***) carry an encoding byte — 0 latin-1, 1 UTF-16 with BOM,
  * 2 UTF-16BE, 3 UTF-8 — then text; TXXX adds a NUL-separated
  * description, COMM a 3-byte language + NUL-separated description.
  *
  * Strictness: tag-level unsynchronisation and per-frame compression/
  * encryption refuse `unsupported` (no silent garbage); malformed
  * syncsafe bytes, frame sizes past the tag, or a bad encoding byte
  * refuse `bad_frame`; internal NULs in v2.4 multi-value text render as
  * `/` (the display convention). Deterministic writer twin for v2.3 and
  * v2.4 with all four encodings.
  */
object Id3 {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)
  private def unsup(msg: String): Nothing =
    throw new Refusal("unsupported", msg)

  /** one frame: decoded text for text/TXXX/COMM frames, empty for binary ids */
  final case class Frame(id: String, text: String, bodyBytes: Int)

  final case class Tag(version: Int, frames: Vector[Frame]) {
    def first(id: String): Option[String] =
      frames.collectFirst { case f if f.id == id && f.text.nonEmpty => f.text }
    def title: Option[String] = first("TIT2")
    def artist: Option[String] = first("TPE1")
    def album: Option[String] = first("TALB")
    def track: Option[String] = first("TRCK")
    def comment: Option[String] = first("COMM")
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  private def syncsafe(b: Array[Byte], i: Int): Int = {
    if ((u8(b, i) | u8(b, i + 1) | u8(b, i + 2) | u8(b, i + 3)) >= 0x80)
      bad(s"non-syncsafe size byte at $i")
    (u8(b, i) << 21) | (u8(b, i + 1) << 14) | (u8(b, i + 2) << 7) | u8(b, i + 3)
  }

  def parseSafe(b: Array[Byte]): Either[String, Tag] =
    Refusal.attempt(parse(b), "bad_frame")

  /** Parse the leading ID3v2 tag of `b` (a bare tag or a whole MP3). */
  def parse(b: Array[Byte]): Tag = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
      throw new Refusal("bad_magic", "no ID3v2 header")
    val major = u8(b, 3)
    if (major != 3 && major != 4) unsup(s"ID3v2.$major")
    val flags = u8(b, 5)
    if ((flags & 0x80) != 0) unsup("tag-level unsynchronisation")
    val size = syncsafe(b, 6)
    if (10 + size > b.length)
      throw new Refusal("truncated", s"tag size $size past end")
    val end = 10 + size
    var p = 10
    if ((flags & 0x40) != 0) { // extended header
      if (p + 4 > end) throw new Refusal("truncated", "extended header")
      val ext =
        if (major == 4) syncsafe(b, p) // v2.4: includes its own size
        else 4 + ((u8(b, p) << 24) | (u8(b, p + 1) << 16) |
          (u8(b, p + 2) << 8) | u8(b, p + 3)) // v2.3: excludes the 4 bytes
      if (ext < 4 || p + ext > end) bad(s"extended header of $ext bytes")
      p += ext
    }
    val frames = Vector.newBuilder[Frame]
    var n = 0
    while (p + 10 <= end && b(p) != 0) {
      n += 1
      if (n > 10000) bad("frame count exceeds walk budget")
      val id = new String(b, p, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
        bad(s"bad frame id '$id' at $p")
      val fsize =
        if (major == 4) syncsafe(b, p + 4)
        else (u8(b, p + 4) << 24) | (u8(b, p + 5) << 16) |
          (u8(b, p + 6) << 8) | u8(b, p + 7)
      if (fsize < 0 || p + 10 + fsize > end)
        bad(s"frame $id of $fsize bytes crosses the tag end")
      // format-flag gate must cover every flag that PREPENDS bytes to the
      // frame body (grouping adds 1, v2.4's data-length indicator adds 4)
      // or rewrites it (compression/encryption/unsync) — otherwise those
      // bytes would be read as the text-encoding byte and the frame would
      // decode silently wrong instead of refusing typed (round-16 advice).
      val f2 = u8(b, p + 9)
      if (major == 3 && (f2 & 0xe0) != 0)
        unsup(s"frame $id compression/encryption/grouping")
      if (major == 4 && (f2 & 0x4f) != 0)
        unsup(s"frame $id grouping/compression/encryption/unsync/DLI")
      val body = java.util.Arrays.copyOfRange(b, p + 10, p + 10 + fsize)
      frames += Frame(id, decodeText(id, body, major), fsize)
      p += 10 + fsize
    }
    // everything after the first padding byte must BE padding
    var q = p
    while (q < end) {
      if (b(q) != 0) bad(s"non-zero byte $q inside tag padding")
      q += 1
    }
    Tag(major, frames.result())
  }

  private def decodeText(id: String, body: Array[Byte], major: Int): String = {
    if (body.isEmpty) return ""
    if (id == "COMM") {
      if (body.length < 4) bad("COMM shorter than its header")
      val enc = body(0) & 0xff
      // skip 3-byte language, then the NUL-separated short description
      val rest = java.util.Arrays.copyOfRange(body, 4, body.length)
      val parts = splitNul(decode(enc, rest))
      if (parts.length < 2) bad("COMM without a description terminator")
      parts.drop(1).mkString("/")
    } else if (id == "TXXX") {
      val enc = body(0) & 0xff
      val parts = splitNul(decode(enc,
        java.util.Arrays.copyOfRange(body, 1, body.length)))
      if (parts.length < 2) bad("TXXX without a description terminator")
      s"${parts.head}:${parts.drop(1).mkString("/")}"
    } else if (id.startsWith("T")) {
      val enc = body(0) & 0xff
      splitNul(decode(enc,
        java.util.Arrays.copyOfRange(body, 1, body.length))).mkString("/")
    } else "" // binary frames (APIC, GEOB, …): counted, not decoded
  }

  /** drop trailing empty segments (terminators), keep internal splits;
    * each UTF-16 string in a frame carries its OWN BOM (spec §4), so a
    * leading U+FEFF on any part is framing, not text
    */
  private def splitNul(s: String): Vector[String] = {
    val parts = s.split("\u0000", -1).toVector
      .map(p => if (p.startsWith("\uFEFF")) p.substring(1) else p)
    val keep = parts.reverse.dropWhile(_.isEmpty).reverse
    if (keep.isEmpty) Vector("") else keep
  }

  private def decode(enc: Int, body: Array[Byte]): String = enc match {
    case 0 => new String(body, java.nio.charset.StandardCharsets.ISO_8859_1)
    case 1 =>
      if (body.length % 2 != 0) bad("odd UTF-16 text length")
      else if (body.isEmpty) ""
      else new String(body, java.nio.charset.StandardCharsets.UTF_16) // BOM-driven
    case 2 =>
      if (body.length % 2 != 0) bad("odd UTF-16BE text length")
      new String(body, java.nio.charset.StandardCharsets.UTF_16BE)
    case 3 => new String(body, java.nio.charset.StandardCharsets.UTF_8)
    case other => bad(s"text encoding byte $other")
  }

  // --------------------------------------------------------------- write --

  /** Deterministic v2.3/v2.4 writer: text frames with a chosen encoding
    * (0/1/2/3 as in the spec; 2 and 3 are v2.4-only and refused for v3),
    * COMM with language `eng` and an empty description. No padding.
    */
  def write(major: Int, frames: Seq[(String, String, Int)]): Array[Byte] = {
    require(major == 3 || major == 4, s"ID3v2.$major")
    val out = new java.io.ByteArrayOutputStream(256)
    frames.foreach { case (id, text, enc) =>
      require(id.length == 4, s"frame id '$id'")
      require(enc >= 0 && enc <= 3, s"encoding $enc")
      require(major == 4 || enc <= 1, s"encoding $enc is v2.4-only")
      val encoded = enc match {
        case 0 => text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        case 1 => Array[Byte](0xff.toByte, 0xfe.toByte) ++
          text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
        case 2 => text.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
        case 3 => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      val body =
        if (id == "COMM") {
          val term: Array[Byte] =
            if (enc == 1 || enc == 2) Array[Byte](0, 0) else Array[Byte](0)
          val desc: Array[Byte] =
            if (enc == 1) Array[Byte](0xff.toByte, 0xfe.toByte) else Array.emptyByteArray
          Array(enc.toByte) ++
            "eng".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
            desc ++ term ++ encoded
        } else Array(enc.toByte) ++ encoded
      out.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val sz = body.length
      if (major == 4) {
        out.write((sz >> 21) & 0x7f); out.write((sz >> 14) & 0x7f)
        out.write((sz >> 7) & 0x7f); out.write(sz & 0x7f)
      } else {
        out.write((sz >> 24) & 0xff); out.write((sz >> 16) & 0xff)
        out.write((sz >> 8) & 0xff); out.write(sz & 0xff)
      }
      out.write(0); out.write(0) // frame flags
      out.write(body, 0, body.length)
    }
    val fb = out.toByteArray
    val tag = new Array[Byte](10 + fb.length)
    tag(0) = 'I'; tag(1) = 'D'; tag(2) = '3'
    tag(3) = major.toByte
    tag(6) = ((fb.length >> 21) & 0x7f).toByte
    tag(7) = ((fb.length >> 14) & 0x7f).toByte
    tag(8) = ((fb.length >> 7) & 0x7f).toByte
    tag(9) = (fb.length & 0x7f).toByte
    System.arraycopy(fb, 0, tag, 10, fb.length)
    tag
  }
}
