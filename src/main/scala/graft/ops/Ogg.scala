package graft.ops

/** Ogg container support (RFC 3533) with Opus (RFC 7845) and Vorbis I
  * identification headers — the speech-dataset front door the multimodal
  * surface lacked (round 16; the audio legs so far are WAV/FLAC/MP3
  * framing). Metadata contract like [[Isobmff]]: page walk + ID-header
  * parse + duration audit; packet/DSP decode is out of contract and
  * refuses typed (the mm05 precedent — no codec bitstream decoder is
  * derivable from a public spec within budget here, and a crawl-scale
  * audit never needs PCM).
  *
  * Page layer (RFC 3533 §6): "OggS" capture pattern, version 0, header
  * flags (0x01 continued / 0x02 BOS / 0x04 EOS), s64 granule position,
  * u32 serial, u32 page sequence, CRC-32 (poly 0x04C11DB7, init 0, no
  * reflection, no final xor, computed with the CRC field zeroed), u8
  * segment count, lacing table; a packet is the concatenation of
  * segments up to the first lacing value < 255, and a 255-terminated
  * page continues its last packet onto the next page (flag 0x01).
  * Chained streams (EOS then a fresh BOS serial) and multiplexed
  * (interleaved serials) files are walked per-stream. Strictness:
  * capture pattern, version, CRC, per-stream monotone page sequence,
  * BOS-first/EOS-last flags are all enforced — one lying byte refuses
  * typed rather than mis-counting a corpus.
  *
  * Identification headers: OpusHead (RFC 7845 §5.1 — version 1,
  * channels, pre-skip, INPUT sample rate, output gain, mapping family;
  * granules always run at 48 kHz, duration = (last granule − pre-skip)
  * / 48000) and the Vorbis ID header (Vorbis I §4.2.2 — 0x01"vorbis",
  * version 0, channels, rate, three bitrates, blocksize nibbles,
  * framing bit; duration = last granule / rate).
  */
object Ogg {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  /** Ogg CRC-32: forward (MSB-first), poly 0x04C11DB7, init/xorout 0. */
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  def crc(bytes: Array[Byte], from: Int, until: Int, zeroFrom: Int = -1,
      zeroUntil: Int = -1): Int = {
    var r = 0
    var p = from
    while (p < until) {
      val b = if (p >= zeroFrom && p < zeroUntil) 0 else bytes(p) & 0xff
      r = (r << 8) ^ crcTable(((r >>> 24) ^ b) & 0xff)
      p += 1
    }
    r
  }

  final case class Page(headerType: Int, granule: Long, serial: Long,
      seq: Long, packets: Vector[Array[Byte]], continuedIn: Boolean,
      continuesOut: Boolean) {
    def bos: Boolean = (headerType & 0x02) != 0
    def eos: Boolean = (headerType & 0x04) != 0
  }

  final case class StreamInfo(serial: Long, codec: String, channels: Int,
      sampleRate: Long, preSkip: Int, lastGranule: Long, nPages: Long,
      nPackets: Long) {
    /** floor-divided ms so engines agree integer-exactly */
    def durationMs: Long = codec match {
      case "opus" => math.max(0L, lastGranule - preSkip) * 1000L / 48000L
      case "vorbis" if sampleRate > 0 => lastGranule * 1000L / sampleRate
      case _ => 0L
    }
  }

  final case class OggMeta(streams: Vector[StreamInfo], nPages: Long)

  // -------------------------------------------------------------- read --

  def pages(bytes: Array[Byte]): Vector[Page] = {
    if (bytes.length < 4 || bytes(0) != 'O' || bytes(1) != 'g' ||
        bytes(2) != 'g' || bytes(3) != 'S')
      throw new Refusal("bad_magic", "no OggS capture pattern")
    def u32(p: Int): Long =
      (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
        ((bytes(p + 2) & 0xffL) << 16) | ((bytes(p + 3) & 0xffL) << 24)
    def s64(p: Int): Long = u32(p) | (u32(p + 4) << 32)
    val out = Vector.newBuilder[Page]
    var p = 0
    while (p < bytes.length) {
      if (p + 27 > bytes.length)
        throw new Refusal("truncated", s"page header past end at $p")
      if (!(bytes(p) == 'O' && bytes(p + 1) == 'g' && bytes(p + 2) == 'g' &&
          bytes(p + 3) == 'S')) bad(s"capture pattern missing at $p")
      if (bytes(p + 4) != 0) bad(s"ogg version ${bytes(p + 4)}")
      val headerType = bytes(p + 5) & 0xff
      val granule = s64(p + 6)
      val serial = u32(p + 14)
      val seq = u32(p + 18)
      val pageCrc = u32(p + 22)
      val nSegs = bytes(p + 26) & 0xff
      if (p + 27 + nSegs > bytes.length)
        throw new Refusal("truncated", "lacing table past end")
      var bodyLen = 0
      var i = 0
      while (i < nSegs) { bodyLen += bytes(p + 27 + i) & 0xff; i += 1 }
      val end = p + 27 + nSegs + bodyLen
      if (end > bytes.length)
        throw new Refusal("truncated", "page body past end")
      val computed = crc(bytes, p, end, zeroFrom = p + 22, zeroUntil = p + 26)
      if ((computed & 0xffffffffL) != pageCrc)
        bad(f"page CRC mismatch at $p (got $pageCrc%08x, computed ${computed & 0xffffffffL}%08x)")
      // packets: segments concatenated until a lacing value < 255
      val packets = Vector.newBuilder[Array[Byte]]
      var segStart = p + 27 + nSegs
      var cur = new java.io.ByteArrayOutputStream(256)
      var endsOpen = false
      i = 0
      while (i < nSegs) {
        val l = bytes(p + 27 + i) & 0xff
        cur.write(bytes, segStart, l)
        segStart += l
        if (l < 255) { packets += cur.toByteArray; cur = new java.io.ByteArrayOutputStream(256) }
        i += 1
      }
      endsOpen = nSegs > 0 && (bytes(p + 27 + nSegs - 1) & 0xff) == 255
      if (endsOpen) packets += cur.toByteArray // open tail fragment
      out += Page(headerType, granule, serial, seq, packets.result(),
        continuedIn = (headerType & 0x01) != 0, continuesOut = endsOpen)
      p = end
    }
    out.result()
  }

  // mutable per-stream walk state; a serial may legally recur in a chain
  // only after its EOS — parse() tracks open streams by serial
  private final class St(val serial: Long) {
    var codec = "unknown"
    var channels = 0
    var rate = 0L
    var preSkip = 0
    var lastGranule = 0L
    var nPages = 0L
    var nPackets = 0L
    var openFragment: Array[Byte] = null
    var sawEos = false
    var lastSeq = -1L
    var firstPacket = true
  }

  def parse(bytes: Array[Byte]): OggMeta = {
    val ps = pages(bytes)
    val open = scala.collection.mutable.LinkedHashMap[Long, St]()
    val done = Vector.newBuilder[StreamInfo]
    def close(st: St): Unit = {
      if (st.openFragment != null) bad(s"stream ${st.serial} ends mid-packet")
      // durationMs multiplies by 1000: a granule past Long.Max/1000
      // (~292k years of 48 kHz audio) is rot, and silent wraparound
      // would disagree with any arbitrary-precision reader
      if (st.lastGranule > Long.MaxValue / 1000)
        bad(s"stream ${st.serial} granule ${st.lastGranule} out of range")
      done += StreamInfo(st.serial, st.codec, st.channels, st.rate,
        st.preSkip, st.lastGranule, st.nPages, st.nPackets)
    }
    ps.foreach { pg =>
      val st = open.get(pg.serial) match {
        case Some(s) =>
          if (s.sawEos) bad(s"page after EOS on serial ${pg.serial}")
          if (pg.bos) bad(s"duplicate BOS on serial ${pg.serial}")
          if (pg.seq != s.lastSeq + 1)
            bad(s"page sequence gap on serial ${pg.serial}: ${s.lastSeq} -> ${pg.seq}")
          s
        case None =>
          if (!pg.bos) bad(s"stream ${pg.serial} does not begin with BOS")
          if (pg.seq != 0) bad(s"BOS page sequence ${pg.seq} != 0")
          val s = new St(pg.serial)
          open(pg.serial) = s
          s
      }
      st.lastSeq = pg.seq
      st.nPages += 1
      // granule -1 marks a page whose packets end nowhere (continuation)
      if (pg.granule != -1L) st.lastGranule = pg.granule
      // stitch packet fragments across pages
      var pkts = pg.packets
      if (st.openFragment != null) {
        if (!pg.continuedIn) bad(s"serial ${pg.serial}: dangling packet fragment")
        if (pkts.isEmpty) bad(s"serial ${pg.serial}: continued page with no segments")
        pkts = (st.openFragment ++ pkts.head) +: pkts.tail
        st.openFragment = null
      } else if (pg.continuedIn) bad(s"serial ${pg.serial}: continuation flag with nothing open")
      val complete =
        if (pg.continuesOut) { st.openFragment = pkts.last; pkts.init }
        else pkts
      complete.foreach { pkt =>
        st.nPackets += 1
        if (st.firstPacket) {
          st.firstPacket = false
          parseIdHeader(pkt, st)
        }
      }
      if (pg.eos) { st.sawEos = true; close(st); open.remove(pg.serial) }
    }
    open.valuesIterator.foreach { st =>
      bad(s"stream ${st.serial} has no EOS page")
    }
    OggMeta(done.result(), ps.length.toLong)
  }

  private def parseIdHeader(pkt: Array[Byte], s: St): Unit = {
    def u16(p: Int): Int = (pkt(p) & 0xff) | ((pkt(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      (pkt(p) & 0xffL) | ((pkt(p + 1) & 0xffL) << 8) |
        ((pkt(p + 2) & 0xffL) << 16) | ((pkt(p + 3) & 0xffL) << 24)
    if (pkt.length >= 19 && new String(pkt, 0, 8,
        java.nio.charset.StandardCharsets.US_ASCII) == "OpusHead") {
      val h = parseOpusHead(pkt) // full §5.1 validation incl. mapping
      s.codec = "opus"
      s.channels = h.channels
      s.preSkip = h.preSkip
      s.rate = h.inputRate
    } else if (pkt.length >= 30 && pkt(0) == 0x01 && new String(pkt, 1, 6,
        java.nio.charset.StandardCharsets.US_ASCII) == "vorbis") {
      if (u32(7) != 0L) bad(s"vorbis version ${u32(7)}")
      s.codec = "vorbis"
      s.channels = pkt(11) & 0xff
      s.rate = u32(12)
      if ((pkt(29) & 0x01) == 0) bad("vorbis ID framing bit clear")
      if (s.channels == 0 || s.rate == 0L) bad("vorbis zero channels/rate")
    }
    // other first packets (e.g. FLAC-in-Ogg, Theora) stay "unknown":
    // the walk still audits pages/granules without guessing a header
  }

  def parseSafe(bytes: Array[Byte]): Either[String, OggMeta] =
    Refusal.attempt(parse(bytes), "bad_frame")

  // ------------------------------------------------------------- write --

  /** One logical packet to lay out: bytes + the granule position the
    * containing page reports when this packet ends a page.
    */
  final case class OggPacket(data: Array[Byte], granule: Long)

  /** Deterministic single-stream Ogg layout: first packet alone on the
    * BOS page (RFC 7845 §3 / Vorbis I framing requirement), every
    * following packet on its own page (or spanning several pages when
    * longer than `maxSegsPerPage`×255 bytes — lacing-255 continuation
    * with granule −1 on unfinished pages), final page flagged EOS.
    * Chain/multiplex by concatenating or interleaving `writePages`
    * output of several streams.
    */
  def write(serial: Long, packets: Seq[OggPacket],
      maxSegsPerPage: Int = 16): Array[Byte] = {
    require(packets.nonEmpty, "at least the ID header packet")
    val out = new java.io.ByteArrayOutputStream(1024)
    var seq = 0L
    val last = packets.length - 1
    packets.zipWithIndex.foreach { case (pkt, idx) =>
      // lacing for the whole packet, then split into page-sized runs
      val full = pkt.data.length / 255
      val lacing = Array.fill(full)(255) :+ (pkt.data.length % 255)
      var li = 0
      var dataOff = 0
      var continued = false
      while (li < lacing.length) {
        val n = math.min(maxSegsPerPage, lacing.length - li)
        val segs = java.util.Arrays.copyOfRange(lacing, li, li + n)
        val bodyLen = segs.sum
        val isLastPageOfPacket = li + n == lacing.length
        // BOS only on the FIRST page: a packet-0 long enough to span
        // pages must not repeat 0x02 on its continuations — the reader
        // (correctly) rejects duplicate BOS (round-16 advice).
        val headerType = (if (continued) 0x01 else 0) |
          (if (idx == 0 && li == 0) 0x02 else 0) |
          (if (idx == last && isLastPageOfPacket) 0x04 else 0)
        val granule = if (isLastPageOfPacket) pkt.granule else -1L
        writePage(out, headerType, granule, serial, seq, segs,
          pkt.data, dataOff)
        seq += 1
        dataOff += bodyLen
        li += n
        continued = true
      }
    }
    out.toByteArray
  }

  private def writePage(out: java.io.ByteArrayOutputStream, headerType: Int,
      granule: Long, serial: Long, seq: Long, segs: Array[Int],
      data: Array[Byte], dataOff: Int): Unit = {
    val bodyLen = segs.sum
    val page = new Array[Byte](27 + segs.length + bodyLen)
    page(0) = 'O'; page(1) = 'g'; page(2) = 'g'; page(3) = 'S'
    page(4) = 0
    page(5) = headerType.toByte
    var i = 0
    while (i < 8) { page(6 + i) = ((granule >>> (8 * i)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < 4) {
      page(14 + i) = ((serial >>> (8 * i)) & 0xff).toByte
      page(18 + i) = ((seq >>> (8 * i)) & 0xff).toByte
      i += 1
    }
    page(26) = segs.length.toByte
    i = 0
    while (i < segs.length) { page(27 + i) = segs(i).toByte; i += 1 }
    System.arraycopy(data, dataOff, page, 27 + segs.length, bodyLen)
    val c = crc(page, 0, page.length)
    i = 0
    while (i < 4) { page(22 + i) = ((c >>> (8 * i)) & 0xff).toByte; i += 1 }
    out.write(page, 0, page.length)
  }

  /** Fully parsed RFC 7845 §5.1 OpusHead, incl. the channel mapping
    * (family 0 = mono/stereo implicit; family 1 = Vorbis surround order
    * with an explicit stream/coupled/table block; family 255 =
    * discrete). `streams`/`coupled` are 1/ch-coupled implied values for
    * family 0.
    */
  final case class OpusHead(version: Int, channels: Int, preSkip: Int,
      inputRate: Long, outputGain: Int, mappingFamily: Int,
      streams: Int, coupled: Int, mapping: Vector[Int])

  def parseOpusHead(pkt: Array[Byte]): OpusHead = {
    if (pkt.length < 19 || new String(pkt, 0, 8,
        java.nio.charset.StandardCharsets.US_ASCII) != "OpusHead")
      bad("not an OpusHead packet")
    // RFC 7845 §5.1: only the major version nibble is breaking
    if ((pkt(8) & 0xf0) != 0) bad(s"OpusHead version ${pkt(8) & 0xff}")
    val channels = pkt(9) & 0xff
    if (channels == 0) bad("OpusHead zero channels")
    def u16(p: Int): Int = (pkt(p) & 0xff) | ((pkt(p + 1) & 0xff) << 8)
    def u32(p: Int): Long =
      (pkt(p) & 0xffL) | ((pkt(p + 1) & 0xffL) << 8) |
        ((pkt(p + 2) & 0xffL) << 16) | ((pkt(p + 3) & 0xffL) << 24)
    val preSkip = u16(10)
    val rate = u32(12)
    val gain = (u16(16) << 16) >> 16 // s16
    val family = pkt(18) & 0xff
    if (family == 0) {
      if (channels > 2) bad(s"mapping family 0 with $channels channels")
      if (pkt.length != 19) bad("family-0 OpusHead with a mapping table")
      OpusHead(pkt(8) & 0xff, channels, preSkip, rate, gain, 0,
        1, channels - 1, Vector.tabulate(channels)(identity))
    } else {
      // §5.1.1: families 1 (Vorbis surround, ch ≤ 8) and 255 (discrete)
      if (family == 1 && channels > 8)
        bad(s"mapping family 1 with $channels channels")
      if (pkt.length < 21 + channels)
        throw new Refusal("truncated", "OpusHead mapping table")
      val streams = pkt(19) & 0xff
      val coupled = pkt(20) & 0xff
      if (streams == 0) bad("zero streams")
      if (coupled > streams) bad(s"$coupled coupled > $streams streams")
      val mapping = Vector.tabulate(channels)(k => pkt(21 + k) & 0xff)
      mapping.foreach { m =>
        if (m != 255 && m >= streams + coupled)
          bad(s"channel mapping index $m out of range")
      }
      OpusHead(pkt(8) & 0xff, channels, preSkip, rate, gain, family,
        streams, coupled, mapping)
    }
  }

  /** RFC 7845 §5.1 OpusHead ID packet. */
  def opusHead(channels: Int, preSkip: Int, inputRate: Long,
      outputGain: Int = 0): Array[Byte] = {
    val b = new Array[Byte](19)
    "OpusHead".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      .copyToArray(b)
    b(8) = 1
    b(9) = channels.toByte
    b(10) = (preSkip & 0xff).toByte; b(11) = ((preSkip >> 8) & 0xff).toByte
    var i = 0
    while (i < 4) { b(12 + i) = ((inputRate >>> (8 * i)) & 0xff).toByte; i += 1 }
    b(16) = (outputGain & 0xff).toByte; b(17) = ((outputGain >> 8) & 0xff).toByte
    b(18) = 0 // mapping family 0 (mono/stereo)
    b
  }

  /** OpusHead with an explicit mapping block (families 1 / 255 —
    * surround and discrete multistream).
    */
  def opusHeadMapped(channels: Int, preSkip: Int, inputRate: Long,
      family: Int, streams: Int, coupled: Int,
      mapping: Seq[Int]): Array[Byte] = {
    require(mapping.length == channels, "one mapping entry per channel")
    val base = opusHead(channels, preSkip, inputRate)
    val b = java.util.Arrays.copyOf(base, 19 + 2 + channels)
    b(18) = family.toByte
    b(19) = streams.toByte
    b(20) = coupled.toByte
    mapping.zipWithIndex.foreach { case (m, k) => b(21 + k) = m.toByte }
    b
  }

  /** Parsed Vorbis-comment block (the tag format BOTH OpusTags and the
    * Vorbis comment header carry — the Ogg world's ID3): vendor string +
    * `FIELD=value` user comments. Field names are case-insensitive
    * ASCII 0x20-0x7D excluding `=` (Vorbis I §5); comparisons here
    * upper-case them.
    */
  final case class Comments(vendor: String, fields: Vector[(String, String)]) {
    def first(name: String): Option[String] = {
      val want = name.toUpperCase(java.util.Locale.ROOT)
      fields.collectFirst { case (k, v) if k == want => v }
    }
  }

  /** Parse the SECOND packet of a stream as OpusTags (RFC 7845 §5.2) or
    * a Vorbis comment header (type 3): vendor length/string, comment
    * count, then length-prefixed `FIELD=value` UTF-8 strings. The
    * Vorbis form requires the trailing framing bit.
    */
  def parseComments(pkt: Array[Byte]): Comments = {
    def u32(p: Int): Long =
      (pkt(p) & 0xffL) | ((pkt(p + 1) & 0xffL) << 8) |
        ((pkt(p + 2) & 0xffL) << 16) | ((pkt(p + 3) & 0xffL) << 24)
    val (start, vorbisFramed) =
      if (pkt.length >= 8 && new String(pkt, 0, 8,
          java.nio.charset.StandardCharsets.US_ASCII) == "OpusTags") (8, false)
      else if (pkt.length >= 7 && pkt(0) == 0x03 && new String(pkt, 1, 6,
          java.nio.charset.StandardCharsets.US_ASCII) == "vorbis") (7, true)
      else bad("not an OpusTags / Vorbis comment packet")
    var p = start
    def take(n: Long): Int = {
      if (n < 0 || p + n > pkt.length)
        throw new Refusal("truncated", s"comment field of $n bytes past end")
      val at = p; p += n.toInt; at
    }
    def str(n: Long): String = {
      val at = take(n)
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try dec.decode(java.nio.ByteBuffer.wrap(pkt, at, n.toInt)).toString
      catch {
        case _: java.nio.charset.CharacterCodingException =>
          bad("invalid UTF-8 in comment string")
      }
    }
    if (p + 4 > pkt.length) throw new Refusal("truncated", "vendor length")
    val vendor = str(u32(take(4)))
    if (p + 4 > pkt.length) throw new Refusal("truncated", "comment count")
    val n = u32(take(4))
    if (n > 10000) bad(s"comment count $n exceeds walk budget")
    val fields = Vector.newBuilder[(String, String)]
    var i = 0L
    while (i < n) {
      if (p + 4 > pkt.length) throw new Refusal("truncated", "comment length")
      val s = str(u32(take(4)))
      val eq = s.indexOf('=')
      if (eq < 1) bad(s"comment without FIELD=value form: '$s'")
      val key = s.substring(0, eq)
      if (!key.forall(c => c >= 0x20 && c <= 0x7d && c != '='))
        bad(s"illegal comment field name '$key'")
      fields += key.toUpperCase(java.util.Locale.ROOT) -> s.substring(eq + 1)
      i += 1
    }
    if (vorbisFramed) {
      if (p >= pkt.length || (pkt(p) & 0x01) == 0)
        bad("vorbis comment framing bit clear")
    }
    Comments(vendor, fields.result())
  }

  def parseCommentsSafe(pkt: Array[Byte]): Either[String, Comments] =
    Refusal.attempt(parseComments(pkt), "bad_frame")

  /** RFC 7845 §5.2 OpusTags comment packet (vendor + FIELD=value tags). */
  def opusTags(vendor: String,
      fields: Seq[(String, String)] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      u32(b.length); out.write(b, 0, b.length)
    }
    out.write("OpusTags".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    str(vendor)
    u32(fields.length)
    fields.foreach { case (k, v) => str(s"$k=$v") }
    out.toByteArray
  }

  /** Vorbis I §4.2.2 identification header packet. */
  def vorbisId(channels: Int, rate: Long, blocksize0Exp: Int = 8,
      blocksize1Exp: Int = 11): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(0x01.toByte)
    b.put("vorbis".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.putInt(0) // vorbis_version
    b.put(channels.toByte)
    b.putInt(rate.toInt)
    b.putInt(0).putInt(0).putInt(0) // bitrate max/nominal/min
    b.put(((blocksize1Exp << 4) | blocksize0Exp).toByte)
    b.put(0x01.toByte) // framing bit
    b.array()
  }

  /** Vorbis comment header (packet type 3) — vendor + tags, framed. */
  def vorbisComment(vendor: String,
      fields: Seq[(String, String)] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      u32(b.length); out.write(b, 0, b.length)
    }
    out.write(0x03)
    out.write("vorbis".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    str(vendor)
    u32(fields.length)
    fields.foreach { case (k, v) => str(s"$k=$v") }
    out.write(0x01)
    out.toByteArray
  }
}
