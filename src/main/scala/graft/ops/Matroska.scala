package graft.ops

/** Matroska/WebM metadata support (EBML, RFC 8794 + the public Matroska
  * element registry) — the other half of real-world video crawls next to
  * ISOBMFF (mm23-26). Metadata only, same contract as [[Isobmff]]: the
  * walk recovers the EBML header (DocType/versions), Segment Info
  * (TimestampScale, Duration), Tracks (number, type, CodecID, video
  * dims / audio rate+channels) and Cluster shape (count, timestamps,
  * SimpleBlock count and payload bytes); frame decode (VP8/VP9/AV1
  * packets) is out of contract and never rides.
  *
  * EBML wire format: an element is VINT id (1-4 bytes, length marker
  * KEPT — ids compare as stored) + VINT size (1-8 bytes, marker
  * stripped) + payload. The all-ones size (e.g. 0xFF, 0x01FF…FF) means
  * "unknown" (RFC 8794 §6.2): legal here ONLY on Segment and Cluster —
  * the streaming shapes real muxers emit — where the walk ends at the
  * next sibling id or EOF. Strictness: sizes must nest (a child may not
  * cross its parent's end), depth and element counts are bounded, and
  * every primitive read is range-checked — one lying VINT refuses typed
  * rather than walking garbage.
  */
object Matroska {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  // element ids (as stored, marker kept)
  private val IdEbml = 0x1A45DFA3L
  private val IdDocType = 0x4282L
  private val IdDocTypeVersion = 0x4287L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdDuration = 0x4489L
  private val IdTracks = 0x1654AE6BL
  private val IdTrackEntry = 0xAEL
  private val IdTrackNumber = 0xD7L
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L
  private val IdVideo = 0xE0L
  private val IdPixelWidth = 0xB0L
  private val IdPixelHeight = 0xBAL
  private val IdAudio = 0xE1L
  private val IdSamplingFrequency = 0xB5L
  private val IdChannels = 0x9FL
  private val IdCluster = 0x1F43B675L
  private val IdSeekHead = 0x114D9B74L
  private val IdCues = 0x1C53BB6BL
  private val IdChapters = 0x1043A770L
  private val IdTags = 0x1254C367L
  private val IdAttachments = 0x1941A469L
  private val IdTimestamp = 0xE7L
  private val IdSimpleBlock = 0xA3L

  private val MaxDepth = 16
  private val MaxElements = 1 << 20 // a 100 TB scan never walks more

  final case class Track(number: Long, trackType: Long, codecId: String,
      width: Int, height: Int, sampleRate: Double, channels: Int)

  final case class Meta(docType: String, docTypeVersion: Long,
      timestampScale: Long, durationMs: Long, tracks: Vector[Track],
      nClusters: Long, firstClusterTs: Long, lastClusterTs: Long,
      nBlocks: Long, blockBytes: Long)

  // -------------------------------------------------------------- read --

  private final class Reader(val b: Array[Byte]) {
    var pos = 0
    var elements = 0

    def countElement(): Unit = {
      elements += 1
      if (elements > MaxElements) bad("element count exceeds walk budget")
    }

    /** VINT id: marker kept (1-4 bytes per Matroska MaxIDLength). */
    def readId(): Long = {
      if (pos >= b.length) throw new Refusal("truncated", "id past end")
      val first = b(pos) & 0xff
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 23
      if (first == 0 || len > 4) bad(f"invalid element id byte 0x$first%02x at $pos")
      if (pos + len > b.length) throw new Refusal("truncated", "id past end")
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += len
      v
    }

    /** VINT size: marker stripped; returns -1 for the all-ones
      * "unknown size" form.
      */
    def readSize(): Long = {
      if (pos >= b.length) throw new Refusal("truncated", "size past end")
      val first = b(pos) & 0xff
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 23
      if (first == 0 || len > 8) bad(f"invalid size byte 0x$first%02x at $pos")
      if (pos + len > b.length) throw new Refusal("truncated", "size past end")
      var v = (first & (0xff >>> len)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += len
      // all data bits set = unknown size
      if (v == (1L << (7 * len)) - 1) -1L else v
    }

    def uint(len: Int): Long = {
      if (len > 8) bad(s"uint of $len bytes")
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
      pos += len
      v
    }

    def float(len: Int): Double = len match {
      case 0 => 0.0
      case 4 => java.lang.Float.intBitsToFloat(uint(4).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(uint(8))
      case n => bad(s"float of $n bytes")
    }

    def str(len: Int): String = {
      // EBML UTF-8 elements must BE UTF-8 (RFC 8794 §7.5): decode strict
      // — the JDK's default replacement decode would silently corrupt a
      // codec id / DocType (round-16 differential-parity find; same fix
      // class as the round-15 Arrow/msgpack strict-UTF-8 findings)
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val s = try dec.decode(java.nio.ByteBuffer.wrap(b, pos, len)).toString
        catch {
          case _: java.nio.charset.CharacterCodingException =>
            bad(s"invalid UTF-8 in string element at $pos")
        }
      pos += len
      // EBML strings may be NUL-padded to reserve space (RFC 8794)
      val cut = s.indexOf('\u0000')
      if (cut >= 0) s.substring(0, cut) else s
    }

    def skip(len: Long): Unit = pos += len.toInt
  }

  def parse(bytes: Array[Byte]): Meta = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0x1a ||
        (bytes(1) & 0xff) != 0x45 || (bytes(2) & 0xff) != 0xdf ||
        (bytes(3) & 0xff) != 0xa3)
      throw new Refusal("bad_magic", "no EBML header magic")
    val r = new Reader(bytes)

    var docType = ""
    var docTypeVersion = 1L
    var timestampScale = 1000000L // Matroska default: 1 ms
    var duration = -1.0
    var durationSeen = false
    val tracks = Vector.newBuilder[Track]
    var nClusters = 0L
    var firstClusterTs = -1L
    var lastClusterTs = -1L
    var nBlocks = 0L
    var blockBytes = 0L

    /** end-bounded child walk; `end` = -1 walks to EOF (unknown size) and
      * returns at the first id in `stopIds`
      */
    def children(end: Long, depth: Int, stopIds: Set[Long] = Set.empty)(
        visit: (Long, Long, Int) => Unit): Unit = {
      if (depth > MaxDepth) bad("EBML nesting exceeds depth bound")
      val bound = if (end < 0) r.b.length.toLong else end
      while (r.pos < bound) {
        if (end < 0 && stopIds.nonEmpty) {
          // peek: unknown-size parent ends at the next sibling id
          val save = r.pos
          val id = r.readId()
          if (stopIds.contains(id)) { r.pos = save; return }
          r.pos = save
        }
        r.countElement()
        val id = r.readId()
        val size = r.readSize()
        if (size < 0 && id != IdCluster)
          // unknown size is legal ONLY on Segment (handled at its own
          // site) and Cluster: on a scalar it would walk misaligned
          // (round-16 review find: uint(-1) stepped pos BACKWARDS)
          bad(f"unknown size on element 0x$id%x")
        if (size >= 0 && r.pos + size > bound)
          bad(s"element 0x${id.toHexString} of $size bytes crosses its parent at ${r.pos}")
        visit(id, size, depth)
      }
      if (end >= 0 && r.pos != end) bad("children overshoot parent end")
    }

    def walkTrackEntry(end: Long, depth: Int): Track = {
      var number = 0L
      var ttype = 0L
      var codec = ""
      var w = 0
      var h = 0
      var rate = 0.0
      var ch = 0
      children(end, depth) { (id, size, d) =>
        id match {
          case IdTrackNumber => number = r.uint(size.toInt)
          case IdTrackType => ttype = r.uint(size.toInt)
          case IdCodecId => codec = r.str(size.toInt)
          case IdVideo => children(r.pos + size, d + 1) { (vid, vsz, _) =>
            vid match {
              case IdPixelWidth => w = r.uint(vsz.toInt).toInt
              case IdPixelHeight => h = r.uint(vsz.toInt).toInt
              case _ => r.skip(vsz)
            }
          }
          case IdAudio => children(r.pos + size, d + 1) { (aid, asz, _) =>
            aid match {
              case IdSamplingFrequency => rate = r.float(asz.toInt)
              case IdChannels => ch = r.uint(asz.toInt).toInt
              case _ => r.skip(asz)
            }
          }
          case _ => r.skip(size)
        }
      }
      // a non-finite or absurd SamplingFrequency is rot, and Long
      // saturation on it would silently differ from an arbitrary-
      // precision reader (round-16 differential-parity find)
      if (!java.lang.Double.isFinite(rate) || rate < 0 || rate > 1.0e9)
        bad(s"SamplingFrequency $rate out of range")
      Track(number, ttype, codec, w, h, rate, ch)
    }

    def walkCluster(end: Long, depth: Int): Unit = {
      nClusters += 1
      var ts = -1L
      // RFC 8794 §6.2: an unknown-size element ends at ANY valid sibling,
      // so the stop set must carry every level-1 id that can legally
      // follow clusters (Cues/SeekHead/Tags/Chapters/Attachments trail
      // clusters in streamed files) — not just Cluster/Tracks/Info
      // (round-16 advice: trailing index elements were absorbed as
      // skipped cluster children, silently inflating the last cluster).
      children(end, depth, stopIds = Set(IdCluster, IdTracks, IdInfo,
        IdSeekHead, IdCues, IdChapters, IdTags, IdAttachments)) {
        (id, size, _) =>
          id match {
            case IdTimestamp => ts = r.uint(size.toInt)
            case IdSimpleBlock =>
              if (size < 4) bad("SimpleBlock shorter than its header")
              nBlocks += 1
              blockBytes += size
              r.skip(size)
            case _ => r.skip(size)
          }
      }
      if (ts >= 0) {
        if (firstClusterTs < 0) firstClusterTs = ts
        lastClusterTs = ts
      }
    }

    // EBML header
    r.countElement()
    val hid = r.readId()
    val hsize = r.readSize()
    if (hid != IdEbml) bad(f"first element 0x$hid%x is not the EBML header")
    if (hsize < 0) bad("EBML header with unknown size")
    if (r.pos + hsize > bytes.length)
      throw new Refusal("truncated", "EBML header size past end")
    children(r.pos + hsize, 1) { (id, size, _) =>
      id match {
        case IdDocType => docType = r.str(size.toInt)
        case IdDocTypeVersion => docTypeVersion = r.uint(size.toInt)
        case _ => r.skip(size)
      }
    }
    if (docType != "matroska" && docType != "webm")
      throw new Refusal("unsupported", s"EBML DocType '$docType'")

    // Segment (the single top-level payload; unknown size = to EOF)
    if (r.pos >= bytes.length)
      throw new Refusal("truncated", "no Segment after the EBML header")
    r.countElement()
    val sid = r.readId()
    val ssize = r.readSize()
    if (sid != IdSegment) bad(f"expected Segment, got 0x$sid%x")
    val segEnd = if (ssize < 0) -1L else r.pos + ssize
    if (segEnd > bytes.length) throw new Refusal("truncated", "Segment size past end")
    children(segEnd, 1) { (id, size, d) =>
      id match {
        case IdInfo =>
          if (size < 0) bad("Info with unknown size")
          children(r.pos + size, d + 1) { (iid, isz, _) =>
            iid match {
              case IdTimestampScale => timestampScale = r.uint(isz.toInt)
              case IdDuration =>
                duration = r.float(isz.toInt); durationSeen = true
              case _ => r.skip(isz)
            }
          }
        case IdTracks =>
          if (size < 0) bad("Tracks with unknown size")
          children(r.pos + size, d + 1) { (tid, tsz, dd) =>
            if (tid == IdTrackEntry) tracks += walkTrackEntry(r.pos + tsz, dd + 1)
            else r.skip(tsz)
          }
        case IdCluster =>
          walkCluster(if (size < 0) -1L else r.pos + size, d + 1)
        case _ =>
          if (size < 0) bad(f"unknown size on element 0x$id%x")
          r.skip(size)
      }
    }

    // a definite-size segment must exhaust the file: trailing bytes are
    // rot (multi-segment files are not walked — refuse, never ignore)
    if (r.pos != bytes.length) bad(s"${bytes.length - r.pos} trailing bytes after Segment")

    // duration is in timestampScale units; floor ms keeps engines exact.
    // Refuse non-finite or overflowing values typed: Long saturation on
    // a rotten 1e300 duration would otherwise silently differ from an
    // arbitrary-precision reader (round-16 differential-parity find).
    if (durationSeen && (!java.lang.Double.isFinite(duration) ||
        duration < 0 || duration * timestampScale > 4.0e18))
      bad(s"Duration $duration out of range")
    val durMs =
      if (duration < 0) 0L
      else (duration * timestampScale).toLong / 1000000L
    Meta(docType, docTypeVersion, timestampScale, durMs, tracks.result(),
      nClusters, firstClusterTs, lastClusterTs, nBlocks, blockBytes)
  }

  def parseSafe(bytes: Array[Byte]): Either[String, Meta] =
    Refusal.attempt(parse(bytes), "bad_frame")

  // ------------------------------------------------------------- write --

  /** EBML element builders (deterministic; sizes always definite except
    * where a spec explicitly asks for the unknown-size streaming form).
    */
  object W {
    def vintId(id: Long): Array[Byte] = {
      val len = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
        else if (id <= 0xffffffL) 3 else 4
      Array.tabulate[Byte](len)(i => ((id >>> (8 * (len - 1 - i))) & 0xff).toByte)
    }

    def vintSize(v: Long): Array[Byte] = {
      var len = 1
      while (len < 8 && v >= (1L << (7 * len)) - 1) len += 1 // all-ones is reserved
      val out = new Array[Byte](len)
      var i = 0
      while (i < len) {
        out(len - 1 - i) = ((v >>> (8 * i)) & 0xff).toByte
        i += 1
      }
      out(0) = (out(0) | (0x80 >>> (len - 1))).toByte
      out
    }

    /** the 0xFF unknown-size marker (1-byte form) */
    val unknownSize: Array[Byte] = Array(0xff.toByte)

    def el(id: Long, payload: Array[Byte]): Array[Byte] =
      vintId(id) ++ vintSize(payload.length.toLong) ++ payload

    def elUnknown(id: Long, payload: Array[Byte]): Array[Byte] =
      vintId(id) ++ unknownSize ++ payload

    def uint(id: Long, v: Long): Array[Byte] = {
      var len = 1
      while (len < 8 && (v >>> (8 * len)) != 0) len += 1
      el(id, Array.tabulate[Byte](len)(i => ((v >>> (8 * (len - 1 - i))) & 0xff).toByte))
    }

    def float8(id: Long, v: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(v)
      el(id, Array.tabulate[Byte](8)(i => ((bits >>> (8 * (7 - i))) & 0xff).toByte))
    }

    def str(id: Long, s: String): Array[Byte] =
      el(id, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  final case class TrackSpec(number: Long, trackType: Long, codecId: String,
      width: Int = 0, height: Int = 0, sampleRate: Double = 0.0,
      channels: Int = 0)

  final case class ClusterSpec(timestamp: Long, blockSizes: Seq[Int])

  /** Deterministic Matroska/WebM writer: EBML header, Segment with Info
    * (TimestampScale + float Duration), Tracks, and Clusters of
    * SimpleBlocks whose payloads are deterministic filler (metadata
    * audits never read them). `streamingClusters` emits the clusters
    * with the unknown-size form real muxers ship mid-stream.
    */
  def write(docType: String, docTypeVersion: Long, timestampScale: Long,
      duration: Double, tracks: Seq[TrackSpec], clusters: Seq[ClusterSpec],
      streamingSegment: Boolean = false): Array[Byte] = {
    import W._
    val header = el(IdEbml,
      uint(0x4286L, 1) ++ uint(0x42F7L, 1) ++ // EBMLVersion, ReadVersion
        uint(0x42F2L, 4) ++ uint(0x42F3L, 8) ++ // MaxIDLength, MaxSizeLength
        str(IdDocType, docType) ++
        uint(IdDocTypeVersion, docTypeVersion) ++ uint(0x4285L, 2))
    val info = el(IdInfo,
      uint(IdTimestampScale, timestampScale) ++
        float8(IdDuration, duration) ++
        str(0x4D80L, "graft") ++ str(0x5741L, "graft"))
    val trackBytes = el(IdTracks, tracks.map { t =>
      val base = uint(IdTrackNumber, t.number) ++
        uint(0x73C5L, 0x1000 + t.number) ++ // TrackUID
        uint(IdTrackType, t.trackType) ++ str(IdCodecId, t.codecId)
      val av =
        if (t.trackType == 1)
          el(IdVideo, uint(IdPixelWidth, t.width.toLong) ++
            uint(IdPixelHeight, t.height.toLong))
        else if (t.trackType == 2)
          el(IdAudio, float8(IdSamplingFrequency, t.sampleRate) ++
            uint(IdChannels, t.channels.toLong))
        else Array.emptyByteArray
      el(IdTrackEntry, base ++ av)
    }.reduceOption(_ ++ _).getOrElse(Array.emptyByteArray))
    val clusterBytes = clusters.map { c =>
      val blocks = c.blockSizes.zipWithIndex.map { case (n, k) =>
        // SimpleBlock: track vint + s16 relative ts + flags + frame bytes
        val body = new Array[Byte](4 + n)
        body(0) = 0x81.toByte // track 1, 1-byte vint
        body(1) = 0; body(2) = (k & 0xff).toByte
        body(3) = 0x80.toByte // keyframe flag
        var i = 0
        while (i < n) { body(4 + i) = ((c.timestamp + k + i) % 256).toByte; i += 1 }
        el(IdSimpleBlock, body)
      }.reduceOption(_ ++ _).getOrElse(Array.emptyByteArray)
      el(IdCluster, uint(IdTimestamp, c.timestamp) ++ blocks)
    }.reduceOption(_ ++ _).getOrElse(Array.emptyByteArray)
    val segPayload = info ++ trackBytes ++ clusterBytes
    val segment =
      if (streamingSegment) elUnknown(IdSegment, segPayload)
      else el(IdSegment, segPayload)
    header ++ segment
  }
}
