package graft.ops

/** ISOBMFF container metadata (ISO/IEC 14496-12 — the MP4/MOV box layout
  * and its HEIF/AVIF still-image profile, ISO/IEC 23008-12): the
  * video / modern-image leg of the multimodal surface. A corpus scan
  * needs the SHAPE of these files — brands, track dims, codecs,
  * durations, item properties — without decoding a single sample, which
  * is exactly what a box walk gives: every box is (u32 size, fourcc)
  * framed, so the walk is O(boxes) over bounded headers with zero
  * payload allocation. Sample/pixel DECODE (H.264/AV1/HEVC) is out of
  * scope by contract and refuses typed, the [[Vp8]] inter-frame rule.
  *
  * Reference behavior: the reference pipeline
  * (AdityaNayak12/ETL-Pipeline-Project-Auraverse, backend/etl_pipeline.py)
  * rejects binary media entirely; this is 100 TB extension surface
  * (mm23/mm24).
  *
  * Family contract as [[Flac]]/[[Gguf]]: strict bounded reader (size
  * fields validated against the enclosing box before any recursion,
  * nesting and box-count caps, version gates), typed refusals
  * (`bad_magic`, `truncated`, `bad_frame`, `too_large`), deterministic
  * writer for fixtures, IsobmffSpec pins the reader against an
  * independent python transcription and runs the mutation sweep.
  */
object Isobmff {

  import graft.core.Refusal

  private def fail(kind: String, msg: String): Nothing = throw new Refusal(kind, msg)

  /** mediaTimescale/nSamples/sampleBytes come from mdhd/stts/stsz and
    * stay 0 when the track carries no sample tables (fragmented files,
    * metadata-only fixtures).
    */
  final case class Track(id: Long, handler: String, codec: String,
      width: Int, height: Int, duration: Long,
      mediaTimescale: Long = 0, nSamples: Long = 0, sampleBytes: Long = 0,
      mediaDuration: Long = 0)

  /** One movie fragment's per-traf stats (fragmented MP4 — the CMAF/DASH
    * form streaming video ships): moof sequence number, the traf's track,
    * and the trun totals (per-sample fields summed when present, tfhd /
    * trex defaults applied otherwise, per ISO 14496-12 §8.8).
    */
  final case class Fragment(seq: Long, trackId: Long, nSamples: Long,
      sampleBytes: Long, duration: Long)

  /** One container's metadata. For HEIF/AVIF stills the item* fields are
    * set and tracks is empty; for timed media the reverse. Fragmented
    * files carry their moof/trun stats in `fragments`.
    */
  final case class Meta(majorBrand: String, compatibleBrands: Vector[String],
      timescale: Long, duration: Long, tracks: Vector[Track],
      itemCodec: String, itemWidth: Int, itemHeight: Int,
      fragments: Vector[Fragment] = Vector.empty)

  private val MaxBoxes = 1 << 16
  private val MaxDepth = 16

  // -------------------------------------------------------------- read --

  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def u32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def u64(b: Array[Byte], i: Int): Long = (u32(b, i) << 32) | u32(b, i + 4)
  private def fourcc(b: Array[Byte], i: Int): String = {
    val sb = new StringBuilder(4)
    var k = i
    while (k < i + 4) {
      val c = b(k) & 0xff
      if (c < 0x20 || c > 0x7e) fail("bad_frame", s"non-printable fourcc byte $c")
      sb.append(c.toChar)
      k += 1
    }
    sb.result()
  }

  private final class Walk(b: Array[Byte]) {
    var boxes = 0

    /** visit children of [off, end); f(type, payloadOff, payloadEnd) */
    def children(off: Int, end: Int, depth: Int)(f: (String, Int, Int) => Unit): Unit = {
      if (depth > MaxDepth) fail("bad_frame", s"box nesting past $MaxDepth")
      var p = off
      while (p < end) {
        if (end - p < 8) fail("truncated", s"box header at $p of $end")
        boxes += 1
        if (boxes > MaxBoxes) fail("too_large", s"more than $MaxBoxes boxes")
        val size0 = u32(b, p)
        val tpe = fourcc(b, p + 4)
        var hdr = 8
        val size =
          if (size0 == 1L) {
            if (end - p < 16) fail("truncated", s"largesize at $p")
            hdr = 16
            u64(b, p + 8)
          } else if (size0 == 0L) (end - p).toLong // to end of container
          else size0
        if (size < hdr) fail("bad_frame", s"$tpe: size $size below header")
        if (size > (end - p).toLong) fail("truncated",
          s"$tpe: size $size past container end $end")
        f(tpe, p + hdr, p + size.toInt)
        p += size.toInt
      }
    }

    /** version/flags of a full box; returns version, advances by 4 */
    def fullBox(off: Int, end: Int): Int = {
      if (end - off < 4) fail("truncated", "full box header")
      b(off) & 0xff
    }
  }

  def parse(bytes: Array[Byte]): Meta = {
    if (bytes.length < 8) fail("truncated", s"${bytes.length} bytes")
    if (fourccAt(bytes, 4) != "ftyp") fail("bad_magic", "first box is not ftyp")
    val w = new Walk(bytes)
    var majorBrand = ""
    var compat = Vector.newBuilder[String]
    var timescale = 0L
    var duration = 0L
    val tracks = Vector.newBuilder[Track]
    var itemCodec = ""
    var itemW = 0
    var itemH = 0
    val fragments = Vector.newBuilder[Fragment]
    // trex defaults per track (moov/mvex/trex), consulted by tfhd/trun
    val trexDur = scala.collection.mutable.Map[Long, Long]()
    val trexSize = scala.collection.mutable.Map[Long, Long]()

    def visualDims(off: Int, end: Int): (Int, Int) = {
      // VisualSampleEntry: 6 reserved + 2 data_ref_index + 16 pre_defined/
      // reserved, then width/height u16
      if (end - off < 28) fail("truncated", "visual sample entry")
      (u16(bytes, off + 24), u16(bytes, off + 26))
    }

    def stsd(off: Int, end: Int, handler: String, depth: Int): (String, Int, Int) = {
      if (w.fullBox(off, end) != 0) fail("bad_frame", "stsd version")
      if (end - off < 8) fail("truncated", "stsd")
      val n = u32(bytes, off + 4)
      if (n < 1 || n > 64) fail("bad_frame", s"stsd entry count $n")
      var codec = ""
      var dims = (0, 0)
      w.children(off + 8, end, depth + 1) { (tpe, po, pe) =>
        if (codec.isEmpty) {
          codec = tpe
          if (handler == "vide") dims = visualDims(po, pe)
        }
      }
      if (codec.isEmpty) fail("bad_frame", "stsd with no sample entry")
      (codec, dims._1, dims._2)
    }

    def trak(off: Int, end: Int, depth: Int): Unit = {
      var id = 0L
      var tw = 0
      var th = 0
      var tdur = 0L
      var handler = ""
      var codec = ""
      var mediaTs = 0L
      var nSamples = 0L
      var sampleBytes = 0L
      var mediaDur = 0L
      w.children(off, end, depth + 1) {
        case ("tkhd", po, pe) =>
          val v = w.fullBox(po, pe)
          val body = po + 4
          val need = if (v == 1) 92 else if (v == 0) 80 else
            fail("bad_frame", s"tkhd version $v")
          if (pe - body < need) fail("truncated", "tkhd")
          if (v == 1) {
            id = u32(bytes, body + 16)
            tdur = u64(bytes, body + 24)
            tw = (u32(bytes, body + 84) >> 16).toInt // 16.16 fixed
            th = (u32(bytes, body + 88) >> 16).toInt
          } else {
            id = u32(bytes, body + 8)
            tdur = u32(bytes, body + 16)
            tw = (u32(bytes, body + 72) >> 16).toInt
            th = (u32(bytes, body + 76) >> 16).toInt
          }
        case ("mdia", po, pe) =>
          w.children(po, pe, depth + 2) {
            case ("hdlr", ho, he) =>
              if (he - ho < 12) fail("truncated", "hdlr")
              handler = fourcc(bytes, ho + 8)
            case ("mdhd", ho, he) =>
              val v = w.fullBox(ho, he)
              val body = ho + 4
              if (v == 1) {
                if (he - body < 28) fail("truncated", "mdhd")
                mediaTs = u32(bytes, body + 16)
              } else if (v == 0) {
                if (he - body < 16) fail("truncated", "mdhd")
                mediaTs = u32(bytes, body + 8)
              } else fail("bad_frame", s"mdhd version $v")
            case ("minf", mo, me) =>
              w.children(mo, me, depth + 3) {
                case ("stbl", so, se) =>
                  w.children(so, se, depth + 4) {
                    case ("stsd", xo, xe) =>
                      val (c, cw, ch) = stsd(xo, xe, handler, depth + 5)
                      codec = c
                      if (handler == "vide") { tw = cw; th = ch }
                    case ("stts", xo, xe) =>
                      // decoding-time-to-sample: Σ sample_count
                      if (w.fullBox(xo, xe) != 0) fail("bad_frame", "stts version")
                      if (xe - xo < 8) fail("truncated", "stts")
                      val nEnt = u32(bytes, xo + 4)
                      if (nEnt > ((xe - xo - 8) / 8).toLong)
                        fail("truncated", s"stts declares $nEnt entries")
                      var e = 0
                      while (e < nEnt.toInt) {
                        val cnt = u32(bytes, xo + 8 + e * 8)
                        val delta = u32(bytes, xo + 12 + e * 8)
                        // u32×u32 can wrap a Long across crafted runs —
                        // a lying table must refuse, not report garbage
                        if (cnt != 0 && delta > (1L << 62) / cnt)
                          fail("bad_frame", s"stts run $cnt x $delta overflows")
                        nSamples += cnt
                        mediaDur += cnt * delta
                        if (nSamples > (1L << 48) || mediaDur > (1L << 62))
                          fail("bad_frame", "stts totals overflow")
                        e += 1
                      }
                    case ("stsz", xo, xe) =>
                      // sample sizes: fixed (sample_size != 0) or per-sample
                      if (w.fullBox(xo, xe) != 0) fail("bad_frame", "stsz version")
                      if (xe - xo < 12) fail("truncated", "stsz")
                      val fixed = u32(bytes, xo + 4)
                      val cnt = u32(bytes, xo + 8)
                      if (fixed != 0L) {
                        if (cnt != 0 && fixed > (1L << 62) / cnt)
                          fail("bad_frame", s"stsz $cnt x $fixed overflows")
                        sampleBytes = fixed * cnt
                      } else {
                        if (cnt > ((xe - xo - 12) / 4).toLong)
                          fail("truncated", s"stsz declares $cnt sizes")
                        var e = 0
                        while (e < cnt.toInt) {
                          sampleBytes += u32(bytes, xo + 12 + e * 4)
                          e += 1
                        }
                      }
                    case _ => ()
                  }
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      }
      if (id == 0L) fail("bad_frame", "trak without tkhd")
      if (handler.isEmpty) fail("bad_frame", "trak without hdlr")
      tracks += Track(id, handler, codec, tw, th, tdur,
        mediaTs, nSamples, sampleBytes, mediaDur)
    }

    def metaBox(off: Int, end: Int, depth: Int): Unit = {
      if (w.fullBox(off, end) != 0) fail("bad_frame", "meta version")
      w.children(off + 4, end, depth + 1) {
        case ("hdlr", po, pe) =>
          if (pe - po < 12) fail("truncated", "meta hdlr")
          val h = fourcc(bytes, po + 8)
          if (h != "pict") fail("bad_frame", s"meta handler $h")
        case ("iinf", po, pe) =>
          val v = w.fullBox(po, pe)
          val skip = if (v == 0) 2 else 4 // entry_count u16 (v0) / u32
          w.children(po + 4 + skip, pe, depth + 2) {
            case ("infe", io, ie) =>
              val iv = w.fullBox(io, ie)
              if (iv < 2) fail("bad_frame", s"infe version $iv")
              // v2: item_id u16, protection u16, item_type 4cc
              // v3: item_id u32, protection u16, item_type 4cc
              val at = io + 4 + (if (iv == 2) 4 else 6)
              if (ie - at < 4) fail("truncated", "infe")
              if (itemCodec.isEmpty) itemCodec = fourcc(bytes, at)
            case _ => ()
          }
        case ("iprp", po, pe) =>
          w.children(po, pe, depth + 2) {
            case ("ipco", co, ce) =>
              w.children(co, ce, depth + 3) {
                case ("ispe", so, se) =>
                  if (w.fullBox(so, se) != 0) fail("bad_frame", "ispe version")
                  if (se - so < 12) fail("truncated", "ispe")
                  // a >2^31-px dimension would wrap negative through
                  // toInt and silently disagree with any unsigned reader
                  // (round-16 differential-parity find) — it is rot
                  val iw = u32(bytes, so + 4)
                  val ih = u32(bytes, so + 8)
                  if (iw > 0x7fffffffL || ih > 0x7fffffffL)
                    fail("bad_frame", s"ispe dimensions $iw x $ih out of range")
                  itemW = iw.toInt
                  itemH = ih.toInt
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      }
    }

    def moof(off: Int, end: Int, depth: Int): Unit = {
      var seq = 0L
      w.children(off, end, depth + 1) {
        case ("mfhd", po, pe) =>
          if (w.fullBox(po, pe) != 0) fail("bad_frame", "mfhd version")
          if (pe - po < 8) fail("truncated", "mfhd")
          seq = u32(bytes, po + 4)
        case ("traf", po, pe) =>
          var trackId = 0L
          var defDur = -1L
          var defSize = -1L
          var nS = 0L
          var bytesS = 0L
          var dur = 0L
          w.children(po, pe, depth + 2) {
            case ("tfhd", to, te) =>
              if (w.fullBox(to, te) != 0) fail("bad_frame", "tfhd version")
              // tf_flags live in the low 24 bits of the fullbox word
              val flags = (u32(bytes, to) & 0xffffffL).toInt
              if (te - to < 8) fail("truncated", "tfhd")
              trackId = u32(bytes, to + 4)
              var p = to + 8
              def take(n: Int): Int = {
                if (te - p < n) fail("truncated", "tfhd fields")
                val at = p; p += n; at
              }
              if ((flags & 0x01) != 0) take(8) // base-data-offset
              if ((flags & 0x02) != 0) take(4) // sample-description-index
              if ((flags & 0x08) != 0) defDur = u32(bytes, take(4))
              if ((flags & 0x10) != 0) defSize = u32(bytes, take(4))
              if ((flags & 0x20) != 0) take(4) // default-sample-flags
            case ("trun", to, te) =>
              val v = w.fullBox(to, te)
              if (v > 1) fail("bad_frame", s"trun version $v")
              val flags = (u32(bytes, to) & 0xffffffL).toInt
              if (te - to < 8) fail("truncated", "trun")
              val cnt = u32(bytes, to + 4)
              var p = to + 8
              if ((flags & 0x01) != 0) p += 4 // data-offset
              if ((flags & 0x04) != 0) p += 4 // first-sample-flags
              val perDur = (flags & 0x100) != 0
              val perSize = (flags & 0x200) != 0
              val perFlags = (flags & 0x400) != 0
              val perCts = (flags & 0x800) != 0
              val entry = Seq(perDur, perSize, perFlags, perCts).count(identity) * 4
              if (cnt > ((te - p).toLong / math.max(1, entry) + 1) && entry > 0)
                fail("truncated", s"trun declares $cnt samples")
              if (entry > 0 && p + cnt * entry > te)
                fail("truncated", s"trun entries past box")
              val dDur = if (defDur >= 0) defDur
                else trexDur.getOrElse(trackId, -1L)
              val dSize = if (defSize >= 0) defSize
                else trexSize.getOrElse(trackId, -1L)
              if (!perDur && dDur < 0)
                fail("bad_frame", "trun without duration source")
              if (!perSize && dSize < 0)
                fail("bad_frame", "trun without size source")
              if (entry == 0) {
                // no per-sample fields: totals are pure arithmetic — a
                // u32 count must never drive a 4-billion-step loop
                if (dDur > 0 && cnt > (1L << 62) / math.max(1L, dDur))
                  fail("bad_frame", "trun totals overflow")
                if (dSize > 0 && cnt > (1L << 62) / math.max(1L, dSize))
                  fail("bad_frame", "trun totals overflow")
                dur += dDur * cnt
                bytesS += dSize * cnt
              } else {
                var k = 0L
                while (k < cnt) {
                  if (perDur) { dur += u32(bytes, p); p += 4 } else dur += dDur
                  if (perSize) { bytesS += u32(bytes, p); p += 4 } else bytesS += dSize
                  if (perFlags) p += 4
                  if (perCts) p += 4
                  if (dur > (1L << 62) || bytesS > (1L << 62))
                    fail("bad_frame", "trun totals overflow")
                  k += 1
                }
              }
              nS += cnt
              if (nS > (1L << 48)) fail("bad_frame", "trun sample count overflow")
            case _ => ()
          }
          if (trackId == 0L) fail("bad_frame", "traf without tfhd")
          fragments += Fragment(seq, trackId, nS, bytesS, dur)
        case _ => ()
      }
    }

    w.children(0, bytes.length, 0) {
      case ("ftyp", po, pe) =>
        if (pe - po < 8) fail("truncated", "ftyp")
        majorBrand = fourcc(bytes, po)
        var p = po + 8
        while (p + 4 <= pe) { compat += fourcc(bytes, p); p += 4 }
      case ("moof", po, pe) => moof(po, pe, 1)
      case ("moov", po, pe) =>
        w.children(po, pe, 1) {
          case ("mvex", xo, xe) =>
            w.children(xo, xe, 2) {
              case ("trex", to, te) =>
                if (w.fullBox(to, te) != 0) fail("bad_frame", "trex version")
                if (te - to < 24) fail("truncated", "trex")
                val tid = u32(bytes, to + 4)
                trexDur(tid) = u32(bytes, to + 12)
                trexSize(tid) = u32(bytes, to + 16)
              case _ => ()
            }
          case ("mvhd", mo, me) =>
            val v = w.fullBox(mo, me)
            val body = mo + 4
            if (v == 1) {
              if (me - body < 28) fail("truncated", "mvhd")
              timescale = u32(bytes, body + 16)
              duration = u64(bytes, body + 20)
            } else if (v == 0) {
              if (me - body < 16) fail("truncated", "mvhd")
              timescale = u32(bytes, body + 8)
              duration = u32(bytes, body + 12)
            } else fail("bad_frame", s"mvhd version $v")
          case ("trak", to, te) => trak(to, te, 2)
          case _ => ()
        }
      case ("meta", po, pe) => metaBox(po, pe, 1)
      case _ => () // mdat, free, skip, ...
    }
    if (majorBrand.isEmpty) fail("bad_magic", "no ftyp")
    Meta(majorBrand, compat.result(), timescale, duration, tracks.result(),
      itemCodec, itemW, itemH, fragments.result())
  }

  private def fourccAt(b: Array[Byte], i: Int): String =
    if (b.length < i + 4) "" else new String(b, i, 4,
      java.nio.charset.StandardCharsets.US_ASCII)

  def parseSafe(bytes: Array[Byte]): Either[String, Meta] =
    Refusal.attempt(parse(bytes), "bad_frame")

  /** Sample/pixel decode is out of contract for every ISOBMFF codec —
    * typed, like [[Vp8]]'s inter-frame refusal.
    */
  def decodeSamples(bytes: Array[Byte]): Nothing =
    fail("unsupported", "ISOBMFF sample decode (H.264/HEVC/AV1) is out of scope")

  // ------------------------------------------------------------- write --

  def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    require(tpe.length == 4, tpe)
    val n = payload.iterator.map(_.length).sum
    val out = new Array[Byte](8 + n)
    val size = 8L + n
    out(0) = ((size >> 24) & 0xff).toByte; out(1) = ((size >> 16) & 0xff).toByte
    out(2) = ((size >> 8) & 0xff).toByte; out(3) = (size & 0xff).toByte
    tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII).copyToArray(out, 4)
    var p = 8
    payload.foreach { a => a.copyToArray(out, p); p += a.length }
    out
  }

  def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  def cc(s: String): Array[Byte] = {
    require(s.length == 4, s)
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }
  private val vf0 = Array[Byte](0, 0, 0, 0) // version 0, flags 0

  def ftyp(major: String, compatible: Seq[String]): Array[Byte] =
    box("ftyp", cc(major) +: be32(0L) +: compatible.map(cc): _*)

  private def hdlr(handler: String): Array[Byte] =
    box("hdlr", vf0, be32(0L), cc(handler), new Array[Byte](12),
      Array[Byte](0)) // empty name

  /** A timed-media MP4/MOV: ftyp + moov{mvhd, trak{tkhd, mdia{hdlr,
    * minf{stbl{stsd{<codec>}}}}}*} + an empty mdat.
    * tracks: (id, handler "vide"|"soun", codec fourcc, w, h, duration).
    */
  def writeMp4(major: String, compatible: Seq[String], timescale: Long,
      duration: Long,
      tracks: Seq[(Long, String, String, Int, Int, Long)]): Array[Byte] = {
    val mvhd = box("mvhd", vf0,
      be32(0L), be32(0L), be32(timescale), be32(duration),
      be32(0x00010000L), be16(0x0100), be16(0), be32(0L), be32(0L),
      // identity matrix
      be32(0x00010000L), be32(0L), be32(0L),
      be32(0L), be32(0x00010000L), be32(0L),
      be32(0L), be32(0L), be32(0x40000000L),
      new Array[Byte](24), be32(0xffffffffL)) // pre_defined + next_track_ID
    val traks = tracks.map { case (id, handler, codec, tw, th, tdur) =>
      val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7), // v0, enabled+in-movie
        be32(0L), be32(0L), be32(id), be32(0L), be32(tdur),
        new Array[Byte](8), be16(0), be16(0),
        be16(if (handler == "soun") 0x0100 else 0), be16(0),
        be32(0x00010000L), be32(0L), be32(0L),
        be32(0L), be32(0x00010000L), be32(0L),
        be32(0L), be32(0L), be32(0x40000000L),
        be32(tw.toLong << 16), be32(th.toLong << 16))
      val entry =
        if (handler == "vide")
          box(codec, new Array[Byte](6), be16(1), new Array[Byte](16),
            be16(tw), be16(th),
            be32(0x00480000L), be32(0x00480000L), be32(0L), be16(1),
            new Array[Byte](32), be16(0x18), be16(0xffff))
        else // AudioSampleEntry
          box(codec, new Array[Byte](6), be16(1), new Array[Byte](8),
            be16(2), be16(16), be32(0L), be32(44100L << 16))
      val stsd = box("stsd", vf0, be32(1L), entry)
      val stbl = box("stbl", stsd)
      val minf = box("minf", stbl)
      val mdia = box("mdia", hdlr(handler), minf)
      box("trak", tkhd, mdia)
    }
    val moov = box("moov", mvhd +: traks: _*)
    val mdat = box("mdat")
    ftyp(major, compatible) ++ moov ++ mdat
  }

  /** A timed-media MP4 WITH sample tables: like [[writeMp4]] but each
    * track carries mdhd (media timescale) and an stbl with stts (one run
    * of `sampleDelta`), per-sample stsz, and a one-chunk stco.
    * tracks: (id, handler, codec, w, h, duration, mediaTimescale,
    * sampleDelta, sampleSizes).
    */
  def writeMp4Sampled(major: String, compatible: Seq[String], timescale: Long,
      duration: Long,
      tracks: Seq[(Long, String, String, Int, Int, Long, Long, Long, Seq[Long])])
      : Array[Byte] = {
    val mvhd = box("mvhd", vf0,
      be32(0L), be32(0L), be32(timescale), be32(duration),
      be32(0x00010000L), be16(0x0100), be16(0), be32(0L), be32(0L),
      be32(0x00010000L), be32(0L), be32(0L),
      be32(0L), be32(0x00010000L), be32(0L),
      be32(0L), be32(0L), be32(0x40000000L),
      new Array[Byte](24), be32(0xffffffffL))
    val traks = tracks.map {
      case (id, handler, codec, tw, th, tdur, mts, delta, sizes) =>
        val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7),
          be32(0L), be32(0L), be32(id), be32(0L), be32(tdur),
          new Array[Byte](8), be16(0), be16(0),
          be16(if (handler == "soun") 0x0100 else 0), be16(0),
          be32(0x00010000L), be32(0L), be32(0L),
          be32(0L), be32(0x00010000L), be32(0L),
          be32(0L), be32(0L), be32(0x40000000L),
          be32(tw.toLong << 16), be32(th.toLong << 16))
        val mdhd = box("mdhd", vf0, be32(0L), be32(0L), be32(mts),
          be32(sizes.length.toLong * delta), be16(0x55c4), be16(0)) // "und"
        val entry = box(codec, new Array[Byte](6), be16(1), new Array[Byte](16),
          be16(tw), be16(th),
          be32(0x00480000L), be32(0x00480000L), be32(0L), be16(1),
          new Array[Byte](32), be16(0x18), be16(0xffff))
        val stsd = box("stsd", vf0, be32(1L), entry)
        val stts = box("stts", vf0, be32(1L),
          be32(sizes.length.toLong), be32(delta))
        val stsz = box("stsz", vf0 +: be32(0L) +: be32(sizes.length.toLong) +:
          sizes.map(be32): _*)
        val stco = box("stco", vf0, be32(1L), be32(0L))
        val stbl = box("stbl", stsd, stts, stsz, stco)
        val minf = box("minf", stbl)
        val mdia = box("mdia", mdhd, hdlr(handler), minf)
        box("trak", tkhd, mdia)
    }
    val moov = box("moov", mvhd +: traks: _*)
    ftyp(major, compatible) ++ moov ++ box("mdat")
  }

  /** One fragment to write: per-sample (duration, size) pairs, or — when
    * `samples` is empty — `defaultCount` samples driven by the trex
    * defaults (the compact CMAF shape).
    */
  final case class FragSpec(seq: Long, samples: Seq[(Long, Long)],
      defaultCount: Long = 0)

  /** A fragmented MP4 (the CMAF/DASH shape): ftyp + moov{mvhd, trak with
    * an empty stbl, mvex{trex defaults}} + moof{mfhd, traf{tfhd, trun}}
    * per fragment, each with an empty mdat.
    */
  def writeFmp4(major: String, compatible: Seq[String], timescale: Long,
      trackId: Long, codec: String, w: Int, h: Int,
      defDur: Long, defSize: Long, frags: Seq[FragSpec]): Array[Byte] = {
    val mvhd = box("mvhd", vf0,
      be32(0L), be32(0L), be32(timescale), be32(0L),
      be32(0x00010000L), be16(0x0100), be16(0), be32(0L), be32(0L),
      be32(0x00010000L), be32(0L), be32(0L),
      be32(0L), be32(0x00010000L), be32(0L),
      be32(0L), be32(0L), be32(0x40000000L),
      new Array[Byte](24), be32(0xffffffffL))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7),
      be32(0L), be32(0L), be32(trackId), be32(0L), be32(0L),
      new Array[Byte](8), be16(0), be16(0), be16(0), be16(0),
      be32(0x00010000L), be32(0L), be32(0L),
      be32(0L), be32(0x00010000L), be32(0L),
      be32(0L), be32(0L), be32(0x40000000L),
      be32(w.toLong << 16), be32(h.toLong << 16))
    val entry = box(codec, new Array[Byte](6), be16(1), new Array[Byte](16),
      be16(w), be16(h),
      be32(0x00480000L), be32(0x00480000L), be32(0L), be16(1),
      new Array[Byte](32), be16(0x18), be16(0xffff))
    val stbl = box("stbl", box("stsd", vf0, be32(1L), entry))
    val mdia = box("mdia",
      box("mdhd", vf0, be32(0L), be32(0L), be32(timescale), be32(0L),
        be16(0x55c4), be16(0)),
      hdlr("vide"), box("minf", stbl))
    val trex = box("trex", vf0, be32(trackId), be32(1L),
      be32(defDur), be32(defSize), be32(0L))
    val moov = box("moov", mvhd, box("trak", tkhd, mdia), box("mvex", trex))
    val moofs = frags.flatMap { fs =>
      val mfhd = box("mfhd", vf0, be32(fs.seq))
      val tfhd = box("tfhd", vf0, be32(trackId))
      val trun =
        if (fs.samples.nonEmpty) {
          val parts = Seq[Array[Byte]](Array[Byte](0, 0, 0x03, 0x00),
            be32(fs.samples.length.toLong)) ++
            fs.samples.flatMap { case (d, s) => Seq(be32(d), be32(s)) }
          box("trun", parts: _*) // per-sample dur+size (flags 0x300)
        } else box("trun", vf0, be32(fs.defaultCount))
      Seq(box("moof", mfhd, box("traf", tfhd, trun)), box("mdat"))
    }
    (ftyp(major, compatible) +: moov +: moofs).reduce(_ ++ _)
  }

  /** A HEIF/AVIF still image: ftyp + meta{hdlr pict, iinf{infe},
    * iprp{ipco{ispe}}} + an empty mdat.
    */
  def writeHeif(major: String, compatible: Seq[String], itemType: String,
      w: Int, h: Int): Array[Byte] = {
    val infe = box("infe", Array[Byte](2, 0, 0, 0), // version 2
      be16(1), be16(0), cc(itemType), Array[Byte](0))
    val iinf = box("iinf", vf0, be16(1), infe)
    val ispe = box("ispe", vf0, be32(w.toLong), be32(h.toLong))
    val ipco = box("ipco", ispe)
    val iprp = box("iprp", ipco)
    val meta = box("meta", vf0, hdlr("pict"), iinf, iprp)
    ftyp(major, compatible) ++ meta ++ box("mdat")
  }
}
