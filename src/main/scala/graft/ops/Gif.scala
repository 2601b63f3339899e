package graft.ops

/** Pure-JVM GIF decoder (GIF87a/GIF89a, CompuServe spec + the LZW variant
  * it mandates) — no ImageIO, no native libraries, implemented from the
  * public specification like its siblings [[Png]] / [[Jpeg]] / [[Mp3]].
  *
  * Decoder scope (anything outside it throws, mirroring the reference's
  * unsupported-type guard — `/root/reference/backend/etl_pipeline.py`
  * raises on inputs it has no parser for):
  *
  *  - header + logical screen descriptor, global and local color tables,
  *    extension blocks skipped by their sub-block framing (graphic
  *    control parsed for per-frame delays; comment/application skipped);
  *  - EVERY image frame (round 9 — [[decodeAnim]]): variable-width LZW
  *    with clear/end codes, dictionary growth to 12 bits, the
  *    deferred-clear convention, and the 4-pass interlace row order;
  *    frames are returned as transmitted (own rect + palette), without
  *    disposal-method compositing (documented scope — frame sampling and
  *    feature extraction consume per-frame rasters, not playback state);
  *    [[frameMeta]] counts frames/total delay WITHOUT LZW decode;
  *  - [[decode]]/[[decodeIndexed]] keep their first-frame contract:
  *    a top-down interleaved RGB raster (palette applied), the same
  *    shape [[Png.decode]] returns for color type 2.
  *
  * The encoder is the oracle-side counterpart, NOT a general compressor:
  * it emits a CLEAR code before every literal pixel code, so the code
  * width never grows past `minCodeSize + 1` and the stream stays trivially
  * legal — the "uncompressed GIF" technique. The decoder exercises its
  * general dictionary path on such streams too (each literal is a root
  * entry), and GifSpec additionally pins a dictionary-growing stream.
  */
object Gif {

  final case class Header(w: Int, h: Int, nColors: Int, interlaced: Boolean)

  /** One animation frame: its own rect within the logical screen, the
    * delay the preceding graphic-control extension announced (centi-
    * seconds; 0 when none), and its palette-index raster with the color
    * table in effect (local overrides global). NO inter-frame
    * compositing is applied — each frame is returned as transmitted,
    * which is what frame sampling / feature extraction consume (full
    * disposal-method animation playback is out of scope, documented).
    */
  final case class Frame(x: Int, y: Int, w: Int, h: Int, delayCs: Int,
      nColors: Int, interlaced: Boolean, palette: Array[Byte],
      indices: Array[Byte]) {
    def rgb: Array[Byte] = {
      val out = new Array[Byte](indices.length * 3)
      var i = 0
      while (i < indices.length) {
        val idx = indices(i) & 0xff
        out(i * 3) = palette(idx * 3)
        out(i * 3 + 1) = palette(idx * 3 + 1)
        out(i * 3 + 2) = palette(idx * 3 + 2)
        i += 1
      }
      out
    }
  }

  final case class Anim(screenW: Int, screenH: Int, frames: Vector[Frame])

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  private final case class Screen(w: Int, h: Int, gct: Array[Byte],
      gctSize: Int, off: Int)

  private def parseScreen(bytes: Array[Byte]): Screen = {
    require(bytes.length >= 13, "truncated GIF (no logical screen descriptor)")
    val sig = new String(bytes, 0, 6, "US-ASCII")
    require(sig == "GIF87a" || sig == "GIF89a", s"not a GIF payload (signature '$sig')")
    val screenW = le16(bytes, 6)
    val screenH = le16(bytes, 8)
    Multimodal.checkPixelBudget(screenW.toLong, screenH.toLong, "GIF")
    val packed = u8(bytes, 10)
    var off = 13
    var gct: Array[Byte] = null
    var gctSize = 0
    if ((packed & 0x80) != 0) {
      gctSize = 2 << (packed & 7)
      require(off + 3 * gctSize <= bytes.length, "truncated global color table")
      gct = bytes.slice(off, off + 3 * gctSize)
      off += 3 * gctSize
    }
    Screen(screenW, screenH, gct, gctSize, off)
  }

  /** Decode the first frame to (header, top-down interleaved RGB). */
  def decode(bytes: Array[Byte]): (Header, Array[Byte]) = {
    val (hd, palette, indices) = decodeIndexed(bytes)
    val out = new Array[Byte](indices.length * 3)
    var i = 0
    while (i < indices.length) {
      val idx = indices(i) & 0xff
      out(i * 3) = palette(idx * 3)
      out(i * 3 + 1) = palette(idx * 3 + 1)
      out(i * 3 + 2) = palette(idx * 3 + 2)
      i += 1
    }
    (hd, out)
  }

  /** Decode to (header, RGB palette, top-down palette-index raster) — the
    * palette-preserving form [[BinaryMediaDecoder]]'s exact resize uses.
    * First frame only (everything after it is ignored, as before round 9).
    */
  def decodeIndexed(bytes: Array[Byte]): (Header, Array[Byte], Array[Byte]) = {
    val anim = decodeAnim(bytes, maxFrames = 1)
    val f = anim.frames.head
    (Header(f.w, f.h, f.nColors, f.interlaced), f.palette, f.indices)
  }

  /** Walk the whole stream and decode every frame (round 9 — the
    * ANIMATED-GIF path a web corpus needs): graphic-control extensions
    * supply per-frame delays, local color tables override the global
    * one, each frame LZW-decodes independently. `maxFrames` bounds the
    * work for first-frame-only callers.
    */
  def decodeAnim(bytes: Array[Byte], maxFrames: Int = Int.MaxValue): Anim = {
    val s = parseScreen(bytes)
    var off = s.off
    var delay = 0
    val frames = Vector.newBuilder[Frame]
    var n = 0
    var done = false
    while (!done && n < maxFrames) {
      require(off < bytes.length, "truncated GIF (no trailer)")
      u8(bytes, off) match {
        case 0x21 =>
          // graphic control (label 0xF9, size-4 block): the delay applies
          // to the NEXT image; other extensions skip by sub-block framing
          if (off + 5 < bytes.length && u8(bytes, off + 1) == 0xf9 &&
              u8(bytes, off + 2) == 4)
            delay = le16(bytes, off + 4)
          off += 2
          require(off < bytes.length, "truncated extension")
          var sub = u8(bytes, off)
          while (sub != 0) {
            off += 1 + sub
            require(off < bytes.length, "truncated extension sub-blocks")
            sub = u8(bytes, off)
          }
          off += 1
        case 0x2c =>
          val (f, next) = decodeFrameAt(bytes, off, s, delay)
          frames += f
          delay = 0
          n += 1
          off = next
        case 0x3b => done = true
        case other => throw new IllegalArgumentException(
          f"unknown GIF block 0x$other%02x at offset $off")
      }
    }
    val out = frames.result()
    require(out.nonEmpty, s"no image descriptor before offset $off")
    Anim(s.w, s.h, out)
  }

  /** Decode ONLY the idx-th frame: earlier frames' pixel data skips by
    * sub-block framing without LZW decode, so sampling k frames of an
    * N-frame animation costs O(N) block walks + k LZW decodes, not k·N
    * decodes — the [[graft.ops.BinaryMediaDecoder.frame]] path.
    */
  def decodeFrame(bytes: Array[Byte], idx: Int): Frame = {
    require(idx >= 0, s"frame index $idx")
    val s = parseScreen(bytes)
    var off = s.off
    var delay = 0
    var n = 0
    while (true) {
      require(off < bytes.length, "truncated GIF (no trailer)")
      u8(bytes, off) match {
        case 0x21 =>
          if (off + 5 < bytes.length && u8(bytes, off + 1) == 0xf9 &&
              u8(bytes, off + 2) == 4)
            delay = le16(bytes, off + 4)
          off += 2
          require(off < bytes.length, "truncated extension")
          var sub = u8(bytes, off)
          while (sub != 0) {
            off += 1 + sub
            require(off < bytes.length, "truncated extension sub-blocks")
            sub = u8(bytes, off)
          }
          off += 1
        case 0x2c if n == idx =>
          return decodeFrameAt(bytes, off, s, delay)._1
        case 0x2c => // skip this frame's data without decoding
          require(off + 10 <= bytes.length, "truncated image descriptor")
          val ipacked = u8(bytes, off + 9)
          off += 10
          if ((ipacked & 0x80) != 0) off += 3 * (2 << (ipacked & 7))
          off += 1
          require(off < bytes.length, "truncated image data")
          var sub = u8(bytes, off)
          while (sub != 0) {
            off += 1 + sub
            require(off < bytes.length, "truncated image data sub-block")
            sub = u8(bytes, off)
          }
          off += 1
          delay = 0
          n += 1
        case 0x3b =>
          throw new IllegalArgumentException(
            s"frame $idx out of range (GIF has $n frames)")
        case other => throw new IllegalArgumentException(
          f"unknown GIF block 0x$other%02x at offset $off")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** (frame count, total delay in centiseconds) WITHOUT LZW decode — the
    * metadata walk corpus curation runs per blob: data sub-blocks skip by
    * their length framing, so cost is O(blocks), not O(pixels).
    */
  def frameMeta(bytes: Array[Byte]): (Int, Int) = {
    val s = parseScreen(bytes)
    var off = s.off
    var nFrames = 0
    var totalDelay = 0
    var done = false
    while (!done) {
      require(off < bytes.length, "truncated GIF (no trailer)")
      u8(bytes, off) match {
        case 0x21 =>
          if (off + 5 < bytes.length && u8(bytes, off + 1) == 0xf9 &&
              u8(bytes, off + 2) == 4)
            totalDelay += le16(bytes, off + 4)
          off += 2
          require(off < bytes.length, "truncated extension")
          var sub = u8(bytes, off)
          while (sub != 0) {
            off += 1 + sub
            require(off < bytes.length, "truncated extension sub-blocks")
            sub = u8(bytes, off)
          }
          off += 1
        case 0x2c =>
          require(off + 10 <= bytes.length, "truncated image descriptor")
          val ipacked = u8(bytes, off + 9)
          off += 10
          if ((ipacked & 0x80) != 0) off += 3 * (2 << (ipacked & 7))
          off += 1 // LZW min code size
          require(off < bytes.length, "truncated image data")
          var sub = u8(bytes, off)
          while (sub != 0) {
            off += 1 + sub
            require(off < bytes.length, "truncated image data sub-block")
            sub = u8(bytes, off)
          }
          off += 1
          nFrames += 1
        case 0x3b => done = true
        case other => throw new IllegalArgumentException(
          f"unknown GIF block 0x$other%02x at offset $off")
      }
    }
    require(nFrames > 0, "GIF carries no image frames")
    (nFrames, totalDelay)
  }

  /** Decode one frame starting at its 0x2C image descriptor; returns the
    * frame and the offset just past its data terminator.
    */
  private def decodeFrameAt(bytes: Array[Byte], off0: Int, s: Screen,
      delayCs: Int): (Frame, Int) = {
    var off = off0
    require(off + 10 <= bytes.length, "truncated image descriptor")
    val fx = le16(bytes, off + 1)
    val fy = le16(bytes, off + 3)
    val iw = le16(bytes, off + 5)
    val ih = le16(bytes, off + 7)
    val ipacked = u8(bytes, off + 9)
    val interlaced = (ipacked & 0x40) != 0
    off += 10
    var ct = s.gct
    var ctSize = s.gctSize
    if ((ipacked & 0x80) != 0) {
      ctSize = 2 << (ipacked & 7)
      require(off + 3 * ctSize <= bytes.length, "truncated local color table")
      ct = bytes.slice(off, off + 3 * ctSize)
      off += 3 * ctSize
    }
    require(ct != null, "no color table (neither global nor local)")
    require(iw > 0 && ih > 0 && fx + iw <= s.w && fy + ih <= s.h,
      s"degenerate frame ${iw}x$ih at ($fx,$fy) in ${s.w}x${s.h} screen")
    val screenW = s.w
    val screenH = s.h

    // ------------------------------------------------------ LZW decode --
    val minCode = u8(bytes, off)
    require(minCode >= 2 && minCode <= 8, s"LZW min code size $minCode outside 2..8")
    off += 1
    // concatenate the data sub-blocks
    val data = {
      val buf = new java.io.ByteArrayOutputStream()
      var sub = u8(bytes, off)
      while (sub != 0) {
        require(off + 1 + sub < bytes.length, "truncated image data sub-block")
        buf.write(bytes, off + 1, sub)
        off += 1 + sub
        sub = u8(bytes, off)
      }
      buf.toByteArray
    }
    val clear = 1 << minCode
    val end = clear + 1
    // dictionary: prefix link + appended byte per code (12-bit max = 4096)
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val indices = new Array[Byte](iw * ih)
    var nIdx = 0
    var next = end + 1 // next free dictionary slot
    var width = minCode + 1
    var prev = -1
    var acc = 0L
    var nBits = 0
    var pos = 0
    val stack = new Array[Byte](4097)
    var done = false
    while (!done) {
      while (nBits < width && pos < data.length) {
        acc |= (data(pos) & 0xffL) << nBits // LSB-first packing
        nBits += 8; pos += 1
      }
      require(nBits >= width, s"LZW stream exhausted before END code ($nIdx/${indices.length} pixels)")
      val code = (acc & ((1 << width) - 1)).toInt
      acc >>= width; nBits -= width
      if (code == clear) {
        next = end + 1; width = minCode + 1; prev = -1
      } else if (code == end) {
        done = true
      } else if (prev < 0) {
        // first code after a clear must be a root (a bare palette index)
        require(code < clear, s"first LZW code $code after clear is not a root")
        require(nIdx < indices.length, "LZW emits more pixels than the frame holds")
        indices(nIdx) = code.toByte; nIdx += 1
        prev = code
      } else {
        // the KwKwK case: `code == next` means "prev's expansion plus its
        // own first byte" — the one code legally referencing an entry not
        // yet in the dictionary
        require(code <= next, s"LZW code $code beyond dictionary ($next entries)")
        val useCode = if (code == next) prev else code
        var sp = 0
        var c = useCode
        while (c > end) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        require(c < clear, s"corrupt LZW chain reaches control code $c")
        stack(sp) = c.toByte; sp += 1
        val first = stack(sp - 1) // chain head = first byte emitted
        var i = sp - 1
        while (i >= 0) {
          require(nIdx < indices.length, "LZW emits more pixels than the frame holds")
          indices(nIdx) = stack(i); nIdx += 1; i -= 1
        }
        if (code == next) {
          require(nIdx < indices.length, "LZW emits more pixels than the frame holds")
          indices(nIdx) = first; nIdx += 1
        }
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    require(nIdx == indices.length,
      s"LZW stream ended at $nIdx of ${indices.length} pixels")
    var v = 0
    while (v < indices.length) {
      require((indices(v) & 0xff) < ctSize,
        s"palette index ${indices(v) & 0xff} outside $ctSize-color table")
      v += 1
    }

    // ------------------------------------------------ interlace unwind --
    val raster =
      if (!interlaced) indices
      else {
        // rows are TRANSMITTED in 4-pass order; map stream row → image row
        val out = new Array[Byte](indices.length)
        var srcRow = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
          var y = start
          while (y < ih) {
            System.arraycopy(indices, srcRow * iw, out, y * iw, iw)
            srcRow += 1; y += step
          }
        }
        out
      }
    (Frame(fx, fy, iw, ih, delayCs, ctSize, interlaced, ct, raster), off + 1)
  }

  /** Emit a legal GIF89a: global color table of `palette` (RGB triples,
    * length a power of two in 4..256), non-interlaced full-screen frame of
    * `indices` (one palette index per pixel, top-down). LZW payload uses
    * the clear-before-every-literal technique (code width fixed at
    * `minCodeSize + 1`), split into ≤255-byte sub-blocks.
    */
  def encode(w: Int, h: Int, palette: Array[Byte], indices: Array[Byte]): Array[Byte] =
    encodeAnim(w, h, palette, Seq((indices, 0)), withGce = false)

  /** Multi-frame GIF89a encoder (round 9): full-screen frames, each
    * preceded by a graphic-control extension carrying its delay in
    * centiseconds (omitted entirely with `withGce = false` — the
    * single-frame [[encode]] compatibility shape). Same literal-LZW
    * technique per frame.
    */
  def encodeAnim(w: Int, h: Int, palette: Array[Byte],
      frames: Seq[(Array[Byte], Int)], withGce: Boolean = true): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"degenerate ${w}x$h")
    require(palette.length % 3 == 0, "palette must be RGB triples")
    require(frames.nonEmpty, "need at least one frame")
    val n = palette.length / 3
    require(n >= 4 && n <= 256 && Integer.bitCount(n) == 1,
      s"palette size $n must be a power of two in 4..256")
    val minCode = math.max(2, 32 - Integer.numberOfLeadingZeros(n - 1))
    val clear = 1 << minCode
    val end = clear + 1
    val width = minCode + 1
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16w(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16w(w); le16w(h)
    out.write(0x80 | (minCode - 1)) // GCT present, size 2^minCode
    out.write(0); out.write(0) // bg index, aspect
    out.write(palette, 0, palette.length)
    frames.foreach { case (indices, delayCs) =>
      require(indices.length == w * h, "index raster size mismatch")
      require(delayCs >= 0 && delayCs <= 0xffff, s"delay $delayCs out of range")
      if (withGce) {
        // GCE: no disposal, no transparency, just the delay
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write(0); le16w(delayCs); out.write(0); out.write(0)
      }
      // image descriptor, full screen, no LCT, not interlaced
      out.write(0x2c); le16w(0); le16w(0); le16w(w); le16w(h); out.write(0)
      out.write(minCode)
      // bit-pack LSB-first: CLEAR, (CLEAR literal)*, END
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nBits = 0
      def put(code: Int): Unit = {
        acc |= code.toLong << nBits; nBits += width
        while (nBits >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nBits -= 8 }
      }
      put(clear)
      indices.foreach { ix =>
        require((ix & 0xff) < n, s"index ${ix & 0xff} outside $n-color palette")
        put(ix & 0xff); put(clear)
      }
      put(end)
      if (nBits > 0) bits.write((acc & 0xff).toInt)
      val payload = bits.toByteArray
      var o = 0
      while (o < payload.length) {
        val chunk = math.min(255, payload.length - o)
        out.write(chunk); out.write(payload, o, chunk)
        o += chunk
      }
      out.write(0) // data terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }
}
