package graft.ops

/** FLAC audio-frame codec — the PCM layer under [[Flac]]'s metadata walk,
  * completing the second true audio round trip (WAV PCM: [[Wav]]; FLAC:
  * here). Written against the public FLAC format spec (frame headers with
  * 14-bit sync + CRC-8, subframe types CONSTANT/VERBATIM/FIXED(0-4)/
  * LPC(1-32), Rice/Rice2 partitioned residuals with escape codes, wasted
  * bits, left/right/mid-side inter-channel decorrelation, frame CRC-16)
  * and pinned against an independent python encoder
  * (tools/make_flac_fixture.py's audio fixtures — NOT a port of this
  * code).
  *
  * Strictness contract (the no-silent-garbage rule every container codec
  * here obeys): CRC-8 and CRC-16 are verified per frame, the decoded PCM's
  * MD5 is verified against STREAMINFO when declared, coded frame numbers
  * must be sequential, and all input bytes must be consumed — typed
  * refusals `bad_frame` / `crc_mismatch` / `bad_md5` (plus [[Flac]]'s
  * metadata kinds) instead of a misdecode. Allocation is bounded by
  * [[graft.core.Budget.maxInflatedBytes]] BEFORE any buffer is sized from
  * a declared count (the FuzzHunt allocation-bomb rule).
  *
  * The encoder is deterministic (same PCM → same bytes): fixed blocking,
  * best-of-fixed-orders prediction with a single Rice partition, mid/side
  * for stereo, CONSTANT for flat runs, VERBATIM when prediction loses.
  */
object FlacAudio {

  import graft.core.Refusal
  import Flac.FlacMeta
  private def fail(kind: String, msg: String): Nothing =
    throw new Refusal(kind, s"$kind: $msg")

  // ------------------------------------------------------------- bits --

  private final class BitReader(bytes: Array[Byte], start: Int, end: Int) {
    var pos: Int = start
    var bit: Int = 0 // 0..7, MSB-first
    def bytePos: Int = pos
    def aligned: Boolean = bit == 0
    def readBit(): Int = {
      if (pos >= end) fail("truncated", s"bit read at $pos")
      val v = (bytes(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    /** n ≤ 57 unsigned bits, MSB-first. */
    def read(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Long = {
      val v = read(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }
    /** zero-run length before the terminating 1 bit. */
    def unary(): Int = {
      var q = 0
      while (readBit() == 0) {
        q += 1
        if (q > (end - start) * 8) fail("bad_frame", "unbounded unary run")
      }
      q
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var cur = 0
    private var nb = 0
    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nb += 1
      if (nb == 8) { out.write(cur); cur = 0; nb = 0 }
    }
    def write(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    def align(): Unit = while (nb != 0) writeBit(0)
  }

  // ------------------------------------------------------------- CRCs --

  /** CRC-8, poly 0x07, init 0 (frame header). */
  def crc8(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = off
    while (i < off + len) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; k += 1 }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 (whole frame). */
  def crc16(b: Array[Byte], off: Int, len: Int): Int = {
    var crc = 0
    var i = off
    while (i < off + len) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; k += 1 }
      i += 1
    }
    crc
  }

  // -------------------------------------------------------------- read --

  /** Decode a whole FLAC stream to PCM: (metadata, channels × samples).
    * STREAMINFO must declare the total sample count (the strict-audit
    * subset; a 0 count means "unknown" and refuses `bad_streaminfo`).
    */
  def decode(bytes: Array[Byte]): (FlacMeta, Array[Array[Int]]) = {
    val meta = Flac.read(bytes)
    if (meta.totalSamples <= 0) fail("bad_streaminfo", "unknown total samples")
    val total64 = meta.totalSamples * meta.channels * 4L
    if (total64 > graft.core.Budget.maxInflatedBytes)
      fail("too_large", s"${meta.totalSamples} samples x ${meta.channels} ch")
    // frames start after the last metadata block: re-walk the block chain
    var fpos = 4
    var last = false
    while (!last) {
      val h = bytes(fpos) & 0xff
      last = (h & 0x80) != 0
      fpos += 4 + (((bytes(fpos + 1) & 0xff) << 16) |
        ((bytes(fpos + 2) & 0xff) << 8) | (bytes(fpos + 3) & 0xff))
    }
    val total = meta.totalSamples.toInt
    val pcm = Array.ofDim[Int](meta.channels, total)
    var done = 0
    var frameIdx = 0L
    while (done < total) {
      val (n, next) = decodeFrame(bytes, fpos, meta, frameIdx, pcm, done)
      done += n
      fpos = next
      frameIdx += 1
      if (done < total && n == 0) fail("bad_frame", "empty frame")
    }
    if (done != total) fail("bad_frame", s"decoded $done of $total samples")
    if (fpos != bytes.length) fail("bad_frame", s"${bytes.length - fpos} trailing bytes")
    // STREAMINFO MD5 is over the original interleaved little-endian PCM —
    // verifying it makes a silent frame-layer misdecode impossible
    if (meta.md5 != "0" * 32 && meta.bitsPerSample % 8 == 0) {
      val w = meta.bitsPerSample / 8
      val md = java.security.MessageDigest.getInstance("MD5")
      val row = new Array[Byte](meta.channels * w)
      var i = 0
      while (i < total) {
        var c = 0
        while (c < meta.channels) {
          var v = pcm(c)(i); var j = 0
          while (j < w) { row(c * w + j) = (v & 0xff).toByte; v >>= 8; j += 1 }
          c += 1
        }
        md.update(row)
        i += 1
      }
      val got = md.digest().map(b => f"${b & 0xff}%02x").mkString
      if (got != meta.md5) fail("bad_md5", s"pcm md5 $got != ${meta.md5}")
    }
    (meta, pcm)
  }

  def decodeSafe(bytes: Array[Byte]): Either[String, (FlacMeta, Array[Array[Int]])] =
    Refusal.attempt(decode(bytes), "bad_frame")

  /** One frame starting at `off`; fills pcm[*][base ..) and returns
    * (samples decoded, next byte offset).
    */
  private def decodeFrame(bytes: Array[Byte], off: Int, meta: FlacMeta,
      expectIdx: Long, pcm: Array[Array[Int]], base: Int): (Int, Int) = {
    val r = new BitReader(bytes, off, bytes.length)
    if (r.read(14) != 0x3ffe) fail("bad_frame", s"no sync at $off")
    if (r.readBit() != 0) fail("bad_frame", "reserved header bit")
    val variableBlocking = r.readBit() == 1
    val bsBits = r.read(4).toInt
    val srBits = r.read(4).toInt
    val chBits = r.read(4).toInt
    val ssBits = r.read(3).toInt
    if (r.readBit() != 0) fail("bad_frame", "reserved header bit 2")
    val coded = readCodedNumber(r)
    if (!variableBlocking && coded != expectIdx)
      fail("bad_frame", s"frame number $coded, expected $expectIdx")
    val blockSize = bsBits match {
      case 0 => fail("bad_frame", "reserved block size code")
      case 1 => 192
      case n if n >= 2 && n <= 5 => 576 << (n - 2)
      case 6 => r.read(8).toInt + 1
      case 7 => r.read(16).toInt + 1
      case n => 256 << (n - 8)
    }
    srBits match { // value is unused (STREAMINFO governs) but must parse for CRC
      case 12 => r.read(8)
      case 13 | 14 => r.read(16)
      case 15 => fail("bad_frame", "invalid sample rate code")
      case _ => ()
    }
    val bps = ssBits match {
      case 0 => meta.bitsPerSample
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => fail("bad_frame", "reserved sample size code")
    }
    if (bps != meta.bitsPerSample) fail("bad_frame", s"frame bps $bps != streaminfo")
    val (nCh, assign) = chBits match {
      case n if n <= 7 => (n + 1, -1)
      case 8 => (2, 8) // left/side
      case 9 => (2, 9) // right/side
      case 10 => (2, 10) // mid/side
      case _ => fail("bad_frame", "reserved channel assignment")
    }
    if (nCh != meta.channels) fail("bad_frame", s"frame channels $nCh != streaminfo")
    if (base + blockSize > pcm(0).length)
      fail("bad_frame", s"frame overruns declared total at $base+$blockSize")
    if (!r.aligned) fail("bad_frame", "unaligned header")
    if (crc8(bytes, off, r.bytePos - off) != r.read(8).toInt)
      fail("crc_mismatch", s"header crc8 at $off")

    val chans = Array.ofDim[Long](nCh, blockSize)
    var c = 0
    while (c < nCh) {
      val extra = assign match {
        case 8 => if (c == 1) 1 else 0 // side channel carries bps+1
        case 9 => if (c == 0) 1 else 0
        case 10 => if (c == 1) 1 else 0
        case _ => 0
      }
      decodeSubframe(r, blockSize, bps + extra, chans(c))
      c += 1
    }
    r.align()
    val crcPos = r.bytePos
    if (crcPos + 2 > bytes.length) fail("truncated", "frame crc16")
    val stored = ((bytes(crcPos) & 0xff) << 8) | (bytes(crcPos + 1) & 0xff)
    if (crc16(bytes, off, crcPos - off) != stored)
      fail("crc_mismatch", s"frame crc16 at $off")

    // undo inter-channel decorrelation
    var i = 0
    assign match {
      case 8 => // ch0 = left, ch1 = side; right = left - side
        while (i < blockSize) {
          pcm(0)(base + i) = chans(0)(i).toInt
          pcm(1)(base + i) = (chans(0)(i) - chans(1)(i)).toInt
          i += 1
        }
      case 9 => // ch0 = side, ch1 = right; left = right + side
        while (i < blockSize) {
          pcm(0)(base + i) = (chans(1)(i) + chans(0)(i)).toInt
          pcm(1)(base + i) = chans(1)(i).toInt
          i += 1
        }
      case 10 => // ch0 = mid, ch1 = side
        while (i < blockSize) {
          val side = chans(1)(i)
          val m2 = (chans(0)(i) << 1) | (side & 1L)
          pcm(0)(base + i) = ((m2 + side) >> 1).toInt
          pcm(1)(base + i) = ((m2 - side) >> 1).toInt
          i += 1
        }
      case _ =>
        var cc = 0
        while (cc < nCh) {
          i = 0
          while (i < blockSize) { pcm(cc)(base + i) = chans(cc)(i).toInt; i += 1 }
          cc += 1
        }
    }
    (blockSize, crcPos + 2)
  }

  /** UTF-8-style coded frame/sample number (up to 36 bits, 7 bytes). */
  private def readCodedNumber(r: BitReader): Long = {
    val b0 = r.read(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var ones = 0
    while (ones < 8 && ((b0 << ones) & 0x80) != 0) ones += 1
    if (ones < 2 || ones > 7) fail("bad_frame", s"bad coded number lead $b0")
    var v = (b0 & (0x7f >> ones)).toLong
    var i = 1
    while (i < ones) {
      val b = r.read(8).toInt
      if ((b & 0xc0) != 0x80) fail("bad_frame", "bad coded number continuation")
      v = (v << 6) | (b & 0x3f)
      i += 1
    }
    v
  }

  private def decodeSubframe(r: BitReader, n: Int, bps: Int, out: Array[Long]): Unit = {
    if (r.readBit() != 0) fail("bad_frame", "subframe pad bit")
    val typ = r.read(6).toInt
    val wasted =
      if (r.readBit() == 1) r.unary() + 1
      else 0
    val eb = bps - wasted
    if (eb <= 0) fail("bad_frame", s"wasted bits $wasted >= bps $bps")
    typ match {
      case 0 => // CONSTANT
        val v = r.readSigned(eb)
        java.util.Arrays.fill(out, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < n) { out(i) = r.readSigned(eb); i += 1 }
      case t if (t & 0x38) == 0x08 && (t & 0x07) <= 4 => // FIXED, order 0-4
        val order = t & 0x07
        if (order > n) fail("bad_frame", s"fixed order $order > block $n")
        var i = 0
        while (i < order) { out(i) = r.readSigned(eb); i += 1 }
        decodeResidual(r, n, order, out)
        restoreFixed(out, n, order)
      case t if (t & 0x20) != 0 => // LPC, order 1-32
        val order = (t & 0x1f) + 1
        if (order > n) fail("bad_frame", s"lpc order $order > block $n")
        var i = 0
        while (i < order) { out(i) = r.readSigned(eb); i += 1 }
        val precM1 = r.read(4).toInt
        if (precM1 == 15) fail("bad_frame", "invalid lpc precision")
        val prec = precM1 + 1
        val shift = r.readSigned(5).toInt
        if (shift < 0) fail("bad_frame", s"negative lpc shift $shift")
        val coefs = Array.fill(order)(r.readSigned(prec))
        decodeResidual(r, n, order, out)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j) * out(i - 1 - j); j += 1 }
          out(i) += (acc >> shift)
          i += 1
        }
      case t => fail("bad_frame", s"reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < n) { out(i) <<= wasted; i += 1 }
    }
  }

  private def restoreFixed(s: Array[Long], n: Int, order: Int): Unit = {
    var i = order
    order match {
      case 0 => ()
      case 1 => while (i < n) { s(i) += s(i - 1); i += 1 }
      case 2 => while (i < n) { s(i) += 2 * s(i - 1) - s(i - 2); i += 1 }
      case 3 => while (i < n) { s(i) += 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3); i += 1 }
      case 4 => while (i < n) { s(i) += 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4); i += 1 }
      case _ => fail("bad_frame", s"fixed order $order")
    }
  }

  /** Rice/Rice2 partitioned residual into out(order until n). */
  private def decodeResidual(r: BitReader, n: Int, order: Int, out: Array[Long]): Unit = {
    val method = r.read(2).toInt
    if (method > 1) fail("bad_frame", s"residual method $method")
    val pBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 0xf else 0x1f
    val partOrder = r.read(4).toInt
    val parts = 1 << partOrder
    if (n % parts != 0) fail("bad_frame", s"block $n not divisible into $parts partitions")
    val perPart = n >> partOrder
    if (perPart <= order && partOrder > 0 || perPart < order)
      fail("bad_frame", s"partition of $perPart with order $order")
    var idx = order
    var p = 0
    while (p < parts) {
      val count = if (p == 0) perPart - order else perPart
      val param = r.read(pBits).toInt
      if (param == escape) {
        val raw = r.read(5).toInt
        var i = 0
        while (i < count) { out(idx) = if (raw == 0) 0L else r.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.unary().toLong
          val u = (q << param) | r.read(param)
          out(idx) = (u >>> 1) ^ -(u & 1L) // zigzag
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  // ------------------------------------------------------------- write --

  /** Deterministic FLAC encoder: PCM (channels × samples, equal lengths,
    * byte-multiple bps) → a complete stream with real audio frames.
    * Mono encodes independent; stereo encodes mid/side. Per subframe the
    * best fixed order 0-4 (sum-of-abs-residual heuristic) with one Rice
    * partition, CONSTANT for flat runs, VERBATIM when Rice would lose.
    */
  def encode(sampleRate: Int, bps: Int, channels: Array[Array[Int]],
      blockSize: Int = 4096): Array[Byte] = {
    require(channels.nonEmpty && channels.forall(_.length == channels(0).length),
      "equal-length channels")
    require(bps == 8 || bps == 16 || bps == 24, s"byte-multiple bps, got $bps")
    require(blockSize >= 16 && blockSize <= 65536, s"block size $blockSize")
    val nCh = channels.length
    require(nCh == 1 || nCh == 2, s"$nCh channels (mono/stereo encoder)")
    val total = channels(0).length
    require(total > 0, "empty pcm")
    val w = bps / 8
    val md = java.security.MessageDigest.getInstance("MD5")
    val row = new Array[Byte](nCh * w)
    var i = 0
    while (i < total) {
      var c = 0
      while (c < nCh) {
        var v = channels(c)(i); var j = 0
        while (j < w) { row(c * w + j) = (v & 0xff).toByte; v >>= 8; j += 1 }
        c += 1
      }
      md.update(row)
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream(total * nCh * w / 2 + 256)
    val head = Flac.write(sampleRate, nCh, bps, total.toLong, md.digest(),
      vendor = "graft", comments = Nil, paddingBytes = 0,
      blockSizeMin = blockSize, blockSizeMax = blockSize)
    out.write(head, 0, head.length)
    var frameIdx = 0L
    var base = 0
    while (base < total) {
      val n = math.min(blockSize, total - base)
      out.write(encodeFrame(bps, channels, base, n, frameIdx, blockSize))
      base += n
      frameIdx += 1
    }
    out.toByteArray
  }

  private def encodeFrame(bps: Int, channels: Array[Array[Int]], base: Int,
      n: Int, frameIdx: Long, blockSize: Int): Array[Byte] = {
    val nCh = channels.length
    val buf = new java.io.ByteArrayOutputStream(n * nCh * 2)
    val bw = new BitWriter(buf)
    bw.write(0x3ffe, 14) // sync
    bw.writeBit(0) // reserved
    bw.writeBit(0) // fixed blocking
    val bsBits = n match {
      case 192 => 1
      case 576 => 2; case 1152 => 3; case 2304 => 4; case 4608 => 5
      case x if x >= 256 && (x & (x - 1)) == 0 && x <= 32768 =>
        8 + java.lang.Integer.numberOfTrailingZeros(x / 256)
      case x if x <= 256 => 6
      case _ => 7
    }
    bw.write(bsBits.toLong, 4)
    bw.write(0L, 4) // sample rate: from STREAMINFO
    val assign = if (nCh == 2) 10 else 0 // mid/side for stereo
    bw.write(assign.toLong, 4)
    val ssBits = bps match { case 8 => 1; case 16 => 4; case 24 => 6 }
    bw.write(ssBits.toLong, 3)
    bw.writeBit(0) // reserved
    writeCodedNumber(bw, frameIdx)
    if (bsBits == 6) bw.write((n - 1).toLong, 8)
    else if (bsBits == 7) bw.write((n - 1).toLong, 16)
    bw.align()
    val headBytes = buf.toByteArray
    buf.write(crc8(headBytes, 0, headBytes.length))

    val bw2 = new BitWriter(buf)
    if (nCh == 2) {
      val mid = new Array[Long](n)
      val side = new Array[Long](n)
      var i = 0
      while (i < n) {
        val l = channels(0)(base + i).toLong
        val r = channels(1)(base + i).toLong
        mid(i) = (l + r) >> 1
        side(i) = l - r
        i += 1
      }
      encodeSubframe(bw2, mid, n, bps)
      encodeSubframe(bw2, side, n, bps + 1)
    } else {
      val s = new Array[Long](n)
      var i = 0
      while (i < n) { s(i) = channels(0)(base + i).toLong; i += 1 }
      encodeSubframe(bw2, s, n, bps)
    }
    bw2.align()
    val frame = buf.toByteArray
    val c16 = crc16(frame, 0, frame.length)
    buf.write((c16 >> 8) & 0xff)
    buf.write(c16 & 0xff)
    buf.toByteArray
  }

  private def writeCodedNumber(bw: BitWriter, v: Long): Unit = {
    if (v < 0x80) { bw.write(v, 8); return }
    var bytesNeeded = 2
    while (bytesNeeded < 7 && v >= (1L << (6 * (bytesNeeded - 1) + (7 - bytesNeeded)))) bytesNeeded += 1
    val lead = (0xff << (8 - bytesNeeded)) & 0xff | ((v >> (6 * (bytesNeeded - 1))) & (0x7f >> bytesNeeded)).toInt
    bw.write(lead.toLong, 8)
    var i = bytesNeeded - 2
    while (i >= 0) {
      bw.write(0x80L | ((v >> (6 * i)) & 0x3f), 8)
      i -= 1
    }
  }

  private def encodeSubframe(bw: BitWriter, s: Array[Long], n: Int, bps: Int): Unit = {
    bw.writeBit(0)
    // CONSTANT when flat
    var flat = true
    var i = 1
    while (flat && i < n) { flat = s(i) == s(0); i += 1 }
    if (flat) {
      bw.write(0L, 6); bw.writeBit(0)
      bw.write(s(0) & ((1L << bps) - 1), bps)
      return
    }
    // best fixed order 0-4 by sum of |residual|
    val maxOrder = math.min(4, n - 1)
    var bestOrder = 0
    var bestCost = Long.MaxValue
    var o = 0
    while (o <= maxOrder) {
      val res = residuals(s, n, o)
      var cost = 0L
      var k = 0
      while (k < res.length) { cost += math.abs(res(k)); k += 1 }
      if (cost < bestCost) { bestCost = cost; bestOrder = o }
      o += 1
    }
    val res = residuals(s, n, bestOrder)
    // single Rice partition: best parameter 0..14
    var bestP = 0
    var bestBits = Long.MaxValue
    var p = 0
    while (p <= 14) {
      var bits = 0L
      var k = 0
      while (k < res.length) {
        val u = (res(k) << 1) ^ (res(k) >> 63)
        bits += (u >>> p) + 1 + p
        k += 1
      }
      if (bits < bestBits) { bestBits = bits; bestP = p }
      p += 1
    }
    val riceTotal = bestBits + bestOrder.toLong * bps + 6
    if (riceTotal >= n.toLong * bps) {
      bw.write(1L, 6); bw.writeBit(0) // VERBATIM
      var k = 0
      while (k < n) { bw.write(s(k) & ((1L << bps) - 1), bps); k += 1 }
      return
    }
    bw.write((0x08 | bestOrder).toLong, 6); bw.writeBit(0)
    var k = 0
    while (k < bestOrder) { bw.write(s(k) & ((1L << bps) - 1), bps); k += 1 }
    bw.write(0L, 2) // method: rice 4-bit
    bw.write(0L, 4) // partition order 0
    bw.write(bestP.toLong, 4)
    k = 0
    while (k < res.length) {
      val u = (res(k) << 1) ^ (res(k) >> 63)
      var q = u >>> bestP
      while (q > 0) { bw.writeBit(0); q -= 1 }
      bw.writeBit(1)
      bw.write(u & ((1L << bestP) - 1), bestP)
      k += 1
    }
  }

  private def residuals(s: Array[Long], n: Int, order: Int): Array[Long] = {
    val r = new Array[Long](n - order)
    var i = order
    while (i < n) {
      r(i - order) = order match {
        case 0 => s(i)
        case 1 => s(i) - s(i - 1)
        case 2 => s(i) - 2 * s(i - 1) + s(i - 2)
        case 3 => s(i) - 3 * s(i - 1) + 3 * s(i - 2) - s(i - 3)
        case _ => s(i) - 4 * s(i - 1) + 6 * s(i - 2) - 4 * s(i - 3) + s(i - 4)
      }
      i += 1
    }
    r
  }

  /** mm18's per-clip features, identical semantics to [[Wav.features]]:
    * (n, Σ|s|, adjacent-sign-change count, max|s|) over one channel.
    */
  def features(samples: Array[Int]): (Long, Long, Long, Long) =
    Wav.features(samples)
}
