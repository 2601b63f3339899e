package graft.ops

/** Brotli (RFC 7932) shard codec — the one common web-corpus compression
  * the engine lacked: HTTP bodies in crawl archives arrive
  * `Content-Encoding: br`, and `.jsonl.br` dumps are routine. The JVM and
  * Spark's classpath ship no brotli (netty's wrapper needs the absent
  * brotli4j, commons-compress needs the absent org.brotli.dec), so the
  * READER is implemented from scratch from the public RFC: LSB-first
  * bitstream, simple + complex canonical prefix codes with brotli's
  * accumulating 16/17 repeat semantics (§3.5), block switching with the
  * 26-symbol count code (§6), literal context modeling over the four §7.1
  * modes, the RLE + inverse-MTF context maps (§7.3), NPOSTFIX/NDIRECT
  * distance composition with the 4-slot distance ring (§4), the 704-symbol
  * insert-and-copy alphabet (§5), and static-dictionary references with
  * all 121 word transforms (§8). The Appendix-A dictionary (122,784
  * bytes; its SHA-256 is quoted in the RFC and asserted at extraction)
  * and the §7.1 context tables ride as resources extracted from the
  * MIT-licensed reference library's read-only data by
  * tools/make_brotli_fixture.py — same provenance pattern as the VP8
  * tables (tools/extract_vp8_tables.py).
  *
  * No independent JVM brotli exists in this environment, so the WRITER
  * emits uncompressed meta-blocks only (§9.2) — valid brotli that the
  * reference C decoder accepts (validated at fixture-generation time;
  * BrotliSpec pins our writer byte-exact against a python-built,
  * libbrotli-verified stream). The reader is differentially pinned
  * against reference-library streams at qualities 1/5/9/11 and window
  * sizes 10..24 in BrotliSpec.
  *
  * Contract matches [[Zstd]]/[[Xz]]: strict capped reader (output
  * bounded by [[graft.core.Budget.maxInflatedBytes]] BEFORE allocation
  * growth), typed fail-stop refusals (`bad_frame` / `too_large`) the safe
  * scans turn into one error row per rotten shard, and trailing-garbage
  * refusal (brotli has no magic or footer, so a stream must consume its
  * input exactly).
  */
object Brotli {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  // ------------------------------------------------------------ resources

  private def resource(name: String, expectLen: Int): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing resource $name")
    val b = try in.readAllBytes() finally in.close()
    require(b.length == expectLen, s"$name: ${b.length} bytes, want $expectLen")
    b
  }

  /** RFC 7932 Appendix A: the static dictionary. */
  private lazy val dict: Array[Byte] = resource("brotli_dict.bin", 122784)

  /** §7.1 context tables: [4 modes][p1: 256 | p2: 256]; the context ID is
    * lut(mode, p1) | lut(mode+256, p2) for every mode.
    */
  private lazy val ctxLut: Array[Byte] = resource("brotli_ctx.bin", 2048)

  /** §8: word counts per length expressed as size bits (length 4..24). */
  private val dictSizeBits: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7, 8, 7,
    7, 6, 6, 5, 5)

  private val dictOffsets: Array[Int] = Array(
    0, 0, 0, 0, 0, 4096, 9216, 21504, 35840, 44032, 53248, 63488, 74752,
    87040, 93696, 100864, 104704, 106752, 108928, 113536, 115968, 118528,
    119872, 121280, 122016, 122784)

  // §8: the 121 transforms as (prefix, kind, suffix). Kinds: 0 identity,
  // 1..9 omit last N, 10 uppercase first, 11 uppercase all, 12..20 omit
  // first N. Transcribed from the RFC table; cross-checked against the
  // reference library by tools/make_brotli_fixture.py.
  private final case class T(prefix: String, kind: Int, suffix: String)

  /** Test hook: the transform table as (prefix, kind, suffix) with
    * ISO-8859-1-faithful strings, for differential pinning against the
    * table extracted from the reference library.
    */
  private[ops] def transformTable: Seq[(String, Int, String)] =
    transforms.toSeq.map(t => (t.prefix, t.kind, t.suffix))
  private val transforms: Array[T] = Array(
    T("", 0, ""), T("", 0, " "), T(" ", 0, " "), T("", 12, ""),
    T("", 10, " "), T("", 0, " the "), T(" ", 0, ""), T("s ", 0, " "),
    T("", 0, " of "), T("", 10, ""), T("", 0, " and "), T("", 13, ""),
    T("", 1, ""), T(", ", 0, " "), T("", 0, ", "), T(" ", 10, " "),
    T("", 0, " in "), T("", 0, " to "), T("e ", 0, " "), T("", 0, "\""),
    T("", 0, "."), T("", 0, "\">"), T("", 0, "\n"), T("", 3, ""),
    T("", 0, "]"), T("", 0, " for "), T("", 14, ""), T("", 2, ""),
    T("", 0, " a "), T("", 0, " that "), T(" ", 10, ""), T("", 0, ". "),
    T(".", 0, ""), T(" ", 0, ", "), T("", 15, ""), T("", 0, " with "),
    T("", 0, "'"), T("", 0, " from "), T("", 0, " by "), T("", 16, ""),
    T("", 17, ""), T(" the ", 0, ""), T("", 4, ""), T("", 0, ". The "),
    T("", 11, ""), T("", 0, " on "), T("", 0, " as "), T("", 0, " is "),
    T("", 7, ""), T("", 1, "ing "), T("", 0, "\n\t"), T("", 0, ":"),
    T(" ", 0, ". "), T("", 0, "ed "), T("", 20, ""), T("", 18, ""),
    T("", 6, ""), T("", 0, "("), T("", 10, ", "), T("", 8, ""),
    T("", 0, " at "), T("", 0, "ly "), T(" the ", 0, " of "), T("", 5, ""),
    T("", 9, ""), T(" ", 10, ", "), T("", 10, "\""), T(".", 0, "("),
    T("", 11, " "), T("", 10, "\">"), T("", 0, "=\""), T(" ", 0, "."),
    T(".com/", 0, ""), T(" the ", 0, " of the "), T("", 10, "'"),
    T("", 0, ". This "), T("", 0, ","), T(".", 0, " "), T("", 10, "("),
    T("", 10, "."), T("", 0, " not "), T(" ", 0, "=\""), T("", 0, "er "),
    T(" ", 11, " "), T("", 0, "al "), T(" ", 11, ""), T("", 0, "='"),
    T("", 11, "\""), T("", 10, ". "), T(" ", 0, "("), T("", 0, "ful "),
    T(" ", 10, ". "), T("", 0, "ive "), T("", 0, "less "), T("", 11, "'"),
    T("", 0, "est "), T(" ", 10, "."), T("", 11, "\">"), T(" ", 0, "='"),
    T("", 10, ","), T("", 0, "ize "), T("", 11, "."), T("\u00c2\u00a0", 0, ""),
    T(" ", 0, ","), T("", 10, "=\""), T("", 11, "=\""), T("", 0, "ous "),
    T("", 11, ", "), T("", 10, "='"), T(" ", 10, ","), T(" ", 11, "=\""),
    T(" ", 11, ", "), T("", 11, ","), T("", 11, "("), T("", 11, ". "),
    T(" ", 11, "."), T("", 11, "='"), T(" ", 11, ". "), T(" ", 10, "=\""),
    T(" ", 11, "='"), T(" ", 10, "='"))

  // ------------------------------------------------------- command tables

  // §5: insert length codes (extra bits, offset)
  private val insExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val insOffset = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26,
    34, 50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  // §5: copy length codes
  private val cpExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val cpOffset = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18,
    22, 30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  // §5: insert-and-copy symbol → (insert range base, copy range base);
  // rows 0,1 (symbols < 128) additionally imply distance code 0
  private val insRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val cpRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)
  // §6: block count codes (offset, extra bits), 26 symbols
  private val blkOffset = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81,
    97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337,
    6385, 14577)
  private val blkExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5,
    5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  // ------------------------------------------------------------ bitstream

  private final class BitReader(b: Array[Byte]) {
    // bit position in Long: a shard >= 256 MiB has > 2^31 bits, and an
    // Int position would wrap past the bounds guard
    private var pos = 0L
    private val nbits = b.length.toLong * 8

    def bitPos: Long = pos

    def read(n: Int): Int = {
      if (pos + n > nbits) bad("truncated stream")
      var v = 0
      var i = 0
      while (i < n) {
        val p = pos + i
        v |= (((b((p >> 3).toInt) >> (p & 7).toInt) & 1) << i)
        i += 1
      }
      pos += n
      v
    }

    def readBit(): Int = read(1)

    /** Peek up to n bits without consuming (zero-padded past the end). */
    def peek(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val p = pos + i
        if (p < nbits) v |= (((b((p >> 3).toInt) >> (p & 7).toInt) & 1) << i)
        i += 1
      }
      v
    }

    def skip(n: Int): Unit = {
      if (pos + n > nbits) bad("truncated stream")
      pos += n
    }

    /** Byte-align; the discarded bits must be zero (§9.1). */
    def align(): Unit = {
      while ((pos & 7) != 0) {
        if (readBit() != 0) bad("nonzero padding bits")
      }
    }

    def bytePos: Int = {
      require((pos & 7) == 0)
      (pos >> 3).toInt
    }

    def skipBytes(n: Int): Unit = {
      if (pos + n.toLong * 8 > nbits) bad("truncated metadata skip")
      pos += n.toLong * 8
    }

    def atEndByteExact: Boolean = {
      // after the last meta-block: remaining bits of the final byte must
      // be zero and no further bytes may follow
      val rem = nbits - pos
      if (rem >= 8) false
      else (pos until nbits).forall(p =>
        ((b((p >> 3).toInt) >> (p & 7).toInt) & 1) == 0)
    }
  }

  // ---------------------------------------------------------- prefix codes

  /** Canonical prefix code decoder: first-code walk over per-length
    * symbol buckets. Symbols are supplied in canonical order (sorted by
    * (length, tie-order) by the builders below).
    */
  private final class Prefix(val counts: Array[Int], val symbols: Array[Int]) {
    // counts(len) for len 1..15; symbols in canonical order
    val isZeroBit: Boolean = symbols.length == 1

    def decode(br: BitReader): Int = {
      if (isZeroBit) return symbols(0)
      var code = 0
      var first = 0
      var index = 0
      var len = 1
      while (len <= 15) {
        code = (code << 1) | br.readBit()
        val n = counts(len)
        if (code - first < n) return symbols(index + code - first)
        index += n
        first = (first + n) << 1
        len += 1
      }
      bad("prefix code overrun")
    }
  }

  private def prefixFromLengths(lengths: Array[Int]): Prefix = {
    val counts = new Array[Int](16)
    var nsym = 0
    var single = -1
    var i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l < 0 || l > 15) bad(s"code length $l")
      if (l > 0) { counts(l) += 1; nsym += 1; single = i }
      i += 1
    }
    if (nsym == 0) bad("empty prefix code")
    if (nsym == 1) return new Prefix(counts, Array(single))
    // completeness: sum 2^(15-len) must be exactly 2^15
    var space = 0L
    var l = 1
    while (l <= 15) { space += counts(l).toLong << (15 - l); l += 1 }
    if (space != (1L << 15)) bad("prefix code not complete")
    val offsets = new Array[Int](16)
    var acc = 0
    l = 1
    while (l <= 15) { offsets(l) = acc; acc += counts(l); l += 1 }
    val syms = new Array[Int](nsym)
    i = 0
    while (i < lengths.length) {
      if (lengths(i) > 0) { syms(offsets(lengths(i))) = i; offsets(lengths(i)) += 1 }
      i += 1
    }
    new Prefix(counts, syms)
  }

  /** §3.5: the fixed code for the code-length code lengths — peek 4 bits
    * LSB-first, (value, nbits) lookup.
    */
  private val clcValue = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)
  private val clcBits = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)
  private val clcOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10,
    11, 12, 13, 14, 15)

  /** §3.4/3.5: one prefix code over `alphabet` symbols. */
  private def readPrefixCode(br: BitReader, alphabet: Int): Prefix = {
    val hskip = br.read(2)
    if (hskip == 1) {
      // simple code: 1..4 distinct symbols
      val nsym = br.read(2) + 1
      var abits = 0
      while ((1 << abits) < alphabet) abits += 1
      val syms = Array.fill(nsym)(br.read(abits))
      var i = 0
      while (i < nsym) {
        if (syms(i) >= alphabet) bad("simple code symbol out of range")
        var j = i + 1
        while (j < nsym) {
          if (syms(i) == syms(j)) bad("duplicate simple code symbol")
          j += 1
        }
        i += 1
      }
      val lengths = new Array[Int](alphabet)
      nsym match {
        case 1 => lengths(syms(0)) = 15 // marker; handled as single-symbol
        case 2 =>
          java.util.Arrays.sort(syms)
          lengths(syms(0)) = 1; lengths(syms(1)) = 1
        case 3 =>
          if (syms(1) > syms(2)) { val t = syms(1); syms(1) = syms(2); syms(2) = t }
          lengths(syms(0)) = 1; lengths(syms(1)) = 2; lengths(syms(2)) = 2
        case _ =>
          val treeSelect = br.readBit() == 1
          if (treeSelect) {
            if (syms(2) > syms(3)) { val t = syms(2); syms(2) = syms(3); syms(3) = t }
            lengths(syms(0)) = 1; lengths(syms(1)) = 2
            lengths(syms(2)) = 3; lengths(syms(3)) = 3
          } else {
            java.util.Arrays.sort(syms)
            syms.foreach(s => lengths(s) = 2)
          }
      }
      if (nsym == 1) {
        val counts = new Array[Int](16)
        return new Prefix(counts, Array(syms(0)))
      }
      prefixFromLengths(lengths)
    } else {
      // complex code: code lengths for the code-length code, then symbol
      // code lengths with brotli's accumulating repeat codes
      val clLengths = new Array[Int](18)
      var space = 32 // in 1/32 units of the 5-bit-max space
      var numCl = 0
      var i = hskip
      while (i < 18 && space > 0) {
        val p = br.peek(4) & 15
        val v = clcValue(p)
        br.skip(clcBits(p))
        clLengths(clcOrder(i)) = v
        if (v != 0) { space -= 32 >> v; numCl += 1 }
        i += 1
      }
      if (space < 0) bad("code-length code oversubscribed")
      if (numCl == 0) bad("no code-length codes")
      if (numCl > 1 && space != 0) bad("code-length code incomplete")
      val clCode = prefixFromLengths(
        if (numCl == 1) {
          val l = new Array[Int](18)
          var k = 0
          var s = -1
          while (k < 18) { if (clLengths(k) != 0) s = k; k += 1 }
          l(s) = 1
          // single-symbol code-length code: 0-bit decode
          val counts = new Array[Int](16)
          return readSymbolLengths(br, alphabet, new Prefix(counts, Array(s)))
        } else clLengths)
      readSymbolLengths(br, alphabet, clCode)
    }
  }

  private def readSymbolLengths(br: BitReader, alphabet: Int,
      clCode: Prefix): Prefix = {
    val lengths = new Array[Int](alphabet)
    var symbol = 0
    var space = 1 << 15
    var prevLen = 8
    var repeatLen = 0 // the length being repeated by the active 16/17 run
    var repeat = 0
    while (symbol < alphabet && space > 0) {
      val cl = clCode.decode(br)
      if (cl < 16) {
        lengths(symbol) = cl
        symbol += 1
        if (cl != 0) {
          prevLen = cl
          space -= (1 << 15) >> cl
        }
        repeat = 0
        repeatLen = 0
      } else {
        val extraBits = cl - 14 // 2 for 16, 3 for 17
        val newLen = if (cl == 16) prevLen else 0
        if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
        val oldRepeat = repeat
        if (repeat > 0) repeat = (repeat - 2) << extraBits
        repeat += br.read(extraBits) + 3
        val delta = repeat - oldRepeat
        if (symbol + delta > alphabet) bad("repeat past alphabet")
        var k = 0
        while (k < delta) { lengths(symbol) = repeatLen; symbol += 1; k += 1 }
        if (repeatLen != 0) {
          prevLen = repeatLen
          space -= delta * ((1 << 15) >> repeatLen)
        }
      }
    }
    if (space < 0) bad("prefix code oversubscribed")
    if (space > 0) {
      // allowed only when exactly one symbol has a nonzero length
      var nz = 0
      var i = 0
      while (i < alphabet) { if (lengths(i) != 0) nz += 1; i += 1 }
      if (nz != 1) bad("prefix code incomplete")
    }
    prefixFromLengths(lengths)
  }

  // --------------------------------------------------------- context maps

  private def readContextMap(br: BitReader, size: Int,
      ntrees: Int): Array[Int] = {
    val map = new Array[Int](size)
    if (ntrees == 1) return map
    val rlemax = if (br.readBit() == 1) br.read(4) + 1 else 0
    val code = readPrefixCode(br, ntrees + rlemax)
    var i = 0
    while (i < size) {
      val sym = code.decode(br)
      if (sym == 0) { map(i) = 0; i += 1 }
      else if (sym <= rlemax) {
        val reps = (1 << sym) + br.read(sym)
        if (i + reps > size) bad("context-map run past size")
        var k = 0
        while (k < reps) { map(i) = 0; i += 1; k += 1 }
      } else {
        map(i) = sym - rlemax
        i += 1
      }
    }
    if (br.readBit() == 1) {
      // inverse move-to-front
      val mtf = Array.tabulate(256)(identity)
      i = 0
      while (i < size) {
        val idx = map(i)
        val v = mtf(idx)
        map(i) = v
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        i += 1
      }
    }
    var k = 0
    while (k < size) {
      if (map(k) >= ntrees) bad("context map entry out of range")
      k += 1
    }
    map
  }

  // ------------------------------------------------------------- decoding

  /** Growable output with random access for back-references. */
  private final class Out(cap: Long) {
    var buf = new Array[Byte](1 << 16)
    var len = 0

    def ensure(n: Int): Unit = {
      if (len.toLong + n > cap)
        throw new Refusal("too_large", s"brotli inflates past $cap bytes")
      // a JVM array cannot exceed ~Int.MaxValue: with a raised budget the
      // refusal must still be typed, not an OOM/AIOOBE past the clamp
      if (len.toLong + n > Int.MaxValue - 8)
        throw new Refusal("too_large", "brotli inflates past the 2 GiB array bound")
      if (len + n > buf.length) {
        var nl = buf.length.toLong * 2
        while (nl < len.toLong + n) nl *= 2
        buf = java.util.Arrays.copyOf(buf, math.min(nl, Int.MaxValue.toLong - 8).toInt)
      }
    }

    def append(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n)
      System.arraycopy(src, off, buf, len, n)
      len += n
    }

    /** Overlapping self-copy from distance d. */
    def copyBack(d: Int, n: Int): Unit = {
      ensure(n)
      var i = 0
      while (i < n) { buf(len + i) = buf(len - d + i); i += 1 }
      len += n
    }

    def result: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  private def contextId(mode: Int, p1: Int, p2: Int): Int =
    (ctxLut(mode * 512 + p1) & 0xff) | (ctxLut(mode * 512 + 256 + p2) & 0xff)

  /** §8: copy a dictionary word with transform `tId` into `out`. Returns
    * the transformed length.
    */
  private def appendDictWord(out: Out, copyLen: Int, wordId: Int,
      tId: Int): Int = {
    val t = transforms(tId)
    val base = dictOffsets(copyLen) + copyLen * wordId
    var start = 0
    var end = copyLen
    t.kind match {
      case 0 => ()
      case k if k <= 9 => end = math.max(0, copyLen - k) // omit last
      case 10 | 11 => ()
      case k => start = math.min(copyLen, k - 11) // omit first
    }
    val word = java.util.Arrays.copyOfRange(dict, base + start, base + end)
    if (t.kind == 10 || t.kind == 11) {
      // §8 "ferment": UTF-8-aware uppercasing
      var i = 0
      while (i < word.length) {
        val c = word(i) & 0xff
        if (c < 192) {
          if (c >= 'a' && c <= 'z') word(i) = (c ^ 32).toByte
          i += 1
        } else if (c < 224) {
          if (i + 1 < word.length) word(i + 1) = (word(i + 1) ^ 32).toByte
          i += 2
        } else {
          if (i + 2 < word.length) word(i + 2) = (word(i + 2) ^ 5).toByte
          i += 3
        }
        if (t.kind == 10) i = word.length // first only
      }
    }
    val pfx = t.prefix.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val sfx = t.suffix.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    out.append(pfx, 0, pfx.length)
    out.append(word, 0, word.length)
    out.append(sfx, 0, sfx.length)
    pfx.length + word.length + sfx.length
  }

  def decompressSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompress(bytes), "bad_frame")

  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.isEmpty) bad("empty input")
    val br = new BitReader(bytes)
    val out = new Out(graft.core.Budget.maxInflatedBytes)

    // §9.1 stream header: window bits
    val wbits =
      if (br.readBit() == 0) 16
      else {
        val n = br.read(3)
        if (n != 0) 17 + n
        else {
          val m = br.read(3)
          if (m == 0) 17
          else if (m == 1) bad("reserved window value")
          else 8 + m
        }
      }
    val window = (1 << wbits) - 16

    // distance ring in last-first order: §4's init values 16,15,11,4 are
    // listed oldest-first, so "last distance" starts at 4
    val ring = Array(4, 11, 15, 16)
    def pushRing(d: Int): Unit = {
      ring(3) = ring(2); ring(2) = ring(1); ring(1) = ring(0); ring(0) = d
    }
    var p1 = 0
    var p2 = 0

    var isLast = false
    while (!isLast) {
      isLast = br.readBit() == 1
      if (isLast && br.readBit() == 1) {
        // ISLASTEMPTY
      } else {
        val mnibCode = br.read(2)
        if (mnibCode == 3) {
          // metadata block (§9.2): reserved bit, skip length, byte-align.
          // ISLAST is legal here — the §9.2 grammar permits ISLAST=1,
          // ISLASTEMPTY=0, MNIBBLES=0, and libbrotli accepts such streams
          // (round-15 differential mutant parity caught our old refusal)
          if (br.readBit() != 0) bad("reserved metadata bit set")
          val skipBytes = br.read(2)
          val skipLen =
            if (skipBytes == 0) 0
            else {
              var v = 0
              var i = 0
              while (i < skipBytes) { v |= br.read(8) << (8 * i); i += 1 }
              if (skipBytes > 1 && (v >> (8 * (skipBytes - 1))) == 0)
                bad("non-minimal metadata length")
              v + 1
            }
          br.align()
          br.skipBytes(skipLen)
        } else {
          val nibbles = 4 + mnibCode
          var mlen = 0
          var i = 0
          while (i < nibbles) { mlen |= br.read(4) << (4 * i); i += 1 }
          if (nibbles > 4 && (mlen >> (4 * (nibbles - 1))) == 0)
            bad("non-minimal MLEN")
          mlen += 1
          val uncompressed = !isLast && br.readBit() == 1
          if (uncompressed) {
            br.align()
            val at = br.bytePos
            if (at + mlen > bytes.length) bad("truncated uncompressed block")
            out.append(bytes, at, mlen)
            br.skipBytes(mlen)
            if (mlen >= 2) { p1 = out.buf(out.len - 1) & 0xff; p2 = out.buf(out.len - 2) & 0xff }
            else if (mlen == 1) { p2 = p1; p1 = out.buf(out.len - 1) & 0xff }
          } else {
            decodeCompressedBlock(br, out, mlen, window, ring, pushRing,
              p1Get = () => p1, p2Get = () => p2,
              pSet = (a, b) => { p1 = a; p2 = b })
          }
        }
      }
    }
    if (!br.atEndByteExact) bad("trailing garbage after final meta-block")
    out.result
  }

  // one compressed meta-block (§9.2 header + §9.3 data)
  private def decodeCompressedBlock(br: BitReader, out: Out, mlen: Int,
      window: Int, ring: Array[Int], pushRing: Int => Unit,
      p1Get: () => Int, p2Get: () => Int, pSet: (Int, Int) => Unit): Unit = {

    def varLenUint8(): Int =
      if (br.readBit() == 0) 0
      else {
        val n = br.read(3)
        if (n == 0) 1 else br.read(n) + (1 << n)
      }

    def blockCount(code: Prefix): Int = {
      val sym = code.decode(br)
      blkOffset(sym) + br.read(blkExtra(sym))
    }

    // per-category block machinery: (nbltypes, typeCode, countCode)
    val nbl = new Array[Int](3)
    val typeCodes = new Array[Prefix](3)
    val countCodes = new Array[Prefix](3)
    val btype = new Array[Int](3)
    val btypePrev = new Array[Int](3)
    val bcount = new Array[Int](3)
    var cat = 0
    while (cat < 3) {
      nbl(cat) = varLenUint8() + 1
      btype(cat) = 0
      btypePrev(cat) = 1
      if (nbl(cat) >= 2) {
        typeCodes(cat) = readPrefixCode(br, nbl(cat) + 2)
        countCodes(cat) = readPrefixCode(br, 26)
        bcount(cat) = blockCount(countCodes(cat))
      } else bcount(cat) = Int.MaxValue
      cat += 1
    }

    def switchBlock(c: Int): Unit = {
      val sym = typeCodes(c).decode(br)
      val t =
        if (sym == 0) btypePrev(c)
        else if (sym == 1) (btype(c) + 1) % nbl(c)
        else sym - 2
      btypePrev(c) = btype(c)
      btype(c) = t
      bcount(c) = blockCount(countCodes(c))
      if (bcount(c) == 0) bad("zero block count")
    }

    val npostfix = br.read(2)
    val ndirect = br.read(4) << npostfix
    val postfixMask = (1 << npostfix) - 1

    val ctxModes = Array.fill(nbl(0))(br.read(2))

    val ntreesL = varLenUint8() + 1
    val litMap = readContextMap(br, 64 * nbl(0), ntreesL)
    val ntreesD = varLenUint8() + 1
    val distMap = readContextMap(br, 4 * nbl(2), ntreesD)

    val litCodes = Array.fill(ntreesL)(readPrefixCode(br, 256))
    val cmdCodes = Array.fill(nbl(1))(readPrefixCode(br, 704))
    val distAlphabet = 16 + ndirect + (48 << npostfix)
    val distCodes = Array.fill(ntreesD)(readPrefixCode(br, distAlphabet))

    var p1 = p1Get()
    var p2 = p2Get()
    var mpos = 0
    while (mpos < mlen) {
      if (bcount(1) == 0) switchBlock(1)
      bcount(1) -= 1
      val cmd = cmdCodes(btype(1)).decode(br)
      val rangeIdx = cmd >> 6
      val implicitDist0 = rangeIdx < 2
      val lut = if (implicitDist0) rangeIdx else rangeIdx - 2
      val insCode = insRangeLut(lut) + ((cmd >> 3) & 7)
      val cpCode = cpRangeLut(lut) + (cmd & 7)
      val insLen = insOffset(insCode) + br.read(insExtra(insCode))
      val cpLen = cpOffset(cpCode) + br.read(cpExtra(cpCode))

      var i = 0
      while (i < insLen) {
        if (mpos == mlen) bad("insert past meta-block length")
        if (bcount(0) == 0) switchBlock(0)
        bcount(0) -= 1
        val ctx = contextId(ctxModes(btype(0)), p1, p2)
        val lit = litCodes(litMap(btype(0) * 64 + ctx)).decode(br)
        out.append(lit)
        p2 = p1
        p1 = lit
        mpos += 1
        i += 1
      }
      if (mpos < mlen) {
        var dcodeIsZero = implicitDist0
        val dist: Int =
          if (implicitDist0) ring(0)
          else {
            if (bcount(2) == 0) switchBlock(2)
            bcount(2) -= 1
            val ctx = math.min(cpLen, 5) - 2
            val dsym = distCodes(distMap(btype(2) * 4 + ctx)).decode(br)
            dcodeIsZero = dsym == 0
            if (dsym < 16) {
              // §4 short codes: 0-3 ring slots, 4-9 last±{1,2,3},
              // 10-15 second-to-last±{1,2,3}
              val d =
                if (dsym < 4) ring(dsym)
                else {
                  val which = if (dsym < 10) 0 else 1
                  val k = if (dsym < 10) dsym - 4 else dsym - 10
                  val delta = (k / 2 + 1) * (if (k % 2 == 0) -1 else 1)
                  ring(which) + delta
                }
              if (d <= 0) bad("non-positive short-code distance")
              d
            } else if (dsym < 16 + ndirect) {
              dsym - 16 + 1
            } else {
              val nd = dsym - 16 - ndirect
              val nbits = 1 + (nd >> (npostfix + 1))
              if (nbits > 24) bad("distance extra bits")
              val extra = br.read(nbits)
              val hcode = nd >> npostfix
              val lcode = nd & postfixMask
              val offset = ((2 + (hcode & 1)) << nbits) - 4
              (((offset + extra) << npostfix) + lcode + ndirect + 1)
            }
          }
        val maxDist = math.min(window.toLong, out.len.toLong).toInt
        if (dist <= maxDist) {
          if (mpos + cpLen > mlen) bad("copy past meta-block length")
          out.copyBack(dist, cpLen)
          if (!dcodeIsZero) pushRing(dist)
          mpos += cpLen
          p1 = out.buf(out.len - 1) & 0xff
          p2 = if (out.len >= 2) out.buf(out.len - 2) & 0xff else 0
        } else {
          // static dictionary reference
          if (cpLen < 4 || cpLen > 24) bad(s"dictionary copy length $cpLen")
          val sb = dictSizeBits(cpLen)
          if (sb == 0) bad("no dictionary words of this length")
          val idx = dist - maxDist - 1
          val wordId = idx & ((1 << sb) - 1)
          val tId = idx >>> sb
          if (tId > 120) bad(s"transform $tId out of range")
          val n = appendDictWord(out, cpLen, wordId, tId)
          if (n > 0) {
            mpos += n
            if (mpos > mlen) bad("dictionary word past meta-block length")
            p1 = out.buf(out.len - 1) & 0xff
            p2 = if (out.len >= 2) out.buf(out.len - 2) & 0xff else 0
          }
        }
      }
      // when the insert part filled the meta-block exactly, the copy
      // part is skipped (§9.3)
    }
    pSet(p1, p2)
  }

  // -------------------------------------------------------------- writer

  /** Uncompressed-meta-block brotli stream (§9.2): WBITS=16, then per
    * <= 65536-byte chunk ISLAST=0 | MNIBBLES=4 | MLEN-1 | ISUNCOMPRESSED,
    * closed by an ISLASTEMPTY block. Byte-exact to the python
    * construction libbrotli validates at fixture-generation time.
    */
  def compress(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length + bytes.length / 65536 * 4 + 8)
    var cur = 0
    var ncur = 0
    def emit(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << ncur
        ncur += 1
        if (ncur == 8) { out.write(cur); cur = 0; ncur = 0 }
        i += 1
      }
    }
    def alignFlush(): Unit = if (ncur > 0) { out.write(cur); cur = 0; ncur = 0 }

    emit(0, 1) // WBITS = 16
    var pos = 0
    while (pos < bytes.length) {
      val chunk = math.min(65536, bytes.length - pos)
      emit(0, 1)          // ISLAST
      emit(0, 2)          // MNIBBLES → 4
      emit(chunk - 1, 16) // MLEN - 1
      emit(1, 1)          // ISUNCOMPRESSED
      alignFlush()
      out.write(bytes, pos, chunk)
      pos += chunk
    }
    emit(1, 1) // ISLAST
    emit(1, 1) // ISLASTEMPTY
    alignFlush()
    out.toByteArray
  }
}
