package graft.ops

/** bzip2 shard compression, hand-rolled both directions from the public
  * format (the de-facto spec: the bzip2 manual plus Joe Tsai's format
  * documentation) — the container long-lived public dumps actually ship
  * (Wikipedia database dumps are `.xml.bz2` / `.jsonl.bz2`; pbzip2 emits
  * CONCATENATED streams, which readers that stop at the first footer
  * silently truncate — same failure class the gzip member walk in
  * [[Zstd.decompressGzip]] exists to refuse).
  *
  * The JDK has no bzip2, so unlike the zstd/LZ4/gzip layers this codec is
  * implemented from scratch: RLE1 → Burrows-Wheeler (rotation sort via
  * prefix doubling) → MTF → zero-run RLE2 (RUNA/RUNB bijective base-2) →
  * canonical Huffman over 2..6 group tables, all on an MSB-first
  * bitstream. Independence is pinned two ways by Bzip2Spec: fixtures
  * compressed by CPython's `bz2` (real libbz2) decode bit-exact, and
  * commons-compress (the second independent implementation, shipped in
  * Spark's own classpath) round-trips OUR frames.
  *
  * Contract matches [[Zstd]]: deterministic writer (fixed level, single
  * Huffman table pair, run-boundary-aligned blocks), strict capped reader
  * (RLE1's 255:4 expansion on top of Huffman makes inflate bombs cheap —
  * output is bounded by [[graft.core.Budget.maxInflatedBytes]] BEFORE any
  * oversized allocation), and typed fail-stop refusals (`bad_magic` /
  * `bad_frame` / `too_large` / `unsupported`) the safe scans turn into one
  * error row per rotten shard. The deprecated `randomized` bit (emitted by
  * no encoder since the 1990s) DECODES per the reference's
  * BZ_RAND_UPD_MASK (round 15 — libbz2 still accepts such blocks, so scan
  * parity requires it; pinned against libbz2 on a synthesized randomized
  * stream by Bzip2Spec).
  */
object Bzip2 {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  def isBzip2(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'B' && bytes(1) == 'Z' &&
      bytes(2) == 'h' && bytes(3) >= '1' && bytes(3) <= '9'

  /** bzip2's randomization table (BZ2_rNums, randtable.c — public
    * bzip2-1.0 content, extracted from the system libbz2 by
    * tools/extract_bz2_randtable.py, SHA-256 asserted).
    */
  private lazy val RandTable: Array[Int] = {
    val in = getClass.getResourceAsStream("/graft/bz2_randtable.tsv")
    require(in != null, "missing resource bz2_randtable.tsv")
    val bytes = in.readAllBytes()
    in.close()
    val got = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
    require(got == "61c009283fd9fd400102cfbcb25b0e59606d633c18c27adc233c1887e46abe77",
      s"bz2_randtable.tsv sha256 $got")
    val t = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
      .split('\n').filter(_.nonEmpty).map(_.toInt)
    require(t.length == 512 && t(0) == 619)
    t
  }

  // ----------------------------------------------------------------- CRC
  // CRC-32/BZIP2: poly 0x04C11DB7, init 0xFFFFFFFF, NOT reflected,
  // xorout 0xFFFFFFFF — the mirror image of the zlib CRC gzip uses.
  private val crcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) { c = (c << 1) ^ (if (c < 0) 0x04c11db7 else 0); k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    private var c = 0xffffffff
    def update(b: Int): Unit = c = (c << 8) ^ crcTable(((c >>> 24) ^ b) & 0xff)
    def update(bytes: Array[Byte], off: Int, len: Int): Unit = {
      var i = off
      val end = off + len
      while (i < end) { update(bytes(i) & 0xff); i += 1 }
    }
    def value: Int = ~c
  }

  // ------------------------------------------------------------ bit I/O
  /** MSB-first reader over `bytes` starting at byte offset `base` — the
    * offset spares the per-stream tail copy a pbzip2 file with hundreds
    * of concatenated streams would otherwise pay (O(streams × remaining)
    * allocation).
    */
  private final class BitReader(bytes: Array[Byte], base: Int = 0) {
    private var bitPos = 0L
    private val totalBits = (bytes.length.toLong - base) * 8

    def read(n: Int): Int = {
      if (bitPos + n > totalBits) bad("truncated bitstream")
      var v = 0
      var k = 0
      while (k < n) {
        val byteIdx = base + (bitPos >> 3).toInt
        val bit = (bytes(byteIdx) >> (7 - (bitPos & 7).toInt)) & 1
        v = (v << 1) | bit
        bitPos += 1
        k += 1
      }
      v
    }

    def readBit(): Int = read(1)

    def read48(): Long = (read(24).toLong << 24) | (read(24).toLong & 0xffffff)

    def alignByte(): Unit = bitPos = (bitPos + 7) & ~7L

    def bytePos: Int = ((bitPos + 7) >> 3).toInt

    def atEnd: Boolean = bitPos >= totalBits
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream(1 << 14)
    private var cur = 0
    private var nBits = 0

    def write(v: Int, n: Int): Unit = {
      var k = n - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >> k) & 1)
        nBits += 1
        if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
        k -= 1
      }
    }

    def write48(v: Long): Unit = {
      write(((v >>> 24) & 0xffffff).toInt, 24)
      write((v & 0xffffff).toInt, 24)
    }

    /** zero-pad to a byte boundary and return the bytes. */
    def finish(): Array[Byte] = {
      if (nBits > 0) { out.write(cur << (8 - nBits)); cur = 0; nBits = 0 }
      out.toByteArray
    }
  }

  private val BlockMagic = 0x314159265359L
  private val FooterMagic = 0x177245385090L
  private val MaxHuffLen = 20
  private val GroupSize = 50
  private val RunA = 0
  private val RunB = 1

  // ------------------------------------------------------------- decode

  /** Strict multi-stream decompress (concatenated `BZh` streams decode as
    * one payload, matching libbz2 / python `bz2.decompress` / pbzip2).
    */
  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isBzip2(bytes)) throw new Refusal("bad_magic", "not a bzip2 stream")
    val out = new java.io.ByteArrayOutputStream(math.min(bytes.length.toLong * 4, 1 << 20).toInt)
    var off = 0
    while (off < bytes.length) {
      if (bytes.length - off < 4 ||
          bytes(off) != 'B' || bytes(off + 1) != 'Z' || bytes(off + 2) != 'h' ||
          bytes(off + 3) < '1' || bytes(off + 3) > '9')
        bad("trailing garbage after stream footer")
      off += decodeStream(bytes, off, out)
    }
    out.toByteArray
  }

  def decompressSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompress(bytes))

  /** Decode one stream starting at `off`; returns its byte length. */
  private def decodeStream(bytes: Array[Byte], off: Int,
      out: java.io.ByteArrayOutputStream): Int = {
    val level = bytes(off + 3) - '0'
    val blockLimit = level * 100000
    val br = new BitReader(bytes, off + 4)
    var combined = 0
    var done = false
    while (!done) {
      val magic = br.read48()
      if (magic == FooterMagic) {
        val storedCombined = br.read(16) << 16 | br.read(16)
        if (storedCombined != combined) bad("stream combined CRC mismatch")
        br.alignByte()
        done = true
      } else if (magic == BlockMagic) {
        val crc = decodeBlock(br, blockLimit, out)
        combined = ((combined << 1) | (combined >>> 31)) ^ crc
      } else bad(f"bad block magic $magic%012x")
    }
    4 + br.bytePos
  }

  /** Decode one block into `out`; returns the block CRC (verified). */
  private def decodeBlock(br: BitReader, blockLimit: Int,
      out: java.io.ByteArrayOutputStream): Int = {
    val storedCrc = br.read(16) << 16 | br.read(16)
    // deprecated `randomized` bit (bzip2 < 0.9.0): the reference library
    // still DECODES such blocks (decompress.c BZ_RAND_UPD_MASK), so a
    // scan must too — every byte fetched from the inverse-BWT walk is
    // XOR-1-flipped at the positions BZ2_rNums dictates (round 15;
    // previously a typed refusal, fixed by differential parity)
    val randomized = br.readBit() == 1
    val origPtr = br.read(24)

    // symbol map: 16-bit coarse map, then 16 bits per present range
    val used = new Array[Boolean](256)
    val coarse = br.read(16)
    var nUsed = 0
    var i = 0
    while (i < 16) {
      if (((coarse >> (15 - i)) & 1) == 1) {
        val fine = br.read(16)
        var j = 0
        while (j < 16) {
          if (((fine >> (15 - j)) & 1) == 1) { used(i * 16 + j) = true; nUsed += 1 }
          j += 1
        }
      }
      i += 1
    }
    if (nUsed == 0) bad("empty symbol map")
    val alphaSize = nUsed + 2
    val eob = alphaSize - 1

    val nGroups = br.read(3)
    if (nGroups < 2 || nGroups > 6) bad(s"nGroups $nGroups")
    val nSelectors = br.read(15)
    if (nSelectors < 1 || nSelectors > 18002) bad(s"nSelectors $nSelectors")

    // selectors, MTF-coded over the group list
    val selectors = new Array[Int](nSelectors)
    val groupMtf = Array.tabulate(nGroups)(identity)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (br.readBit() == 1) {
        j += 1
        if (j >= nGroups) bad("selector out of range")
      }
      val v = groupMtf(j)
      while (j > 0) { groupMtf(j) = groupMtf(j - 1); j -= 1 }
      groupMtf(0) = v
      selectors(i) = v
      i += 1
    }

    // per-group Huffman code lengths (delta-coded)
    val lengths = Array.ofDim[Int](nGroups, alphaSize)
    var g = 0
    while (g < nGroups) {
      var len = br.read(5)
      var s = 0
      while (s < alphaSize) {
        var spin = 0
        while (br.readBit() == 1) {
          if (br.readBit() == 0) len += 1 else len -= 1
          if (len < 1 || len > MaxHuffLen) bad("code length out of range")
          spin += 1
          if (spin > 2 * MaxHuffLen) bad("code length delta loop")
        }
        if (len < 1 || len > MaxHuffLen) bad("code length out of range")
        lengths(g)(s) = len
        s += 1
      }
      g += 1
    }

    // decode tables: perm (symbols by (len, sym)), base, limit per group
    val perm = Array.ofDim[Int](nGroups, alphaSize)
    val limit = Array.ofDim[Int](nGroups, MaxHuffLen + 2)
    val base = Array.ofDim[Int](nGroups, MaxHuffLen + 2)
    val minLens = new Array[Int](nGroups)
    g = 0
    while (g < nGroups) {
      val ls = lengths(g)
      var minLen = MaxHuffLen
      var maxLen = 1
      var s = 0
      while (s < alphaSize) {
        if (ls(s) < minLen) minLen = ls(s)
        if (ls(s) > maxLen) maxLen = ls(s)
        s += 1
      }
      minLens(g) = minLen
      var pp = 0
      var l = minLen
      while (l <= maxLen) {
        s = 0
        while (s < alphaSize) { if (ls(s) == l) { perm(g)(pp) = s; pp += 1 }; s += 1 }
        l += 1
      }
      // canonical: code counts per length → base/limit
      val cnt = new Array[Int](MaxHuffLen + 2)
      s = 0
      while (s < alphaSize) { cnt(ls(s)) += 1; s += 1 }
      var code = 0
      var assigned = 0
      l = minLen
      while (l <= maxLen) {
        base(g)(l) = code - assigned
        code += cnt(l)
        assigned += cnt(l)
        limit(g)(l) = code - 1
        code <<= 1
        l += 1
      }
      // over-subscribed tables would make limit lie; verify Kraft exactly
      var kraft = 0L
      s = 0
      while (s < alphaSize) { kraft += (1L << (MaxHuffLen - ls(s))); s += 1 }
      if (kraft > (1L << MaxHuffLen)) bad("over-subscribed Huffman table")
      g += 1
    }

    // Huffman-decode the MTF/RLE2 symbol stream into the BWT string
    val mtf = new Array[Int](256)
    var mi = 0
    i = 0
    while (i < 256) { if (used(i)) { mtf(mi) = i; mi += 1 }; i += 1 }

    val bwt = new Array[Byte](blockLimit)
    var n = 0
    var groupPos = 0
    var selIdx = -1
    var curGroup = 0

    def nextSym(): Int = {
      if (groupPos == 0) {
        selIdx += 1
        if (selIdx >= nSelectors) bad("ran out of selectors")
        curGroup = selectors(selIdx)
        groupPos = GroupSize
      }
      groupPos -= 1
      var l = minLens(curGroup)
      var v = br.read(l)
      while (v > limit(curGroup)(l)) {
        l += 1
        if (l > MaxHuffLen) bad("Huffman walk past max length")
        v = (v << 1) | br.readBit()
      }
      perm(curGroup)(v - base(curGroup)(l))
    }

    var run = 0L
    var runBit = 0
    var sym = nextSym()
    while (sym != eob) {
      if (sym <= RunB) {
        run += (if (sym == RunA) 1L else 2L) << runBit
        runBit += 1
        if (runBit > 40) bad("zero run overflow")
      } else {
        if (run > 0) {
          if (n + run > blockLimit) bad("block overruns its size limit")
          val b = mtf(0).toByte
          var k = 0L
          while (k < run) { bwt(n) = b; n += 1; k += 1 }
          run = 0L
          runBit = 0
        }
        // MTF extract at position sym-1
        var j = sym - 1
        val v = mtf(j)
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        if (n >= blockLimit) bad("block overruns its size limit")
        bwt(n) = v.toByte
        n += 1
      }
      sym = nextSym()
    }
    if (run > 0) {
      if (n + run > blockLimit) bad("block overruns its size limit")
      val b = mtf(0).toByte
      var k = 0L
      while (k < run) { bwt(n) = b; n += 1; k += 1 }
    }
    if (n == 0) bad("empty block body")
    if (origPtr >= n) bad("origPtr past block end")

    // inverse BWT (counting construction)
    val cnt = new Array[Int](256)
    i = 0
    while (i < n) { cnt(bwt(i) & 0xff) += 1; i += 1 }
    val ofs = new Array[Int](256)
    var acc = 0
    i = 0
    while (i < 256) { ofs(i) = acc; acc += cnt(i); i += 1 }
    val next = new Array[Int](n)
    i = 0
    while (i < n) {
      val b = bwt(i) & 0xff
      next(ofs(b)) = i
      ofs(b) += 1
      i += 1
    }

    // walk + RLE1 decode + CRC, budget-capped mid-stream
    val crc = new Crc
    val cap = graft.core.Budget.maxInflatedBytes
    var produced = out.size().toLong
    var p = next(origPtr)
    var k = 0
    var runByte = -1
    var runLen = 0
    var expectCount = false
    var rNToGo = 0
    var rTPos = 0
    while (k < n) {
      var b = bwt(p) & 0xff
      if (randomized) {
        if (rNToGo == 0) {
          rNToGo = RandTable(rTPos)
          rTPos += 1
          if (rTPos == 512) rTPos = 0
        }
        rNToGo -= 1
        if (rNToGo == 1) b ^= 1
      }
      p = next(p)
      k += 1
      if (expectCount) {
        // the byte after 4 equal bytes is an extra-repeat count (0..255)
        var r = 0
        while (r < b) {
          crc.update(runByte)
          out.write(runByte)
          produced += 1
          r += 1
        }
        if (produced > cap)
          throw new Refusal("too_large", s"bzip2 inflates past $cap bytes")
        expectCount = false
        runByte = -1
        runLen = 0
      } else {
        if (b == runByte) runLen += 1 else { runByte = b; runLen = 1 }
        crc.update(b)
        out.write(b)
        produced += 1
        if (produced > cap)
          throw new Refusal("too_large", s"bzip2 inflates past $cap bytes")
        if (runLen == 4) expectCount = true
      }
    }
    if (expectCount) bad("block ends inside an RLE1 run")
    if (crc.value != storedCrc) bad("block CRC mismatch")
    storedCrc
  }

  // ------------------------------------------------------------- encode

  /** One deterministic bzip2 stream. `level` picks the 100 kB block-size
    * multiplier exactly as the reference tool's `-1`..`-9` flags do.
    */
  def compress(bytes: Array[Byte], level: Int = 1): Array[Byte] = {
    require(level >= 1 && level <= 9, s"level $level")
    val blockLimit = level * 100000 - 20
    val bw = new BitWriter
    bw.write('B', 8); bw.write('Z', 8); bw.write('h', 8); bw.write('0' + level, 8)

    var combined = 0
    // empty input: header + footer with combined CRC 0, exactly what
    // libbz2 emits (the while loop below simply never runs)
    var off = 0
    while (off < bytes.length) {
      // RLE1-encode up to blockLimit bytes, cutting only at run
      // boundaries so the block CRC covers whole plain-data runs
      val rle = new java.io.ByteArrayOutputStream(math.min(bytes.length - off + 16, blockLimit + 16))
      val crc = new Crc
      var i = off
      while (i < bytes.length && rle.size() + 5 <= blockLimit) {
        val b = bytes(i) & 0xff
        var runEnd = i + 1
        while (runEnd < bytes.length && (bytes(runEnd) & 0xff) == b &&
            runEnd - i < 255) runEnd += 1
        val len = runEnd - i
        if (rle.size() + math.min(len, 4) + (if (len >= 4) 1 else 0) > blockLimit) {
          // run doesn't fit: close the block here
          i = bytes.length // break
        } else {
          crc.update(bytes, i, len)
          var c = 0
          while (c < math.min(len, 4)) { rle.write(b); c += 1 }
          if (len >= 4) rle.write(len - 4)
          i = runEnd
          off = runEnd
        }
      }
      val blockCrc = crc.value
      combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
      encodeBlock(bw, rle.toByteArray, blockCrc)
    }

    bw.write48(FooterMagic)
    bw.write(combined >>> 16, 16); bw.write(combined & 0xffff, 16)
    bw.finish()
  }

  /** BWT of the circular block via prefix doubling on packed long keys
    * (rank pairs fit 2×20 bits — block length is capped at 900 000 < 2^20
    * — leaving 20 bits for the index, so each round is one primitive
    * long-array sort, no boxing).
    */
  private def bwTransform(data: Array[Byte]): (Array[Byte], Int) = {
    val n = data.length
    if (n == 1) return (data.clone(), 0)
    var rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = data(i) & 0xff; i += 1 }
    val keys = new Array[Long](n)
    val sa = new Array[Int](n)
    var k = 1
    var distinct = false
    while (k < n && !distinct) {
      i = 0
      while (i < n) {
        val r2 = rank(if (i + k >= n) i + k - n else i + k)
        keys(i) = (rank(i).toLong << 40) | (r2.toLong << 20) | i
        i += 1
      }
      java.util.Arrays.sort(keys)
      val newRank = new Array[Int](n)
      var r = 0
      i = 0
      while (i < n) {
        if (i > 0 && (keys(i) >>> 20) != (keys(i - 1) >>> 20)) r += 1
        newRank((keys(i) & 0xfffff).toInt) = r
        i += 1
      }
      rank = newRank
      distinct = r == n - 1
      k <<= 1
    }
    if (!distinct) {
      // fully periodic block (e.g. all one byte): ranks are ties; the
      // sorted rotation order is by index among equals, which the packed
      // key sort already produced
    }
    i = 0
    while (i < n) { sa(i) = (keys(i) & 0xfffff).toInt; i += 1 }
    val bwt = new Array[Byte](n)
    var origPtr = -1
    i = 0
    while (i < n) {
      val s = sa(i)
      if (s == 0) origPtr = i
      bwt(i) = data(if (s == 0) n - 1 else s - 1)
      i += 1
    }
    (bwt, origPtr)
  }

  private def encodeBlock(bw: BitWriter, block: Array[Byte], blockCrc: Int): Unit = {
    val (bwt, origPtr) = bwTransform(block)
    val n = bwt.length

    // symbol map
    val used = new Array[Boolean](256)
    var i = 0
    while (i < n) { used(bwt(i) & 0xff) = true; i += 1 }
    val mtf = new Array[Int](256)
    var nUsed = 0
    i = 0
    while (i < 256) { if (used(i)) { mtf(nUsed) = i; nUsed += 1 }; i += 1 }
    val alphaSize = nUsed + 2
    val eob = alphaSize - 1

    // MTF + RLE2 (zero runs in bijective base 2: RUNA=+1<<k, RUNB=+2<<k)
    val symArr = new Array[Int](n + 2) // runs never expand: ≤ n symbols + EOB
    var nSyms = 0
    var zeroRun = 0L
    def flushRun(): Unit = {
      var r = zeroRun
      while (r > 0) {
        if ((r & 1) == 1) { symArr(nSyms) = RunA; nSyms += 1; r = (r - 1) >> 1 }
        else { symArr(nSyms) = RunB; nSyms += 1; r = (r - 2) >> 1 }
      }
      zeroRun = 0
    }
    i = 0
    while (i < n) {
      val b = bwt(i) & 0xff
      var j = 0
      while (mtf(j) != b) j += 1
      if (j == 0) zeroRun += 1
      else {
        flushRun()
        val v = mtf(j)
        val pos = j
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        symArr(nSyms) = pos + 1 // decoder extracts MTF position sym-1
        nSyms += 1
      }
      i += 1
    }
    flushRun()
    symArr(nSyms) = eob
    nSyms += 1

    // Huffman lengths: one table used by both (required-minimum 2) groups
    val freq = new Array[Int](alphaSize)
    i = 0
    while (i < nSyms) { freq(symArr(i)) += 1; i += 1 }
    val lens = huffmanLengths(freq, 17)
    val (codes, codeLens) = canonicalCodes(lens)

    val nGroups = 2
    val nSelectors = (nSyms + GroupSize - 1) / GroupSize

    bw.write48(BlockMagic)
    bw.write(blockCrc >>> 16, 16); bw.write(blockCrc & 0xffff, 16)
    bw.write(0, 1) // randomized: never
    bw.write(origPtr, 24)
    // symbol map
    var coarse = 0
    i = 0
    while (i < 256) { if (used(i)) coarse |= 1 << (15 - (i >> 4)); i += 1 }
    bw.write(coarse, 16)
    var g16 = 0
    while (g16 < 16) {
      if (((coarse >> (15 - g16)) & 1) == 1) {
        var fine = 0
        var j = 0
        while (j < 16) { if (used(g16 * 16 + j)) fine |= 1 << (15 - j); j += 1 }
        bw.write(fine, 16)
      }
      g16 += 1
    }
    bw.write(nGroups, 3)
    bw.write(nSelectors, 15)
    // selectors: always group 0 → MTF value 0 → a single 0 bit each
    i = 0
    while (i < nSelectors) { bw.write(0, 1); i += 1 }
    // two identical delta-coded length tables
    var g = 0
    while (g < nGroups) {
      var cur = lens(0)
      bw.write(cur, 5)
      var s = 0
      while (s < alphaSize) {
        val t = lens(s)
        while (cur < t) { bw.write(2, 2); cur += 1 } // 1,0 = increment
        while (cur > t) { bw.write(3, 2); cur -= 1 } // 1,1 = decrement
        bw.write(0, 1)
        s += 1
      }
      g += 1
    }
    // symbol stream
    i = 0
    while (i < nSyms) {
      val s = symArr(i)
      bw.write(codes(s), codeLens(s))
      i += 1
    }
  }

  /** Length-limited Huffman code lengths via the reference scheme: build a
    * plain Huffman tree; if it exceeds `maxLen`, halve the frequencies and
    * rebuild (terminates: freqs converge to 1 → balanced tree of depth
    * ⌈log2 alphaSize⌉ ≤ 9 < maxLen).
    */
  private def huffmanLengths(freqIn: Array[Int], maxLen: Int): Array[Int] = {
    val n = freqIn.length
    var freq = freqIn.map(f => math.max(1, f))
    while (true) {
      val lens = plainHuffman(freq)
      if (lens.max <= maxLen) return lens
      freq = freq.map(f => 1 + f / 2)
    }
    throw new IllegalStateException("unreachable")
  }

  private def plainHuffman(freq: Array[Int]): Array[Int] = {
    val n = freq.length
    if (n == 1) return Array(1)
    // nodes: 0..n-1 leaves, then internal
    val weight = new Array[Long](2 * n)
    val parent = new Array[Int](2 * n)
    java.util.Arrays.fill(parent, -1)
    val pq = new java.util.PriorityQueue[Int](n,
      (a: Int, b: Int) => java.lang.Long.compare(weight(a), weight(b)))
    var i = 0
    while (i < n) {
      // tie-break deterministically by packing the node id into the low
      // bits of the weight (freqs are < 2^31, ids < 2^10)
      weight(i) = (freq(i).toLong << 11) | i
      pq.add(i)
      i += 1
    }
    var next = n
    while (pq.size > 1) {
      val a = pq.poll()
      val b = pq.poll()
      weight(next) = (((weight(a) >> 11) + (weight(b) >> 11)) << 11) | next
      parent(a) = next
      parent(b) = next
      pq.add(next)
      next += 1
    }
    val lens = new Array[Int](n)
    i = 0
    while (i < n) {
      var d = 0
      var p = parent(i)
      while (p != -1) { d += 1; p = parent(p) }
      lens(i) = math.max(1, d)
      i += 1
    }
    lens
  }

  /** Canonical code assignment in (length, symbol) order — the ordering
    * the decoder's base/limit tables assume.
    */
  private def canonicalCodes(lens: Array[Int]): (Array[Int], Array[Int]) = {
    val n = lens.length
    val codes = new Array[Int](n)
    val minLen = lens.min
    val maxLen = lens.max
    var code = 0
    var l = minLen
    while (l <= maxLen) {
      var s = 0
      while (s < n) {
        if (lens(s) == l) { codes(s) = code; code += 1 }
        s += 1
      }
      code <<= 1
      l += 1
    }
    (codes, lens)
  }
}
