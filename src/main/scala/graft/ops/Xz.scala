package graft.ops

/** XZ shard compression (`.jsonl.xz` — the container public corpus and
  * model dumps ship alongside `.zst`/`.bz2`; every Linux distro mirrors
  * and many HF dataset dumps use it). The container walk is our own, from
  * the xz file format spec (stream header/flags, block headers, padding,
  * CRC32/CRC64/SHA-256 checks, index, footer, stream concatenation), so
  * it can refuse what it does not support with a typed kind. The LZMA2
  * block bodies, the raw LZMA cores [[SevenZip]] uses and the legacy
  * `.lzma` container decode through org.tukaani:xz, the library on
  * Spark's own classpath (the zstd-jni precedent), which also backs the
  * writers. XzSpec pins fixtures compressed by CPython's `lzma` (real
  * liblzma) bit-exact.
  *
  * Contract matches [[Zstd]]/[[Bzip2]]: strict capped reader (every
  * declared size — chunk unpacked sizes, index records, block sizes — is
  * validated against [[graft.core.Budget.maxInflatedBytes]] and against
  * each other BEFORE the decoder allocates; LZMA2's 1:2^21 per-chunk
  * expansion makes bombs cheap), typed fail-stop refusals (`bad_magic` /
  * `bad_frame` / `too_large` / `unsupported`), and multi-stream
  * concatenation (xz files concatenate like gzip members; stream padding
  * between them is legal).
  * Supported filter chains: [LZMA2] and [delta, LZMA2] (the `xz --delta`
  * layout, reconstructed post-decode); BCJ chains and reserved flags
  * refuse `unsupported` rather than guessing. The legacy magic-less
  * `.lzma` alone container decodes via [[decompressAlone]] in both its
  * size-declared and end-marker layouts.
  */
object Xz {

  import graft.core.Refusal
  import org.tukaani.xz.{LZMA2InputStream, LZMAInputStream}

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  private val Magic = Array(0xfd, '7', 'z', 'X', 'Z', 0x00).map(_.toByte)
  private val FooterMagic = Array[Byte]('Y', 'Z')

  def isXz(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && Magic.indices.forall(i => bytes(i) == Magic(i))

  private def crc32(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  // ------------------------------------------------------------- encode

  /** One deterministic xz stream via the tukaani reference encoder at a
    * fixed preset. `check`: 0 = none, 1 = CRC32, 4 = CRC64, 10 = SHA-256
    * (the spec's check ids).
    */
  /** Dict-size clamp for the per-stream preset dictionaries (8 MiB at
    * preset 6), allocated PER STREAM: on a million-shard scan that
    * allocation dominates wall-clock (measured 31.6 s for the sf0.1
    * shard sweep). A dict no larger than the payload is byte-for-byte
    * sufficient — match distances cannot reach further back — so clamp
    * it (tukaani's minimum is 4 KiB). Math in Long: highestOneBit(len)*2
    * overflows to negative for inputs >= 1 GiB, which would collapse the
    * dict to the 4 KiB minimum and wreck the ratio on exactly the
    * largest shards.
    */
  private[ops] def clampDictSize(presetDict: Int, inputLen: Int): Int =
    math.max(org.tukaani.xz.LZMA2Options.DICT_SIZE_MIN.toLong,
      math.min(presetDict.toLong,
        Integer.highestOneBit(math.max(1, inputLen)).toLong * 2)).toInt

  def compress(bytes: Array[Byte], preset: Int = 6, check: Int = 1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 256)
    val opts = new org.tukaani.xz.LZMA2Options(preset)
    opts.setDictSize(clampDictSize(opts.getDictSize, bytes.length))
    val out = new org.tukaani.xz.XZOutputStream(bos, opts, check)
    out.write(bytes)
    out.close()
    bos.toByteArray
  }

  // ------------------------------------------------ legacy .lzma (alone)

  /** One legacy `.lzma` (LZMA_ALONE) stream via the tukaani reference
    * encoder: 13-byte header (props, LE32 dict size, LE64 size), raw
    * LZMA body. `sizeKnown = false` writes the all-FF unknown-size header
    * terminated by the end marker — the layout CPython's
    * `lzma.FORMAT_ALONE` always emits.
    */
  def compressAlone(bytes: Array[Byte], preset: Int = 6,
      sizeKnown: Boolean = true): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val opts = new org.tukaani.xz.LZMA2Options(preset)
    opts.setDictSize(clampDictSize(opts.getDictSize, bytes.length))
    val out = new org.tukaani.xz.LZMAOutputStream(bos, opts,
      if (sizeKnown) bytes.length.toLong else -1L)
    out.write(bytes)
    out.close()
    bos.toByteArray
  }

  def decompressAloneSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompressAlone(bytes))

  /** Strict legacy `.lzma` decode: both the size-declared layout (no end
    * marker — what the reference encoder writes) and the unknown-size
    * end-marker layout (what liblzma/CPython write). The declared size is
    * budget-checked BEFORE allocation; unknown-size output is capped by
    * the same budget. There is no magic in this format, so a wrong first
    * byte refuses on the props range rather than a magic check.
    */
  def decompressAlone(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 13 + 5) bad("truncated alone header")
    val props = bytes(0) & 0xff
    checkProps(props)
    val declared = le(bytes, 5, 8)
    val cap = graft.core.Budget.maxInflatedBytes
    if (declared != -1L) {
      // size-declared layout (-1 = unknown; any other negative is rot)
      if (declared < 0)
        throw new Refusal("too_large", s"alone header declares $declared bytes")
      if (declared > cap)
        throw new Refusal("too_large", s"alone header declares $declared bytes past the budget")
      if (declared > Int.MaxValue - 8) throw new Refusal("too_large", "alone stream > 2 GiB")
    }
    decodeLzma1(bytes, 13, bytes.length - 13, props, le(bytes, 1, 4), declared)
  }

  /** `n` little-endian bytes at `off` as an unsigned number (n ≤ 8). */
  private def le(bytes: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= (bytes(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** An LZMA properties byte: lc/lp/pb in range, and lc + lp ≤ 4, the
    * limit LZMA2 and liblzma's `.lzma` reader share; beyond it refuses
    * `unsupported` rather than guessing.
    */
  private def checkProps(props: Int): Unit = {
    if (props >= 9 * 5 * 5) bad(s"props byte $props")
    val lc = props % 9
    val lp = (props / 9) % 5
    if (lc + lp > 4) throw new Refusal("unsupported", s"lc+lp > 4 (lc=$lc lp=$lp)")
  }

  /** The most bytes one input byte of an LZMA range-coded stream can
    * yield. A bit probability saturates at 2017/2048, so the decoder reads
    * an input byte at least every 364 decoded bits, and the cheapest
    * output is a 273-byte rep0 match in 14 bits: 364 · 273 / 14 ≈ 7,100
    * (liblzma reaches about 7,000 on zeros). xz-java allocates the whole
    * dictionary before it decodes, so a dictionary is never sized past
    * what the input can produce: a forged header cannot buy memory.
    */
  private val LzmaMaxRatio = 7168L

  /** One raw LZMA1 stream, `size` bytes long or, at -1, ended by the end
    * marker. `relaxed` accepts a sized stream with or without the end
    * marker. The dictionary is never larger than the output the size and
    * the input allow: no valid match reaches further back. Every input
    * byte must be consumed.
    */
  private def decodeLzma1(bytes: Array[Byte], off: Int, len: Int, props: Int,
      dictSize: Long, size: Long, relaxed: Boolean = false): Array[Byte] = {
    val maxOut = math.min(LzmaMaxRatio * len,
      if (size >= 0) size else graft.core.Budget.maxInflatedBytes)
    val dict = math.min(math.min(dictSize, maxOut), LZMAInputStream.DICT_SIZE_MAX.toLong)
    val in = new java.io.ByteArrayInputStream(bytes, off, len)
    val out = graft.core.Budget.drain({
      val lz = new LZMAInputStream(in, size, props.toByte, dict.toInt)
      if (relaxed) lz.enableRelaxedEndCondition()
      lz
    }, "lzma")
    if (in.available() != 0) bad("alone stream has trailing garbage")
    out
  }

  // ------------------------------------------------------------- decode

  def decompressSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompress(bytes))

  /** Strict multi-stream decompress (concatenated streams with optional
    * 4-aligned zero padding between them, per the spec's §2 "Stream
    * concatenation").
    */
  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isXz(bytes)) throw new Refusal("bad_magic", "not an xz stream")
    val out = new java.io.ByteArrayOutputStream(math.min(bytes.length.toLong * 4, 1 << 20).toInt)
    var off = 0
    var first = true
    while (off < bytes.length) {
      // stream padding: zero bytes in 4-byte multiples between streams
      if (!first) {
        val padStart = off
        while (off < bytes.length && bytes(off) == 0) off += 1
        if ((off - padStart) % 4 != 0) bad("stream padding not 4-aligned")
        if (off == bytes.length) return out.toByteArray
        if (bytes.length - off < 6 || !isXz(java.util.Arrays.copyOfRange(bytes, off, off + 6)))
          bad("trailing garbage after stream")
      }
      off = decodeStream(bytes, off, out)
      first = false
    }
    out.toByteArray
  }

  /** Walks the LZMA2 chunk headers of `bytes[off, end)` without decoding
    * them: returns the offset past the 0x00 end marker, the total size the
    * chunks declare, and the most output their packed bytes can produce,
    * so the budget refuses before the decoder allocates and its
    * dictionary is no larger than the input supports. Props bytes are
    * checked here to keep lc + lp > 4 `unsupported`.
    */
  private def lzma2Extent(bytes: Array[Byte], off0: Int, end: Int): (Int, Long, Long) = {
    var off = off0
    var total = 0L
    var reachable = 0L
    def u8(): Int = {
      if (off >= end) bad("truncated LZMA2 stream")
      val v = bytes(off) & 0xff; off += 1; v
    }
    var control = u8()
    while (control != 0x00) {
      if (control == 0x01 || control == 0x02) {
        val size = ((u8() << 8) | u8()) + 1
        total += size
        reachable += size
        off += size
      } else if (control >= 0x80) {
        val unpacked = ((control & 0x1f) << 16 | (u8() << 8) | u8()) + 1
        val packed = ((u8() << 8) | u8()) + 1
        total += unpacked
        reachable += math.min(unpacked.toLong, LzmaMaxRatio * packed)
        // the props byte of a chunk that resets state (>= 0xc0) sits
        // between the size fields and the data, outside `packed`
        if (control >= 0xc0) checkProps(u8())
        off += packed
      } else bad(f"LZMA2 control byte 0x$control%02x")
      if (off > end) bad("truncated LZMA2 stream")
      control = u8()
    }
    (off, total, reachable)
  }

  /** One LZMA2 chunk stream at `off`, decoded by xz-java under `budget`;
    * returns the output and the offset past the end marker.
    */
  private def decodeLzma2(bytes: Array[Byte], off: Int, end: Int, dictSize: Long,
      budget: Long): (Array[Byte], Int) = {
    val (stop, declared, reachable) = lzma2Extent(bytes, off, end)
    if (declared > budget)
      throw new Refusal("too_large", s"LZMA2 chunks declare $declared bytes past the budget")
    val dict = math.max(LZMA2InputStream.DICT_SIZE_MIN.toLong,
      math.min(math.min(dictSize, reachable), LZMA2InputStream.DICT_SIZE_MAX.toLong))
    val out = graft.core.Budget.drain(new LZMA2InputStream(
      new java.io.ByteArrayInputStream(bytes, off, stop - off), dict.toInt), "xz", budget)
    (out, stop)
  }

  /** Raw LZMA2 chunk stream (the 7z 0x21 coder payload — exactly the xz
    * block body without the xz block framing): decode chunks until the
    * 0x00 end marker, budget-capped. Exposed for [[SevenZip]].
    */
  private[ops] def decodeLzma2Raw(bytes: Array[Byte], off: Int, end: Int,
      dictSize: Long): Array[Byte] = {
    val (out, stop) = decodeLzma2(bytes, off, end, dictSize, graft.core.Budget.maxInflatedBytes)
    if (stop != end) bad(s"${end - stop} trailing bytes after the LZMA2 end marker")
    out
  }

  /** Raw LZMA1 stream with out-of-band props + known size (the 7z
    * 0x030101 coder layout). Both wild layouts decode in one pass, with
    * xz-java's relaxed end condition: marker-free streams sized by the
    * declared length (what 7-zip and the tukaani encoder emit) and
    * end-marker-terminated streams (what liblzma's raw LZMA1 encoder
    * emits, which cannot know the size up front). The caller has checked
    * `unpackSize` against the budget. Exposed for [[SevenZip]].
    */
  private[ops] def decodeLzma1Raw(bytes: Array[Byte], off: Int, len: Int,
      props: Array[Byte], unpackSize: Long): Array[Byte] = {
    if (props.length != 5) bad(s"LZMA1 props of ${props.length} bytes")
    val p = props(0) & 0xff
    checkProps(p)
    val out = decodeLzma1(bytes, off, len, p, le(props, 1, 4), unpackSize, relaxed = true)
    if (out.length.toLong != unpackSize)
      bad(s"LZMA1 stream yields ${out.length} of $unpackSize bytes")
    out
  }

  /** Raw LZMA1 encode (props, stream) for the 7z writer: the reference
    * encoder's `.lzma` output minus its 13-byte header.
    */
  private[ops] def encodeLzma1Raw(data: Array[Byte],
      preset: Int = 6): (Array[Byte], Array[Byte]) = {
    val alone = compressAlone(data, preset)
    (java.util.Arrays.copyOfRange(alone, 0, 5),
      java.util.Arrays.copyOfRange(alone, 13, alone.length))
  }

  /** Decode one stream starting at `off0`; returns the offset past it. */
  private def decodeStream(bytes: Array[Byte], off0: Int,
      out: java.io.ByteArrayOutputStream): Int = {
    var off = off0
    def need(n: Int): Unit = if (off + n > bytes.length) bad("truncated stream")
    def u8(): Int = { need(1); val v = bytes(off) & 0xff; off += 1; v }
    def u32le(): Long = { need(4)
      val v = (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      off += 4; v
    }
    // the spec's variable-length integer: 7 bits per byte LE, ≤ 9 bytes,
    // minimal encoding required (liblzma refuses a trailing zero byte)
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var last = 0
      var n = 0
      var done = false
      while (!done) {
        if (n >= 9) bad("varint too long")
        val b = u8()
        v |= (b & 0x7fL) << shift
        shift += 7
        last = b
        n += 1
        done = (b & 0x80) == 0
      }
      if (n > 1 && last == 0) bad("non-minimal varint")
      v
    }

    // ---- stream header
    off += 6 // magic, caller verified
    need(2)
    val flag0 = bytes(off) & 0xff
    val checkId = bytes(off + 1) & 0xff
    if (flag0 != 0 || (checkId & 0xf0) != 0) bad("reserved stream flags")
    val headerFlagsOff = off
    off += 2
    if (u32le() != (crc32(bytes, headerFlagsOff, 2) & 0xffffffffL))
      bad("stream header CRC mismatch")
    val check = checkId match {
      case 0 | 1 | 4 | 10 => org.tukaani.xz.check.Check.getInstance(checkId)
      case _ => throw new Refusal("unsupported", s"check id $checkId")
    }
    val checkSize = check.getSize

    val cap = graft.core.Budget.maxInflatedBytes
    // (unpaddedSize, uncompressedSize) per block, for the index check
    val blocks = Vector.newBuilder[(Long, Long)]

    var sawIndex = false
    var indexStart = -1
    while (!sawIndex) {
      need(1)
      val first = bytes(off) & 0xff
      if (first == 0x00) { // index indicator
        sawIndex = true
        indexStart = off
        off += 1
        val recorded = blocks.result()
        val n = varint()
        if (n != recorded.size) bad(s"index declares $n blocks, stream has ${recorded.size}")
        var i = 0
        while (i < n) {
          val unpadded = varint()
          val uncomp = varint()
          if ((unpadded, uncomp) != recorded(i)) bad(s"index record $i mismatch")
          i += 1
        }
        // index padding to 4 alignment, then CRC32 over the whole index
        while ((off - indexStart) % 4 != 0) {
          if (u8() != 0) bad("nonzero index padding")
        }
        val stored = u32le()
        if (stored != (crc32(bytes, indexStart, off - 4 - indexStart) & 0xffffffffL))
          bad("index CRC mismatch")
      } else {
        // ---- block header
        val headerStart = off
        val headerSize = (u8() + 1) * 4
        need(headerSize - 1)
        val blockFlags = u8()
        val nFilters = (blockFlags & 0x03) + 1
        if ((blockFlags & 0x3c) != 0) bad("reserved block flags")
        val hasCompSize = (blockFlags & 0x40) != 0
        val hasUncompSize = (blockFlags & 0x80) != 0
        val declaredComp = if (hasCompSize) varint() else -1L
        val declaredUncomp = if (hasUncompSize) varint() else -1L
        if (declaredUncomp > cap)
          throw new Refusal("too_large", s"block declares $declaredUncomp bytes past the budget")
        // filter chains: [LZMA2] or [delta, LZMA2] (the chain `xz
        // --delta` emits for binary dumps). Encoding order is delta →
        // LZMA2, so decode reverses: LZMA2 first, then delta
        // reconstruction. BCJ and longer chains refuse `unsupported`.
        if (nFilters > 2) throw new Refusal("unsupported", s"$nFilters-filter chain")
        var deltaDist = 0
        if (nFilters == 2) {
          if (varint() != 0x03) throw new Refusal("unsupported", "non-delta first filter")
          if (varint() != 1) bad("delta props size")
          deltaDist = u8() + 1
        }
        val filterId = varint()
        if (filterId != 0x21) throw new Refusal("unsupported", f"filter 0x$filterId%x")
        if (varint() != 1) bad("LZMA2 props size")
        val dictProp = u8()
        if (dictProp > 40) bad(s"dict size prop $dictProp")
        val dictSize: Long =
          if (dictProp == 40) 0xffffffffL
          else (2L | (dictProp & 1)) << (dictProp / 2 + 11)
        // header zero-padding + CRC32
        while (off - headerStart < headerSize - 4) {
          if (u8() != 0) bad("nonzero block header padding")
        }
        val stored = u32le()
        if (stored != (crc32(bytes, headerStart, headerSize - 4) & 0xffffffffL))
          bad("block header CRC mismatch")

        // ---- LZMA2 block body
        val dataStart = off
        val (blockData, stop) =
          decodeLzma2(bytes, off, bytes.length, dictSize, cap - out.size())
        off = stop
        if (deltaDist > 0) {
          // delta reconstruction: each byte is a difference from the byte
          // `dist` positions earlier (block check runs on the result)
          var i = deltaDist
          while (i < blockData.length) {
            blockData(i) = (blockData(i) + blockData(i - deltaDist)).toByte
            i += 1
          }
        }
        val compSize = (off - dataStart).toLong
        if (hasCompSize && declaredComp != compSize)
          bad(s"block compressed size $compSize != declared $declaredComp")
        if (hasUncompSize && declaredUncomp != blockData.length.toLong)
          bad(s"block uncompressed size ${blockData.length} != declared $declaredUncomp")
        // block padding to 4 alignment
        while ((off - dataStart) % 4 != 0) {
          if (u8() != 0) bad("nonzero block padding")
        }
        // integrity check, stored in the byte order the check emits
        check.update(blockData, 0, blockData.length)
        need(checkSize)
        if (!java.util.Arrays.equals(check.finish(), 0, checkSize, bytes, off, off + checkSize))
          bad(s"block ${check.getName} mismatch")
        off += checkSize
        out.write(blockData, 0, blockData.length)
        val unpaddedSize = (headerSize + compSize + checkSize).toLong
        blocks += ((unpaddedSize, blockData.length.toLong))
      }
    }

    // ---- stream footer
    val storedCrc = u32le()
    val footerBodyOff = off
    need(6)
    if (storedCrc != (crc32(bytes, footerBodyOff, 6) & 0xffffffffL))
      bad("stream footer CRC mismatch")
    val backward = u32le()
    val realBackward = (backward + 1) * 4
    // backward size = the index's total size (footer CRC field excluded)
    if (footerBodyOff - 4 - indexStart != realBackward)
      bad("footer backward size mismatch")
    need(4)
    if ((bytes(off) & 0xff) != 0 || (bytes(off + 1) & 0xff) != checkId)
      bad("footer stream flags mismatch")
    if (bytes(off + 2) != FooterMagic(0) || bytes(off + 3) != FooterMagic(1))
      bad("bad footer magic")
    off + 4
  }
}
