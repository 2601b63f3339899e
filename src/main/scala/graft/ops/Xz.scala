package graft.ops

/** XZ shard compression (`.jsonl.xz` — the container public corpus and
  * model dumps ship alongside `.zst`/`.bz2`; every Linux distro mirrors
  * and many HF dataset dumps use it). The READER is hand-rolled from the
  * public specs — the xz file format (stream header/flags, block headers,
  * padding, CRC32/CRC64/SHA-256 checks, index, footer, stream
  * concatenation) over LZMA2 chunking over a from-scratch LZMA range
  * decoder (Igor Pavlov's reference description: 11 probability-model
  * families, 12-state machine, bit-tree position slots, matched
  * literals). The WRITER delegates to org.tukaani:xz — the library on
  * Spark's own classpath (the zstd-jni precedent), which doubles as the
  * independent implementation our decoder is differentially pinned
  * against; XzSpec additionally pins fixtures compressed by CPython's
  * `lzma` (real liblzma) bit-exact.
  *
  * Contract matches [[Zstd]]/[[Bzip2]]: strict capped reader (every
  * declared size — chunk unpacked size, index records, block sizes — is
  * validated against [[graft.core.Budget.maxInflatedBytes]] and against
  * each other BEFORE allocation; LZMA2's 1:2^21 per-chunk expansion makes
  * bombs cheap), typed fail-stop refusals (`bad_magic` / `bad_frame` /
  * `too_large` / `unsupported`), and multi-stream concatenation (xz files
  * concatenate like gzip members; stream padding between them is legal).
  * Supported filter chains: [LZMA2] and [delta, LZMA2] (the `xz --delta`
  * layout, reconstructed post-decode); BCJ chains and reserved flags
  * refuse `unsupported` rather than guessing. The legacy magic-less
  * `.lzma` alone container decodes via [[decompressAlone]] in both its
  * size-declared and end-marker layouts.
  */
object Xz {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  private val Magic = Array(0xfd, '7', 'z', 'X', 'Z', 0x00).map(_.toByte)
  private val FooterMagic = Array[Byte]('Y', 'Z')

  def isXz(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && Magic.indices.forall(i => bytes(i) == Magic(i))

  // ----------------------------------------------------------- checksums
  private val crc64Table: Array[Long] = {
    val poly = 0xc96c5795d7870f42L // ECMA-182, reflected
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) { c = (c >>> 1) ^ (if ((c & 1) != 0) poly else 0L); k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  private def crc64(bytes: Array[Byte], off: Int, len: Int): Long = {
    var c = ~0L
    var i = off
    val end = off + len
    while (i < end) { c = (c >>> 8) ^ crc64Table(((c ^ bytes(i)) & 0xff).toInt); i += 1 }
    ~c
  }

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
    * budget-checked BEFORE allocation; unknown-size output grows under
    * the same budget. There is no magic in this format, so a wrong first
    * byte refuses on the props range rather than a magic check.
    */
  def decompressAlone(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 13 + 5) bad("truncated alone header")
    val props = bytes(0) & 0xff
    if (props >= 9 * 5 * 5) bad(s"props byte $props")
    val lc = props % 9
    val lp = (props / 9) % 5
    val pb = props / 45
    if (lc + lp > 4) throw new Refusal("unsupported", s"lc+lp > 4 (lc=$lc lp=$lp)")
    var dictSize = 0L
    var i = 0
    while (i < 4) { dictSize |= (bytes(1 + i) & 0xffL) << (8 * i); i += 1 }
    if (dictSize < 4096) dictSize = 4096
    var declared = 0L
    i = 0
    while (i < 8) { declared |= (bytes(5 + i) & 0xffL) << (8 * i); i += 1 }
    val cap = graft.core.Budget.maxInflatedBytes
    val dec = new LzmaDecoder(lc, lp, pb)
    dec.initRc(bytes, 13, bytes.length - 13)
    if (declared != -1L) {
      // size-declared layout (-1 = unknown; any other negative is rot)
      if (declared < 0)
        throw new Refusal("too_large", s"alone header declares $declared bytes")
      if (declared > cap)
        throw new Refusal("too_large", s"alone header declares $declared bytes past the budget")
      if (declared > Int.MaxValue - 8) throw new Refusal("too_large", "alone stream > 2 GiB")
      val n = declared.toInt
      val out = new Array[Byte](n)
      val pos = dec.run(out, 0, n, n, 0, dictSize, allowMarker = true)
      if (dec.sawMarker && pos != n) bad("end marker before the declared size")
      if (pos != n) bad("alone stream ended early")
      if (!dec.consumed) bad("alone stream has trailing garbage")
      out
    } else {
      // unknown size: grow under the budget until the end marker
      var buf = new Array[Byte](64 * 1024)
      var pos = 0
      while (!dec.sawMarker) {
        val soft = buf.length - 280 // ≥ max match length of headroom
        pos = dec.run(buf, pos, soft, buf.length, 0, dictSize, allowMarker = true)
        if (!dec.sawMarker) {
          if (buf.length.toLong * 2 > cap + 280L)
            throw new Refusal("too_large", s"alone stream inflates past $cap bytes")
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        }
      }
      if (pos > cap) throw new Refusal("too_large", s"alone stream inflates past $cap bytes")
      if (!dec.consumed) bad("alone stream has trailing garbage")
      java.util.Arrays.copyOf(buf, pos)
    }
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

  /** Decode one stream starting at `off`; returns the offset past it. */
  /** Raw LZMA2 chunk stream (the 7z 0x21 coder payload — exactly the xz
    * block body without the xz block framing): decode chunks until the
    * 0x00 end marker, budget-capped. Exposed for [[SevenZip]].
    */
  private[ops] def decodeLzma2Raw(bytes: Array[Byte], off0: Int, end: Int,
      dictSize: Long): Array[Byte] = {
    var off = off0
    def need(n: Int): Unit = if (off + n > end) bad("truncated LZMA2 stream")
    def u8(): Int = { need(1); val v = bytes(off) & 0xff; off += 1; v }
    val block = new Lzma2BlockDecoder(dictSize, graft.core.Budget.maxInflatedBytes)
    var endOfChunks = false
    while (!endOfChunks) {
      val control = u8()
      if (control == 0x00) endOfChunks = true
      else if (control == 0x01 || control == 0x02) {
        val size = ((u8() << 8) | u8()) + 1
        need(size)
        block.uncompressedChunk(bytes, off, size, dictReset = control == 0x01)
        off += size
      } else if (control >= 0x80) {
        val unpacked = ((control & 0x1f) << 16 | (u8() << 8) | u8()) + 1
        val packed = ((u8() << 8) | u8()) + 1
        val reset = (control >>> 5) & 3
        val props = if (reset >= 2) u8() else -1
        need(packed)
        block.lzmaChunk(bytes, off, packed, unpacked, reset, props)
        off += packed
      } else bad(f"LZMA2 control byte 0x$control%02x")
    }
    if (off != end) bad(s"${end - off} trailing bytes after the LZMA2 end marker")
    block.result()
  }

  /** Raw LZMA1 stream with out-of-band props + known size (the 7z
    * 0x030101 coder layout): decoded by synthesizing the equivalent
    * `.lzma` (alone) header in front. Both wild layouts are handled —
    * marker-free streams sized by the declared length (what 7-zip and
    * the tukaani encoder emit) and end-marker-terminated streams
    * (what liblzma's raw LZMA1 encoder emits, which cannot know the
    * size up front). Exposed for [[SevenZip]].
    */
  private[ops] def decodeLzma1Raw(bytes: Array[Byte], off: Int, len: Int,
      props: Array[Byte], unpackSize: Long): Array[Byte] = {
    if (props.length != 5) bad(s"LZMA1 props of ${props.length} bytes")
    def framed(size: Long): Array[Byte] = {
      val f = new Array[Byte](13 + len)
      System.arraycopy(props, 0, f, 0, 5)
      var i = 0
      while (i < 8) { f(5 + i) = ((size >>> (8 * i)) & 0xff).toByte; i += 1 }
      System.arraycopy(bytes, off, f, 13, len)
      f
    }
    val out =
      try decompressAlone(framed(unpackSize))
      catch {
        // "trailing garbage" = bytes left after the declared size was
        // produced; an end-marker stream looks exactly like that, so
        // retry size-unknown (marker-driven). Budget/props refusals
        // propagate — a second attempt cannot change them.
        case e: Refusal if e.kind == "bad_frame" =>
          decompressAlone(framed(-1L))
      }
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
    val checkSize = checkId match {
      case 0 => 0
      case 1 => 4
      case 4 => 8
      case 10 => 32
      case _ => throw new Refusal("unsupported", s"check id $checkId")
    }

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

        // ---- LZMA2 chunk walk
        val dataStart = off
        val block = new Lzma2BlockDecoder(dictSize, cap - out.size())
        var endOfChunks = false
        while (!endOfChunks) {
          val control = u8()
          if (control == 0x00) endOfChunks = true
          else if (control == 0x01 || control == 0x02) {
            val size = ((u8() << 8) | u8()) + 1
            need(size)
            block.uncompressedChunk(bytes, off, size, dictReset = control == 0x01)
            off += size
          } else if (control >= 0x80) {
            val unpacked = ((control & 0x1f) << 16 | (u8() << 8) | u8()) + 1
            val packed = ((u8() << 8) | u8()) + 1
            val reset = (control >>> 5) & 3
            // the props byte (reset >= 2) is NOT counted in the chunk's
            // compressed size — it sits between the size fields and data
            val props = if (reset >= 2) u8() else -1
            need(packed)
            block.lzmaChunk(bytes, off, packed, unpacked, reset, props)
            off += packed
          } else bad(f"LZMA2 control byte 0x$control%02x")
        }
        val blockData = block.result()
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
        // integrity check
        checkId match {
          case 0 => ()
          case 1 =>
            if (u32le() != (crc32(blockData, 0, blockData.length) & 0xffffffffL))
              bad("block CRC32 mismatch")
          case 4 =>
            need(8)
            var stored64 = 0L
            var i = 0
            while (i < 8) { stored64 |= (bytes(off + i) & 0xffL) << (8 * i); i += 1 }
            off += 8
            if (stored64 != crc64(blockData, 0, blockData.length))
              bad("block CRC64 mismatch")
          case 10 =>
            need(32)
            val md = java.security.MessageDigest.getInstance("SHA-256")
            val digest = md.digest(blockData)
            var i = 0
            while (i < 32) {
              if (digest(i) != bytes(off + i)) bad("block SHA-256 mismatch")
              i += 1
            }
            off += 32
        }
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

  // =================================================================
  // LZMA2 block decoder: owns the block's dictionary (match distances
  // reach across chunks unless a chunk requests dict reset) and the
  // persistent LZMA probability state (persists unless state reset).
  // =================================================================
  private final class Lzma2BlockDecoder(dictSize: Long, budget: Long) {
    if (budget < 0) throw new Refusal("too_large", "budget exhausted before block")

    private var buf = new Array[Byte](4096)
    private var n = 0
    private var dictStart = 0 // dict reset barrier: matches may not reach before it
    private var lzma: LzmaDecoder = null
    private var propsKnown = false

    private def ensure(extra: Int): Unit = {
      if (n.toLong + extra > budget)
        throw new Refusal("too_large", s"xz inflates past budget")
      if (n + extra > buf.length) {
        var cap = buf.length.toLong
        while (cap < n.toLong + extra) cap *= 2
        buf = java.util.Arrays.copyOf(buf, math.min(cap, Int.MaxValue.toLong).toInt)
      }
    }

    def uncompressedChunk(src: Array[Byte], off: Int, len: Int, dictReset: Boolean): Unit = {
      if (dictReset) dictStart = n
      ensure(len)
      System.arraycopy(src, off, buf, n, len)
      n += len
      // an uncompressed chunk invalidates LZMA state: the next LZMA chunk
      // must request a state reset (spec §5.3.1)
      if (lzma != null) lzma.invalidate()
    }

    def lzmaChunk(src: Array[Byte], off: Int, packed: Int, unpacked: Int,
        reset: Int, props: Int): Unit = {
      ensure(unpacked)
      reset match {
        case 0 =>
          if (lzma == null || !propsKnown) bad("LZMA chunk before props")
          if (!lzma.valid) bad("continuation chunk after state invalidation")
        case 1 =>
          if (lzma == null || !propsKnown) bad("LZMA chunk before props")
          lzma.resetState()
        case 2 =>
          lzma = newDecoder(props)
          propsKnown = true
        case 3 =>
          dictStart = n
          lzma = newDecoder(props)
          propsKnown = true
      }
      if (packed < 5) bad("LZMA chunk shorter than range-coder init")
      n = lzma.decode(src, off, packed, buf, n, unpacked, dictStart, dictSize)
    }

    private def newDecoder(props: Int): LzmaDecoder = {
      if (props >= 9 * 5 * 5) bad(s"props byte $props")
      val lc = props % 9
      val lp = (props / 9) % 5
      val pb = props / 45
      if (lc + lp > 4) throw new Refusal("unsupported", s"lc+lp > 4 (lc=$lc lp=$lp)")
      new LzmaDecoder(lc, lp, pb)
    }

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  // =================================================================
  // LZMA proper: range decoder + the reference probability model.
  // =================================================================
  private val NStates = 12
  private val InitProb: Short = 1024 // 2048/2

  private final class LzmaDecoder(lc: Int, lp: Int, pb: Int) {
    private val posMask = (1 << pb) - 1
    private val litPosMask = (1 << lp) - 1

    // probability arrays (reset together on state reset)
    private val isMatch = new Array[Short](NStates << 4)
    private val isRep = new Array[Short](NStates)
    private val isRepG0 = new Array[Short](NStates)
    private val isRepG1 = new Array[Short](NStates)
    private val isRepG2 = new Array[Short](NStates)
    private val isRep0Long = new Array[Short](NStates << 4)
    private val posSlot = new Array[Short](4 * 64)
    private val specPos = new Array[Short](115)
    private val align = new Array[Short](16)
    private val lenChoice = new Array[Short](2)
    private val lenChoice2 = new Array[Short](2)
    private val lenLow = new Array[Short](2 * 16 * 8)
    private val lenMid = new Array[Short](2 * 16 * 8)
    private val lenHigh = new Array[Short](2 * 256)
    private val literals = new Array[Short]((0x300 << (lc + lp)))

    private var state = 0
    private var rep0 = 0
    private var rep1 = 0
    private var rep2 = 0
    private var rep3 = 0
    var valid = true

    resetState()

    def invalidate(): Unit = valid = false

    def resetState(): Unit = {
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      java.util.Arrays.fill(isMatch, InitProb)
      java.util.Arrays.fill(isRep, InitProb)
      java.util.Arrays.fill(isRepG0, InitProb)
      java.util.Arrays.fill(isRepG1, InitProb)
      java.util.Arrays.fill(isRepG2, InitProb)
      java.util.Arrays.fill(isRep0Long, InitProb)
      java.util.Arrays.fill(posSlot, InitProb)
      java.util.Arrays.fill(specPos, InitProb)
      java.util.Arrays.fill(align, InitProb)
      java.util.Arrays.fill(lenChoice, InitProb)
      java.util.Arrays.fill(lenChoice2, InitProb)
      java.util.Arrays.fill(lenLow, InitProb)
      java.util.Arrays.fill(lenMid, InitProb)
      java.util.Arrays.fill(lenHigh, InitProb)
      java.util.Arrays.fill(literals, InitProb)
      valid = true
    }

    // range coder registers (32-bit values kept in Longs)
    private var range = 0L
    private var code = 0L
    private var in: Array[Byte] = null
    private var inPos = 0
    private var inEnd = 0

    private def nextByte(): Int = {
      if (inPos >= inEnd) bad("range coder ran past chunk end")
      val b = in(inPos) & 0xff
      inPos += 1
      b
    }

    private def normalize(): Unit =
      if (range < 0x1000000L) {
        range <<= 8
        code = ((code << 8) | nextByte()) & 0xffffffffL
      }

    // normalization runs at the END of each decode step, as in the
    // reference decoder — the placement determines exactly how many bytes
    // a chunk consumes, which the strict inPos == inEnd check relies on
    private def decodeBit(probs: Array[Short], idx: Int): Int = {
      val p = probs(idx)
      val bound = (range >>> 11) * p
      val bit =
        if (code < bound) {
          range = bound
          probs(idx) = (p + ((2048 - p) >>> 5)).toShort
          0
        } else {
          range -= bound
          code -= bound
          probs(idx) = (p - (p >>> 5)).toShort
          1
        }
      normalize()
      bit
    }

    private def decodeDirect(nBits: Int): Int = {
      var res = 0
      var i = nBits
      while (i > 0) {
        range >>>= 1
        code -= range
        if (code < 0) {
          code += range
          res <<= 1
        } else {
          res = (res << 1) | 1
        }
        normalize()
        i -= 1
      }
      res
    }

    private def bitTree(probs: Array[Short], off: Int, nBits: Int): Int = {
      var m = 1
      var i = nBits
      while (i > 0) { m = (m << 1) | decodeBit(probs, off + m); i -= 1 }
      m - (1 << nBits)
    }

    private def bitTreeReverse(probs: Array[Short], off: Int, nBits: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < nBits) {
        val b = decodeBit(probs, off + m)
        m = (m << 1) | b
        sym |= b << i
        i += 1
      }
      sym
    }

    /** len coder: choice → low[posState] (3 bits, +2) / choice2 →
      * mid[posState] (3 bits, +10) / high (8 bits, +18).
      */
    private def decodeLen(which: Int, posState: Int): Int =
      if (decodeBit(lenChoice, which) == 0)
        2 + bitTree(lenLow, (which * 16 + posState) * 8, 3)
      else if (decodeBit(lenChoice2, which) == 0)
        10 + bitTree(lenMid, (which * 16 + posState) * 8, 3)
      else
        18 + bitTree(lenHigh, which * 256, 8)

    /** Decode exactly `unpacked` bytes from `src[off, off+len)` into
      * `dst` starting at `dstPos`; returns the new dst position. The
      * dictionary is dst[dictStart, dstPos): match distances may not
      * reach before dictStart (LZMA2 dict reset) nor exceed `dictSize`.
      */
    def decode(src: Array[Byte], off: Int, len: Int, dst: Array[Byte],
        dstPos0: Int, unpacked: Int, dictStart: Int, dictSize: Long): Int = {
      initRc(src, off, len)
      val dstPos = run(dst, dstPos0, dstPos0 + unpacked, dstPos0 + unpacked,
        dictStart, dictSize, allowMarker = false)
      if (inPos != inEnd) bad("LZMA chunk did not consume its declared size")
      // liblzma's rc_is_finished: the encoder's 5-byte flush guarantees the
      // decoder ends each chunk with code == 0 — a corrupted range-coder
      // tail that happened not to flip any decision lands here (round-15
      // differential parity find: we accepted 50 mutants liblzma refuses)
      if (code != 0L) bad("range coder not flushed at chunk end")
      dstPos
    }

    def initRc(src: Array[Byte], off: Int, len: Int): Unit = {
      in = src; inPos = off; inEnd = off + len
      // rc init: one zero byte then 4 code bytes, big-endian
      if (nextByte() != 0) bad("range coder init byte")
      range = 0xffffffffL
      code = ((nextByte().toLong << 24) | (nextByte() << 16) | (nextByte() << 8) |
        nextByte()) & 0xffffffffL
    }

    /** set by [[run]] when an end marker (dist 0xFFFFFFFF) is decoded. */
    var sawMarker = false

    /** all input consumed (the alone container's trailing-garbage check). */
    def consumed: Boolean = inPos == inEnd

    /** Decode into dst until `softEnd` bytes exist (or the end marker,
      * when allowed — the `.lzma` alone-container termination). Copies
      * may run up to `hardEnd` (callers leave ≥273 bytes of headroom
      * between the two so a match never needs a mid-copy buffer grow);
      * the LZMA2 path passes softEnd == hardEnd (exact chunk sizes).
      */
    def run(dst: Array[Byte], dstPos0: Int, softEnd: Int, hardEnd: Int,
        dictStart: Int, dictSize: Long, allowMarker: Boolean): Int = {
      sawMarker = false
      var dstPos = dstPos0
      val dstEnd = hardEnd
      while (dstPos < softEnd && !sawMarker) {
        val posState = (dstPos - dictStart) & posMask
        if (decodeBit(isMatch, (state << 4) + posState) == 0) {
          // literal
          val prev = if (dstPos > dictStart) dst(dstPos - 1) & 0xff else 0
          val litState = (((dstPos - dictStart) & litPosMask) << lc) + (prev >>> (8 - lc))
          val base = 0x300 * litState
          var sym = 1
          if (state >= 7) {
            // matched literal: fold in the byte at distance rep0+1
            if (dstPos - rep0 - 1 < dictStart) bad("matched literal before dict start")
            var matchByte = dst(dstPos - rep0 - 1) & 0xff
            var break = false
            while (!break && sym < 0x100) {
              val matchBit = (matchByte >> 7) & 1
              matchByte <<= 1
              val bit = decodeBit(literals, base + ((1 + matchBit) << 8) + sym)
              sym = (sym << 1) | bit
              if (matchBit != bit) break = true
            }
          }
          while (sym < 0x100) sym = (sym << 1) | decodeBit(literals, base + sym)
          dst(dstPos) = (sym & 0xff).toByte
          dstPos += 1
          state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
        } else {
          var matchLen = 0
          if (decodeBit(isRep, state) == 0) {
            // new match
            matchLen = decodeLen(0, posState)
            rep3 = rep2; rep2 = rep1; rep1 = rep0
            val lenState = math.min(matchLen - 2, 3)
            val slot = bitTree(posSlot, lenState * 64, 6)
            if (slot < 4) rep0 = slot
            else {
              val nDirect = (slot >> 1) - 1
              // distances are 32-bit UNSIGNED (slot 63 → 3 << 30 overflows
              // a signed Int); computed in a Long, validated, then stored
              var dist = (2L | (slot & 1)) << nDirect
              if (slot < 14)
                // base PosDecoders + dist - slot, probe indices m ≥ 1
                dist += bitTreeReverse(specPos, (dist - slot).toInt, nDirect)
              else {
                dist += decodeDirect(nDirect - 4).toLong << 4
                dist += bitTreeReverse(align, 0, 4)
              }
              if (dist == 0xffffffffL) {
                if (!allowMarker) bad("end marker inside a sized LZMA2 chunk")
                sawMarker = true
                matchLen = -2 // no bytes to copy; outer loop exits
              } else {
                if (dist + 1 > dictSize) bad("match distance past dict size")
                if (dstPos.toLong - dist - 1 < dictStart) bad("match before dict start")
                rep0 = dist.toInt
              }
            }
            state = if (state < 7) 7 else 10
          } else {
            // repeated match
            if (decodeBit(isRepG0, state) == 0) {
              if (decodeBit(isRep0Long, (state << 4) + posState) == 0) {
                // short rep: copy 1 byte at rep0
                state = if (state < 7) 9 else 11
                if (dstPos - rep0 - 1 < dictStart) bad("shortrep before dict start")
                dst(dstPos) = dst(dstPos - rep0 - 1)
                dstPos += 1
                // continue main loop
                matchLen = -1
              }
            } else {
              val dist =
                if (decodeBit(isRepG1, state) == 0) rep1
                else if (decodeBit(isRepG2, state) == 0) { val d = rep2; rep2 = rep1; d }
                else { val d = rep3; rep3 = rep2; rep2 = rep1; d }
              rep1 = rep0
              rep0 = dist
            }
            if (matchLen != -1) {
              matchLen = decodeLen(1, posState)
              state = if (state < 7) 8 else 11
            }
          }
          if (matchLen > 0) {
            if (rep0.toLong + 1 > dictSize) bad("match distance past dict size")
            if (dstPos - rep0 - 1 < dictStart) bad("match before dict start")
            if (dstPos + matchLen > dstEnd) bad("match overruns chunk size")
            var i = 0
            val srcBase = dstPos - rep0 - 1
            while (i < matchLen) { dst(dstPos + i) = dst(srcBase + i); i += 1 }
            dstPos += matchLen
          }
        }
      }
      dstPos
    }
  }
}
