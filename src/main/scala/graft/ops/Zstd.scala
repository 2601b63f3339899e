package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import com.github.luben.zstd.ZstdInputStream

import graft.core.Refusal

/** Zstandard / LZ4-frame shard compression (RFC 8878 / the LZ4 frame
  * format): the compression layer modern crawl corpora actually ship —
  * public web-text dumps distribute `.jsonl.zst` shards, and LZ4 frames
  * are the low-CPU alternative for hot intermediate shards. Backed by the
  * zstd-jni / lz4-java libraries Spark itself ships for shuffle/parquet
  * compression, so the codecs here are the exact ones a production
  * cluster already trusts.
  *
  * Contract matches [[Zip]]/[[Warc]]/[[Tar]]: deterministic writer
  * (fixed level, no content-size-dependent framing options), strict
  * capped reader (zstd's max ratio is even steeper than DEFLATE's
  * ~1032:1 — a one-byte-per-128KiB-block RLE frame can demand GiBs, so
  * output is bounded by [[graft.core.Budget.maxInflatedBytes]]
  * mid-stream, BEFORE the frame checksum could ever fail), and typed
  * fail-stop refusals (`bad_magic` / `bad_frame` / `too_large`) the safe
  * scans turn into one error row per rotten shard.
  */
object Zstd {

  /** zstd frame magic, little-endian 0xFD2FB528. */
  private val ZstdMagic = Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte)
  /** LZ4 frame magic, little-endian 0x184D2204. */
  private val Lz4Magic = Array(0x04, 0x22, 0x4d, 0x18).map(_.toByte)

  def isZstd(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && ZstdMagic.indices.forall(i => bytes(i) == ZstdMagic(i))

  def isLz4(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && Lz4Magic.indices.forall(i => bytes(i) == Lz4Magic(i))

  /** One zstd frame at a fixed level: same input → same bytes (the
    * reproducible-shard requirement tar/zip already pin).
    */
  def compress(bytes: Array[Byte], level: Int = 3): Array[Byte] =
    // one-shot static call: the streaming ZstdOutputStream allocates a
    // native context per frame, which dominates wall-clock when a shard
    // scan writes millions of small frames (measured 7.2 -> ~1 s at
    // sf0.1); the one-shot API reuses a thread-local context and stamps
    // the frame header with the content size, which the reader exploits
    com.github.luben.zstd.Zstd.compress(bytes, level)

  // lz4-java's LZ4FrameOutputStream/InputStream cost ~4 ms PER STREAM to
  // construct (measured: 500 empty streams = 2.0 s) — pathological when a
  // shard scan touches millions of small frames. The frame format itself
  // is a thin public spec over the block codec, so the frame walk is
  // hand-rolled here over reused factory instances (block compress of the
  // same payload: 8 µs). Interop both directions with lz4-java's own
  // frame streams is pinned by ZstdSpec.
  private lazy val lz4Factory = net.jpountz.lz4.LZ4Factory.fastestInstance()
  private lazy val xxFactory = net.jpountz.xxhash.XXHashFactory.fastestInstance()
  private val Lz4BlockMax = 64 * 1024

  private def xxh32(b: Array[Byte], off: Int, len: Int): Int =
    xxFactory.hash32().hash(b, off, len, 0)

  private def writeIntLE(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  /** One LZ4 frame (v1, independent 64 KiB blocks, content size declared,
    * content checksum on — the LZ4 frame spec's recommended defaults).
    */
  def compressLz4(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    out.write(Lz4Magic, 0, 4)
    // descriptor: FLG (version 01, block-indep, content-size, content-
    // checksum), BD (64 KiB max block), 8-byte LE content size, HC byte
    val desc = new ByteArrayOutputStream(16)
    desc.write(0x6c); desc.write(0x40)
    val n = bytes.length.toLong
    var i = 0
    while (i < 8) { desc.write(((n >>> (8 * i)) & 0xff).toInt); i += 1 }
    val db = desc.toByteArray
    out.write(db, 0, db.length)
    out.write((xxh32(db, 0, db.length) >>> 8) & 0xff)
    val comp = lz4Factory.fastCompressor()
    var off = 0
    while (off < bytes.length) {
      val len = math.min(Lz4BlockMax, bytes.length - off)
      val dst = new Array[Byte](comp.maxCompressedLength(len))
      val cl = comp.compress(bytes, off, len, dst, 0, dst.length)
      if (cl >= len) { // incompressible: store raw, high bit set
        writeIntLE(out, len | 0x80000000)
        out.write(bytes, off, len)
      } else {
        writeIntLE(out, cl)
        out.write(dst, 0, cl)
      }
      off += len
    }
    writeIntLE(out, 0) // EndMark
    writeIntLE(out, xxh32(bytes, 0, bytes.length)) // content checksum
    out.toByteArray
  }

  /** Strict decompress of a zstd frame with the inflate-bomb cap. */
  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isZstd(bytes))
      throw new Refusal("bad_magic", "not a zstd frame")
    // fast path: frames that DECLARE their content size (all frames this
    // writer emits) decode via the one-shot API — no native streaming
    // context per frame. The declared size is attacker-controlled, so it
    // is checked against the budget BEFORE any allocation; lying frames
    // (declared != actual) fail the one-shot decode cleanly. Frames with
    // unknown content size fall back to the capped streaming drain.
    val declared = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
    if (declared >= 0L) {
      if (declared > graft.core.Budget.maxInflatedBytes)
        throw new Refusal("too_large",
          s"zstd frame declares $declared bytes past the budget")
      try com.github.luben.zstd.Zstd.decompress(bytes, declared.toInt)
      catch {
        case e: com.github.luben.zstd.ZstdException =>
          throw new Refusal("bad_frame", s"corrupt zstd frame: ${e.getMessage}")
      }
    } else
      drainCapped(new ZstdInputStream(new ByteArrayInputStream(bytes)), "zstd")
  }

  /** Strict decompress of an LZ4 frame with the inflate-bomb cap. */
  def decompressLz4(bytes: Array[Byte]): Array[Byte] = {
    if (!isLz4(bytes))
      throw new Refusal("bad_magic", "not an lz4 frame")
    def bad(msg: String) = throw new Refusal("bad_frame", msg)
    val cap = graft.core.Budget.maxInflatedBytes
    var pos = 4
    def need(n: Int, what: String): Unit =
      if (bytes.length - pos < n) bad(s"lz4 $what ends early")
    def u8(): Int = { need(1, "frame"); val v = bytes(pos) & 0xff; pos += 1; v }
    def u32(): Int = {
      need(4, "frame")
      val v = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8) |
        ((bytes(pos + 2) & 0xff) << 16) | ((bytes(pos + 3) & 0xff) << 24)
      pos += 4
      v
    }
    val descStart = pos
    val flg = u8()
    if ((flg >>> 6) != 1) bad(s"unsupported lz4 frame version ${flg >>> 6}")
    if ((flg & 0x02) != 0) bad("reserved FLG bit set")
    val blockChecksum = (flg & 0x10) != 0
    val hasSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    if ((flg & 0x01) != 0) bad("dictionary frames unsupported")
    val bd = u8()
    val bmaxCode = (bd >>> 4) & 0x07
    if (bmaxCode < 4 || bmaxCode > 7 || (bd & 0x8f) != 0) bad("bad BD byte")
    val bmax = 1 << (8 + 2 * bmaxCode) // 4->64KB .. 7->4MB
    var declaredSize = -1L
    if (hasSize) {
      need(8, "content size")
      var declared = 0L
      var i = 7
      while (i >= 0) { declared = (declared << 8) | (bytes(pos + i) & 0xffL); i -= 1 }
      pos += 8
      if (declared < 0 || declared > cap)
        throw new Refusal("too_large",
          s"lz4 frame declares $declared bytes past the budget")
      declaredSize = declared
    }
    val hc = u8()
    if (hc != ((xxh32(bytes, descStart, pos - 1 - descStart) >>> 8) & 0xff))
      bad("header checksum mismatch")
    val out = new ByteArrayOutputStream(math.min(bytes.length.toLong * 3, cap).toInt.max(64))
    val dec = lz4Factory.safeDecompressor()
    val dst = new Array[Byte](bmax)
    var end = false
    while (!end) {
      val size = u32()
      if (size == 0) end = true
      else {
        val raw = (size & 0x80000000) != 0
        val len = size & 0x7fffffff
        if (len > bmax + (bmax >> 8)) bad(s"block of $len bytes exceeds the declared maximum")
        need(len, "block")
        if (raw) out.write(bytes, pos, len)
        else {
          val n =
            try dec.decompress(bytes, pos, len, dst, 0)
            catch { case e: net.jpountz.lz4.LZ4Exception => bad(s"corrupt lz4 block: ${e.getMessage}") }
          out.write(dst, 0, n)
        }
        if (out.size().toLong > cap)
          throw new Refusal("too_large", s"lz4 frame inflates past $cap bytes")
        // block checksum covers the block data AS STORED (spec: the
        // undecoded bytes), for raw and compressed blocks alike
        val blockCrc = xxh32(bytes, pos, len)
        pos += len
        if (blockChecksum && u32() != blockCrc) bad("block checksum mismatch")
      }
    }
    val result = out.toByteArray
    // a declared content size must match what the blocks produced — a
    // corrupted size field decoded silently before (round-15 JVM parity
    // find; lz4-java and the C reference both validate it)
    if (declaredSize >= 0 && result.length.toLong != declaredSize)
      bad(s"content size ${result.length} != declared $declaredSize")
    if (contentChecksum && u32() != xxh32(result, 0, result.length))
      bad("content checksum mismatch")
    result
  }

  def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 0x1f && bytes(1) == 0x8b.toByte

  /** gzip (RFC 1952), including CONCATENATED members — the layout
    * `.jsonl.gz` corpus dumps ship (one member per flush point; readers
    * that stop at the first member silently truncate). Decoded
    * member-by-member with a raw Inflater rather than GZIPInputStream:
    * the JDK stream's readTrailer() swallows a malformed SUBSEQUENT
    * member (its internal catch returns "end of stream"), which would
    * decode a shard whose second member is corrupt as 'ok' with silently
    * truncated output — the exact failure this reader exists to refuse.
    * Per-member CRC32 + ISIZE + optional FHCRC are verified, every input
    * byte must be consumed, and inflation is capped mid-stream by
    * [[graft.core.Budget.maxInflatedBytes]].
    */
  def decompressGzip(bytes: Array[Byte]): Array[Byte] = {
    if (!isGzip(bytes))
      throw new Refusal("bad_magic", "not a gzip member")
    def bad(msg: String) = throw new Refusal("bad_frame", msg)
    val cap = graft.core.Budget.maxInflatedBytes
    val out = new ByteArrayOutputStream(math.min(bytes.length.toLong * 3 + 64, 1 << 20).toInt)
    var pos = 0
    def need(n: Int, what: String): Unit =
      if (n < 0 || pos.toLong + n > bytes.length) bad(s"gzip stream ends inside $what")
    def u16(what: String): Int = {
      need(2, what)
      val v = (bytes(pos) & 0xff) | ((bytes(pos + 1) & 0xff) << 8); pos += 2; v
    }
    def u32le(what: String): Long = {
      need(4, what)
      var v = 0L; var i = 0
      while (i < 4) { v |= (bytes(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 4; v
    }
    while (pos < bytes.length) {
      val memberStart = pos
      need(10, "gzip header")
      if (bytes(pos) != 0x1f || bytes(pos + 1) != 0x8b.toByte) bad("bad member magic")
      val cm = bytes(pos + 2) & 0xff
      if (cm != 8) bad(s"unsupported compression method $cm")
      val flg = bytes(pos + 3) & 0xff
      if ((flg & 0xe0) != 0) bad("reserved FLG bits set")
      pos += 10
      if ((flg & 4) != 0) { val xlen = u16("FEXTRA length"); need(xlen, "FEXTRA"); pos += xlen }
      if ((flg & 8) != 0) { while ({ need(1, "FNAME"); bytes(pos) != 0 }) pos += 1; pos += 1 }
      if ((flg & 16) != 0) { while ({ need(1, "FCOMMENT"); bytes(pos) != 0 }) pos += 1; pos += 1 }
      if ((flg & 2) != 0) {
        val hcrc = new java.util.zip.CRC32
        hcrc.update(bytes, memberStart, pos - memberStart)
        if (u16("FHCRC") != (hcrc.getValue & 0xffff).toInt) bad("header CRC16 mismatch")
      }
      val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate body
      val crc = new java.util.zip.CRC32
      var isize = 0L
      try {
        inf.setInput(bytes, pos, bytes.length - pos)
        val buf = new Array[Byte](64 * 1024)
        while (!inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch {
              case e: java.util.zip.DataFormatException =>
                bad(s"corrupt deflate: ${String.valueOf(e.getMessage)}")
            }
          if (n > 0) {
            crc.update(buf, 0, n); isize += n
            out.write(buf, 0, n)
            if (out.size().toLong > cap)
              throw new Refusal("too_large", s"gzip inflates past $cap bytes")
          } else if (!inf.finished() && (inf.needsInput() || inf.needsDictionary()))
            bad("gzip deflate stream ends early")
        }
        pos = bytes.length - inf.getRemaining
      } finally inf.end()
      if (u32le("member CRC32") != crc.getValue) bad("member CRC32 mismatch")
      if (u32le("member ISIZE") != (isize & 0xffffffffL)) bad("member ISIZE mismatch")
      // loop: pos now at the next member's magic (or end of input) — any
      // trailing garbage fails the header checks above, never silently ok
    }
    out.toByteArray
  }

  /** gzip writer (one member; concatenate outputs for the multi-member
    * layout). Deterministic: no mtime, no name, fixed level.
    */
  def compressGzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    val a = out.toByteArray
    a(4) = 0; a(5) = 0; a(6) = 0; a(7) = 0 // zero MTIME for determinism
    a(9) = 0 // OS byte: unknown->0 varies by JDK; pin it
    a
  }

  /** Codec sniff by magic: the mixed-codec shard directory case
    * (zstd / LZ4 frame / gzip — round 12 adds gzip, the third codec a
    * long-lived corpus directory accumulates).
    */
  def decompressAny(bytes: Array[Byte]): Array[Byte] =
    if (isZstd(bytes)) decompress(bytes)
    else if (isLz4(bytes)) decompressLz4(bytes)
    else if (isGzip(bytes)) decompressGzip(bytes)
    else throw new Refusal("bad_magic", "neither zstd, lz4, nor gzip")

  /** `Right(bytes)` or `Left(errorKind)` — the one-error-row-per-shard
    * contract for fault-tolerant scans.
    */
  def decompressAnySafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompressAny(bytes), "bad_frame")

  /** Full-matrix codec sniff (round 13): decompressAny's three native
    * codecs plus the hand-rolled bzip2, xz and snappy-framed readers —
    * every magic-bearing compression container the corpus layer decodes
    * (legacy `.lzma` has NO magic and stays an explicit
    * [[Xz.decompressAlone]] call). The file-level JSONL source and the
    * mixed-codec streaming scan both route through this, so one sniff
    * order is the single source of truth.
    */
  def decompressSniff(bytes: Array[Byte]): Array[Byte] =
    if (Bzip2.isBzip2(bytes)) Bzip2.decompress(bytes)
    else if (Xz.isXz(bytes)) Xz.decompress(bytes)
    else if (Snappy.isSnappyFramed(bytes)) Snappy.decompress(bytes)
    else decompressAny(bytes)

  def decompressSniffSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompressSniff(bytes), "bad_frame")

  /** Extension-aware sibling of [[decompressSniff]] for sources that know
    * the filename: brotli (RFC 7932) carries NO magic bytes, so `.br`
    * routes by name (the web convention — `Content-Encoding: br`,
    * `.jsonl.br` dumps); everything else goes through the magic sniff.
    */
  def decompressNamed(file: String, bytes: Array[Byte]): Array[Byte] =
    if (file.endsWith(".br")) Brotli.decompress(bytes)
    else decompressSniff(bytes)

  def decompressNamedSafe(file: String, bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompressNamed(file, bytes), "bad_frame")

  private def drainCapped(in: java.io.InputStream, codec: String): Array[Byte] = {
    val cap = graft.core.Budget.maxInflatedBytes
    val out = new ByteArrayOutputStream(4096)
    val buf = new Array[Byte](8192)
    try {
      var n = in.read(buf)
      while (n > 0) {
        out.write(buf, 0, n)
        if (out.size().toLong > cap)
          throw new Refusal("too_large",
            s"$codec frame inflates past $cap bytes")
        n = in.read(buf)
      }
    } catch {
      case e: Refusal => throw e
      case e: java.io.IOException =>
        throw new Refusal("bad_frame", s"corrupt $codec frame: ${e.getMessage}")
    } finally in.close()
    out.toByteArray
  }
}
