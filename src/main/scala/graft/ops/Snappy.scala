package graft.ops

/** Snappy framed-format shard compression (`.sz` / Hadoop-ecosystem
  * intermediate shards) — hand-rolled both directions from the two public
  * spec files in google/snappy (`format_description.txt` for the block
  * format, `framing_format.txt` for the chunked container with masked
  * CRC32C). Snappy is the low-CPU shard codec Hadoop/Spark pipelines
  * default to; the framing format is the streamable container the
  * `.sz`-suffixed dumps ship.
  *
  * Independence is pinned by SnappySpec against the TWO reference
  * implementations on Spark's own classpath — snappy-java (JNI libsnappy)
  * and aircompressor (pure-JVM) — in both directions: they decode our
  * blocks, we decode theirs.
  *
  * Contract matches [[Zstd]]/[[Bzip2]]/[[Xz]]: deterministic writer
  * (fixed 64 KiB chunking, hash-table greedy matcher), strict capped
  * reader (declared lengths checked against
  * [[graft.core.Budget.maxInflatedBytes]] BEFORE allocation; every copy
  * bounded), typed fail-stop refusals (`bad_magic` / `bad_frame` /
  * `too_large` / `unsupported` for reserved unskippable chunks).
  */
object Snappy {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  private val StreamId: Array[Byte] =
    Array(0xff, 0x06, 0x00, 0x00, 's', 'N', 'a', 'P', 'p', 'Y').map(_.toByte)

  def isSnappyFramed(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && StreamId.indices.forall(i => bytes(i) == StreamId(i))

  private val MaxChunk = 65536

  private def maskedCrc(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C
    c.update(bytes, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  // ------------------------------------------------------- block format

  /** Raw snappy block compress: varint length + literal/copy elements
    * from a 64 Ki hash-table greedy matcher (4-byte matches, offsets ≤
    * 64 KiB chunks so the 2-byte-offset copy form always suffices).
    */
  def compressBlock(input: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
    // varint32 uncompressed length
    var v = len
    while ((v & ~0x7f) != 0) { out.write((v & 0x7f) | 0x80); v >>>= 7 }
    out.write(v)

    def emitLiteral(from: Int, until: Int): Unit = {
      var s = from
      while (s < until) {
        val n = math.min(until - s, 65536)
        if (n <= 60) out.write(((n - 1) << 2))
        else if (n <= 256) { out.write(60 << 2); out.write(n - 1) }
        else { out.write(61 << 2); out.write((n - 1) & 0xff); out.write(((n - 1) >> 8) & 0xff) }
        out.write(input, s, n)
        s += n
      }
    }
    def emitCopy(offset: Int, length: Int): Unit = {
      var left = length
      // 2-byte-offset form: len 1..64
      while (left > 0) {
        val n = math.min(left, 64)
        // avoid a tail copy shorter than 4 falling below the next match
        out.write(((n - 1) << 2) | 2)
        out.write(offset & 0xff)
        out.write((offset >> 8) & 0xff)
        left -= n
      }
    }

    val end = off + len
    val table = new Array[Int](1 << 14)
    java.util.Arrays.fill(table, -1)
    def hash(p: Int): Int = {
      val x = ((input(p) & 0xff)) | ((input(p + 1) & 0xff) << 8) |
        ((input(p + 2) & 0xff) << 16) | ((input(p + 3) & 0xff) << 24)
      (x * 0x1e35a7bd) >>> 18
    }
    var s = off
    var lit = off
    while (s + 4 <= end) {
      val h = hash(s)
      val cand = table(h)
      table(h) = s
      if (cand >= off && s - cand <= 65535 &&
          input(cand) == input(s) && input(cand + 1) == input(s + 1) &&
          input(cand + 2) == input(s + 2) && input(cand + 3) == input(s + 3)) {
        emitLiteral(lit, s)
        var m = 4
        while (s + m < end && input(cand + m) == input(s + m)) m += 1
        emitCopy(s - cand, m)
        s += m
        lit = s
      } else s += 1
    }
    emitLiteral(lit, end)
    out.toByteArray
  }

  /** Raw snappy block decompress, budget/size-strict. */
  def decompressBlock(block: Array[Byte]): Array[Byte] = {
    var p = 0
    def u8(): Int = {
      if (p >= block.length) bad("truncated snappy block")
      val b = block(p) & 0xff; p += 1; b
    }
    // varint32 declared length
    var declared = 0L
    var shift = 0
    var more = true
    while (more) {
      if (shift > 31) bad("snappy length varint too long")
      val b = u8()
      declared |= (b & 0x7fL) << shift
      shift += 7
      more = (b & 0x80) != 0
    }
    if (declared > graft.core.Budget.maxInflatedBytes)
      throw new Refusal("too_large", s"snappy block declares $declared bytes past the budget")
    if (declared > Int.MaxValue - 8) throw new Refusal("too_large", "snappy block > 2 GiB")
    val n = declared.toInt
    val out = new Array[Byte](n)
    var o = 0
    while (p < block.length) {
      val tag = u8()
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            // accumulate in Long: 4 extra bytes FF FF FF FF would wrap an
            // Int to -1 then +1 to 0 and slip past the guard as an empty
            // literal, where reference decoders refuse the block
            val extra = len - 60
            var acc = 0L
            var i = 0
            while (i < extra) { acc |= u8().toLong << (8 * i); i += 1 }
            acc += 1
            if (acc < 1 || acc > Int.MaxValue) bad("literal length overflow")
            len = acc.toInt
          }
          if (p + len > block.length) bad("literal overruns block")
          if (o + len > n) bad("literal overruns declared length")
          System.arraycopy(block, p, out, o, len)
          p += len; o += len
        case 1 => // copy, 1-byte offset
          val len = ((tag >>> 2) & 0x7) + 4
          val offset = ((tag >>> 5) << 8) | u8()
          copy(out, o, offset, len, n); o += len
        case 2 => // copy, 2-byte LE offset
          val len = (tag >>> 2) + 1
          val offset = u8() | (u8() << 8)
          copy(out, o, offset, len, n); o += len
        case _ => // copy, 4-byte LE offset
          val len = (tag >>> 2) + 1
          val offset = u8().toLong | (u8().toLong << 8) |
            (u8().toLong << 16) | (u8().toLong << 24)
          if (offset > Int.MaxValue) bad("copy offset > 2 GiB")
          copy(out, o, offset.toInt, len, n); o += len
      }
    }
    if (o != n) bad(s"snappy block produced $o of declared $n bytes")
    out
  }

  private def copy(out: Array[Byte], o: Int, offset: Int, len: Int, n: Int): Unit = {
    if (offset <= 0 || offset > o) bad("copy offset before output start")
    if (o + len > n) bad("copy overruns declared length")
    var i = 0
    while (i < len) { out(o + i) = out(o + i - offset); i += 1 } // overlap-safe
  }

  // ----------------------------------------------------- framing format

  /** One deterministic framed stream: stream identifier + 64 KiB chunks,
    * each compressed when that wins, with masked CRC32C of the plain
    * bytes (the framing spec's recommended layout).
    */
  def compress(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    out.write(StreamId, 0, StreamId.length)
    var off = 0
    while (off < bytes.length) {
      val len = math.min(MaxChunk, bytes.length - off)
      val crc = maskedCrc(bytes, off, len)
      val block = compressBlock(bytes, off, len)
      val (ty, body, bodyLen) =
        if (block.length < len) (0x00, block, block.length)
        else (0x01, bytes, len)
      val chunkLen = 4 + bodyLen
      out.write(ty)
      out.write(chunkLen & 0xff); out.write((chunkLen >> 8) & 0xff)
      out.write((chunkLen >> 16) & 0xff)
      out.write(crc & 0xff); out.write((crc >> 8) & 0xff)
      out.write((crc >> 16) & 0xff); out.write((crc >> 24) & 0xff)
      if (ty == 0x00) out.write(body, 0, bodyLen) else out.write(bytes, off, len)
      off += len
    }
    out.toByteArray
  }

  def decompressSafe(bytes: Array[Byte]): Either[String, Array[Byte]] =
    Refusal.attempt(decompress(bytes))

  /** Strict framed decompress: stream id, chunk walk, CRC32C per data
    * chunk, reserved-unskippable refusal, padding/skippable skipped.
    */
  def decompress(bytes: Array[Byte]): Array[Byte] = {
    if (!isSnappyFramed(bytes))
      throw new Refusal("bad_magic", "not a snappy framed stream")
    val cap = graft.core.Budget.maxInflatedBytes
    val out = new java.io.ByteArrayOutputStream(math.min(bytes.length.toLong * 3, 1 << 20).toInt)
    var p = StreamId.length
    while (p < bytes.length) {
      if (p + 4 > bytes.length) bad("truncated chunk header")
      val ty = bytes(p) & 0xff
      val len = (bytes(p + 1) & 0xff) | ((bytes(p + 2) & 0xff) << 8) |
        ((bytes(p + 3) & 0xff) << 16)
      p += 4
      if (p + len > bytes.length) bad("chunk overruns stream")
      ty match {
        case 0x00 | 0x01 => // compressed | uncompressed data
          if (len < 4) bad("data chunk shorter than its CRC")
          val storedCrc = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
            ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
          val data =
            if (ty == 0x00)
              decompressBlock(java.util.Arrays.copyOfRange(bytes, p + 4, p + len))
            else java.util.Arrays.copyOfRange(bytes, p + 4, p + len)
          if (data.length > MaxChunk) bad("chunk exceeds 64 KiB uncompressed bound")
          if (maskedCrc(data, 0, data.length) != storedCrc) bad("chunk CRC32C mismatch")
          if (out.size().toLong + data.length > cap)
            throw new Refusal("too_large", s"snappy inflates past $cap bytes")
          out.write(data, 0, data.length)
        case 0xff => // stream identifier (restart / concatenation)
          if (len != 6 || !java.util.Arrays.equals(
              java.util.Arrays.copyOfRange(bytes, p, p + 6),
              java.util.Arrays.copyOfRange(StreamId, 4, 10)))
            bad("bad stream identifier chunk")
        case 0xfe => () // padding
        case t if t >= 0x80 => () // reserved skippable
        case t =>
          throw new Refusal("unsupported", f"reserved unskippable chunk 0x$t%02x")
      }
      p += len
    }
    out.toByteArray
  }
}
