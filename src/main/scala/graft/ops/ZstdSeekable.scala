package graft.ops

/** The zstd SEEKABLE format — the random-access layout for big
  * compressed shards (facebook/zstd `contrib/seekable_format`, a public
  * spec): the payload is split into independent zstd frames of bounded
  * decompressed size, and a final SKIPPABLE frame (magic 0x184D2A5E)
  * carries the seek table — per frame (compressed size, decompressed
  * size, optional 32-bit XXH64 checksum), closed by a 9-byte footer
  * (frame count LE32, descriptor byte with the checksum flag in bit 7,
  * seekable magic 0x8F92EAB1 LE32).
  *
  * This is the 100 TB answer to "read bytes [a, b) of a 2 GB shard":
  * binary-search the cumulative decompressed offsets and decompress ONLY
  * the covering frames — plain concatenated-frame zstd can only replay
  * from the start. Standard zstd decoders still read the whole archive
  * transparently (skippable frames skip), which [[ZstdSeekableSpec]]
  * pins through the ordinary [[Zstd.decompress]] path.
  *
  * Contract matches the codec family: strict bounded reader (table sizes
  * validated against the physical file before any frame is touched,
  * per-frame checksums verified on read), typed refusals
  * (`bad_magic` / `bad_frame` / `too_large`).
  */
object ZstdSeekable {

  import graft.core.Refusal

  private def bad(msg: String): Nothing = throw new Refusal("bad_frame", msg)

  private val SkippableMagic = 0x184d2a5eL
  private val SeekableMagic = 0x8f92eab1L

  final case class SeekTable(
      compressedSizes: Array[Int], decompressedSizes: Array[Int],
      checksums: Option[Array[Int]]) {
    def numFrames: Int = compressedSizes.length
    lazy val cumDecompressed: Array[Long] =
      decompressedSizes.scanLeft(0L)(_ + _)
    lazy val cumCompressed: Array[Long] =
      compressedSizes.scanLeft(0L)(_ + _)
    def totalDecompressed: Long = cumDecompressed.last
  }

  private lazy val xx = net.jpountz.xxhash.XXHashFactory.fastestInstance()

  private def xxh32of64(data: Array[Byte], off: Int, len: Int): Int =
    xx.hash64().hash(data, off, len, 0L).toInt // lowest 4 bytes of XXH64, seed 0

  // ------------------------------------------------------------- write --

  /** Build a seekable archive: frames of at most `frameSize` decompressed
    * bytes, checksummed seek table.
    */
  def compress(bytes: Array[Byte], frameSize: Int = 65536,
      level: Int = 3): Array[Byte] = {
    require(frameSize >= 1, "frame size")
    val nFramesL = if (bytes.isEmpty) 0L else (bytes.length - 1).toLong / frameSize + 1
    // the seek-table skippable frame's size field is LE32; past that the
    // length would silently truncate into a corrupt archive
    require(nFramesL * 12 + 9 <= 0xffffffffL, s"too many frames ($nFramesL) for a seekable table")
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 256)
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val nFrames = if (bytes.isEmpty) 0 else (bytes.length - 1) / frameSize + 1
    val comp = new Array[Int](nFrames)
    val decomp = new Array[Int](nFrames)
    val sums = new Array[Int](nFrames)
    var pos = 0
    var i = 0
    while (i < nFrames) {
      val n = math.min(frameSize, bytes.length - pos)
      val frame = Zstd.compress(java.util.Arrays.copyOfRange(bytes, pos, pos + n), level)
      out.write(frame, 0, frame.length)
      comp(i) = frame.length
      decomp(i) = n
      sums(i) = xxh32of64(bytes, pos, n)
      pos += n
      i += 1
    }
    // skippable frame with the seek table
    le32(SkippableMagic)
    le32(nFrames.toLong * 12 + 9)
    i = 0
    while (i < nFrames) {
      le32(comp(i).toLong & 0xffffffffL)
      le32(decomp(i).toLong & 0xffffffffL)
      le32(sums(i).toLong & 0xffffffffL)
      i += 1
    }
    le32(nFrames.toLong)
    out.write(0x80) // descriptor: checksums present
    le32(SeekableMagic)
    out.toByteArray
  }

  // -------------------------------------------------------------- read --

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Parse and validate the seek table of a seekable archive. */
  def seekTable(bytes: Array[Byte]): SeekTable = {
    if (bytes.length < 17) bad("shorter than a seekable footer")
    if (le32(bytes, bytes.length - 4) != SeekableMagic)
      throw new Refusal("bad_magic", "no seekable footer magic")
    val descriptor = bytes(bytes.length - 5) & 0xff
    if ((descriptor & 0x7c) != 0) bad("reserved descriptor bits set")
    val hasChecksums = (descriptor & 0x80) != 0
    val nFrames = le32(bytes, bytes.length - 9)
    if (nFrames > Int.MaxValue / 16) bad(s"frame count $nFrames")
    val entry = if (hasChecksums) 12 else 8
    val tableBytes = nFrames * entry + 9
    val skipStart = bytes.length - 8 - tableBytes
    if (skipStart < 0) bad("seek table larger than the file")
    if (le32(bytes, skipStart.toInt) != SkippableMagic)
      bad("seek table is not in a skippable frame")
    if (le32(bytes, skipStart.toInt + 4) != tableBytes)
      bad("skippable frame size disagrees with the footer")
    val n = nFrames.toInt
    val comp = new Array[Int](n)
    val decomp = new Array[Int](n)
    val sums = if (hasChecksums) Some(new Array[Int](n)) else None
    var p = skipStart.toInt + 8
    var totalComp = 0L
    var totalDecomp = 0L
    var i = 0
    while (i < n) {
      val c = le32(bytes, p)
      val d = le32(bytes, p + 4)
      if (c < 1 || c > Int.MaxValue) bad(s"frame $i compressed size $c")
      if (d < 0 || d > Int.MaxValue) bad(s"frame $i decompressed size $d")
      comp(i) = c.toInt
      decomp(i) = d.toInt
      totalComp += c
      totalDecomp += d
      sums.foreach(_(i) = le32(bytes, p + 8).toInt)
      p += entry
      i += 1
    }
    if (totalComp != skipStart)
      bad(s"table claims $totalComp compressed bytes, file holds $skipStart")
    if (totalDecomp > graft.core.Budget.maxInflatedBytes)
      throw new Refusal("too_large",
        s"seekable archive declares $totalDecomp bytes past the budget")
    SeekTable(comp, decomp, sums)
  }

  /** Decompress exactly the byte range [offset, offset+length) by
    * touching only the covering frames. Returns (bytes, framesRead).
    */
  def readRange(bytes: Array[Byte], table: SeekTable, offset: Long,
      length: Int): (Array[Byte], Int) = {
    // `offset > total - length` rather than `offset + length > total`:
    // the sum wraps for offsets near Long.MaxValue and would slip past
    // into an untyped AIOOBE from the non-Safe entry point
    if (offset < 0 || length < 0 || offset > table.totalDecompressed - length)
      bad(s"range [$offset, +$length) outside ${table.totalDecompressed}")
    val out = new Array[Byte](length)
    if (length == 0) return (out, 0)
    val cum = table.cumDecompressed
    // first frame whose cumulative end exceeds offset
    var lo = java.util.Arrays.binarySearch(cum, offset)
    if (lo < 0) lo = -lo - 2
    var framesRead = 0
    var written = 0
    var f = lo
    while (written < length) {
      val frameStart = table.cumCompressed(f)
      val frame = Zstd.decompress(java.util.Arrays.copyOfRange(
        bytes, frameStart.toInt, (frameStart + table.compressedSizes(f)).toInt))
      if (frame.length != table.decompressedSizes(f))
        bad(s"frame $f inflates to ${frame.length}, table says ${table.decompressedSizes(f)}")
      table.checksums.foreach { ss =>
        if (xxh32of64(frame, 0, frame.length) != ss(f))
          throw new Refusal("crc_mismatch", s"frame $f checksum mismatch")
      }
      framesRead += 1
      val src = math.max(0L, offset - cum(f)).toInt
      val n = math.min(frame.length - src, length - written)
      System.arraycopy(frame, src, out, written, n)
      written += n
      f += 1
    }
    (out, framesRead)
  }

  def seekTableSafe(bytes: Array[Byte]): Either[String, SeekTable] =
    Refusal.attempt(seekTable(bytes), "bad_frame")

  def readRangeSafe(bytes: Array[Byte], table: SeekTable, offset: Long,
      length: Int): Either[String, (Array[Byte], Int)] =
    Refusal.attempt(readRange(bytes, table, offset, length), "bad_frame")
}
